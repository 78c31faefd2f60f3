"""Legacy-dialect keyword semantics: array-form items + additionalItems
(≤2019-09, V/Applicator.pm:250-274), draft4 boolean
exclusiveMaximum/Minimum (V/Validation.pm:129-143), $recursiveRef
static-fallback (V/Core.pm:262-279), and $schema dialect gating
(V/Core.pm:134-196)."""

import pytest

from json_schema_modern_spark import Validator
from json_schema_modern_spark.spec.resolver import SpecError

D7 = "http://json-schema.org/draft-07/schema#"
D4 = "http://json-schema.org/draft-04/schema#"
D2019 = "https://json-schema.org/draft/2019-09/schema"


def _viol_locs(spark, spec, rows, ddl):
    df = spark.createDataFrame(rows, ddl)
    res = Validator(spec).validate(df, id_cols=[])
    return [
        sorted((r.instance_location, r.keyword_location)
               for r in res.violations.collect())
    ], res.flag()


def test_items_array_form_draft7(spark):
    spec = {"$schema": D7, "type": "object",
            "properties": {"v": {"items": [{"minimum": 1}, {"maximum": 0}],
                                 "additionalItems": {"minimum": 10}}}}
    v = Validator(spec)
    ok = spark.createDataFrame([([1, 0, 10, 99],)], "v array<bigint>")
    assert v.validate(ok, id_cols=[]).flag() is True
    bad = spark.createDataFrame([([0, 1, 5],)], "v array<bigint>")
    locs = {(r.instance_location, r.keyword_location)
            for r in v.validate(bad, id_cols=[]).violations.collect()}
    assert ("/v/0", "/properties/v/items/0/minimum") in locs
    assert ("/v/1", "/properties/v/items/1/maximum") in locs
    assert ("/v/2", "/properties/v/additionalItems/minimum") in locs
    assert ("/v", "/properties/v/additionalItems") in locs


def test_items_array_form_additionalitems_false(spark):
    spec = {"$schema": D2019, "type": "object",
            "properties": {"v": {"items": [{"minimum": 0}],
                                 "additionalItems": False}}}
    v = Validator(spec)
    assert v.validate(spark.createDataFrame([([5],)], "v array<bigint>"),
                      id_cols=[]).flag() is True
    res = v.validate(spark.createDataFrame([([5, 6],)], "v array<bigint>"), id_cols=[])
    assert res.flag() is False
    locs = {(r.instance_location, r.keyword_location)
            for r in res.violations.collect()}
    assert ("/v/1", "/properties/v/additionalItems") in locs


def test_items_array_form_rejected_in_2020_12(spark):
    spec = {"type": "object", "properties": {"v": {"items": [{"minimum": 0}]}}}
    with pytest.raises(SpecError, match="array form"):
        Validator(spec).validate(
            spark.createDataFrame([([1],)], "v array<bigint>"), id_cols=[])


def test_draft4_boolean_exclusive_maximum(spark):
    spec = {"$schema": D4, "type": "object",
            "properties": {"v": {"maximum": 10, "exclusiveMaximum": True}}}
    v = Validator(spec)
    df = spark.createDataFrame([(9,), (10,), (11,)], "v bigint")
    rows = v.validate(df, id_cols=["v"]).violations.collect()
    bad = {r.v for r in rows}
    assert bad == {10, 11}
    assert all("greater than or equal to 10" in r.error for r in rows)
    # boolean exclusiveMaximum outside draft4 is a spec error
    spec2020 = {"type": "object",
                "properties": {"v": {"maximum": 10, "exclusiveMaximum": True}}}
    with pytest.raises(SpecError):
        Validator(spec2020).validate(df, id_cols=["v"])


def test_draft4_legacy_ints(spark):
    """draft4: an integer is a number WITHOUT a fraction part as written —
    2.0 is NOT an integer (U.pm:141-147 legacy_ints); ≥draft6 accepts it."""
    d4 = {"$schema": D4, "type": "object",
          "properties": {"v": {"type": "integer"}}}
    modern = {"type": "object", "properties": {"v": {"type": "integer"}}}
    df = spark.createDataFrame([(2.0,), (2.5,)], "v double")
    assert [r._valid for r in Validator(d4).validate(df, id_cols=[])
            .annotated.select("_valid").collect()] == [False, False]
    assert [r._valid for r in Validator(modern).validate(df, id_cols=[])
            .annotated.select("_valid").collect()] == [True, False]


def test_draft4_plain_maximum_unchanged(spark):
    spec = {"$schema": D4, "type": "object",
            "properties": {"v": {"maximum": 10, "exclusiveMaximum": False}}}
    df = spark.createDataFrame([(10,), (11,)], "v bigint")
    rows = Validator(spec).validate(df, id_cols=["v"]).violations.collect()
    assert {r.v for r in rows} == {11}


def test_recursive_ref_static_fallback(spark):
    spec = {"$schema": D2019, "$recursiveAnchor": True, "type": "object",
            "properties": {"v": {"minimum": 0},
                           "child": {"$recursiveRef": "#"}}}
    v = Validator(spec)
    df = spark.createDataFrame(
        [(1, None), (-1, None)], "v bigint, child struct<v: bigint, child: string>")
    rows = v.validate(df, id_cols=["v"]).violations.collect()
    assert {r.v for r in rows} == {-1}
    # nested failure resolves through the $recursiveRef hop
    df2 = spark.createDataFrame(
        [(1, (-5, None))], "v bigint, child struct<v: bigint, child: string>")
    locs = {(r.instance_location, r.keyword_location)
            for r in v.validate(df2, id_cols=[]).violations.collect()}
    assert ("/child/v", "/properties/child/$recursiveRef/properties/v/minimum") in locs


def test_dynamic_ref_scope_override(spark):
    """The generic-list pattern: an OUTER $dynamicAnchor overrides the
    referenced resource's default through the dynamic scope
    (V/Core.pm:327-361) — the compile-time inlining chain reproduces the
    runtime scope exactly."""
    spec = {
        "$id": "https://ex.org/strict-list",
        "$defs": {
            "list": {"$id": "https://ex.org/list",
                     "type": "object",
                     "properties": {"v": {"$dynamicRef": "#T"}},
                     "$defs": {"default-T": {"$dynamicAnchor": "T"}}},
            "strict-T": {"$dynamicAnchor": "T", "maximum": 5},
        },
        "$ref": "https://ex.org/list",
    }
    df = spark.createDataFrame([(3,), (9,)], "v bigint")
    rows = Validator(spec).validate(df, id_cols=["v"]).violations.collect()
    assert [r.v for r in rows] == [9]          # outer T (maximum 5) won
    assert rows[0].keyword_location == "/$ref/properties/v/$dynamicRef/maximum"


def test_recursive_ref_outer_override(spark):
    """2019-09 $recursiveRef: the OUTERMOST $recursiveAnchor: true resource
    in scope wins (V/Core.pm:308-325)."""
    spec = {
        "$schema": D2019, "$id": "https://ex.org/outer",
        "$recursiveAnchor": True,
        "properties": {"extra": {"minimum": 100}},
        "$ref": "https://ex.org/inner",
        "$defs": {"inner": {"$id": "https://ex.org/inner",
                            "$recursiveAnchor": True,
                            "type": "object",
                            "properties": {"child": {"$recursiveRef": "#"}}}},
    }
    df = spark.createDataFrame(
        [(150, (50, None)), (150, (120, None))],
        "extra bigint, child struct<extra: bigint, child: string>")
    res = Validator(spec).validate(df, id_cols=[])
    rows = res.violations.collect()
    # child.extra validated against the OUTER root's minimum 100
    locs = {(r.instance_location, r.keyword_location) for r in rows}
    assert ("/child/extra",
            "/$ref/properties/child/$recursiveRef/properties/extra/minimum") in locs
    flags = [r._valid for r in res.annotated.select("_valid").collect()]
    assert flags == [False, True]


def test_recursive_ref_nonlocal_value(spark):
    """$recursiveRef accepts ANY URI-reference and resolves like $ref
    (Core.pm:310-325; the recursive-dynamic corpus points one at
    '#/$defs/true').  An UNRESOLVABLE target defers to an eval-time
    exception row — rows reaching it are invalid, compilation succeeds
    (lazy-resolution parity; docs/DEVIATIONS.md)."""
    good = {"$schema": D2019, "type": "object",
            "$defs": {"t": True},
            "properties": {"v": {"$recursiveRef": "#/$defs/t"}}}
    df = spark.createDataFrame([(1,)], "v bigint")
    res = Validator(good).validate(df, id_cols=[])
    assert res.flag() is True

    bad = {"$schema": D2019, "type": "object",
           "properties": {"v": {"$recursiveRef": "#/other"}}}
    res = Validator(bad).validate(df, id_cols=[])
    assert res.flag() is False
    errs = [r.error for r in res.violations.collect()]
    assert any("EXCEPTION" in e for e in errs)


def test_unknown_dialect_rejected(spark):
    spec = {"$schema": "https://example.org/not-a-dialect", "type": "object"}
    with pytest.raises(SpecError, match="dialect"):
        Validator(spec).validate(
            spark.createDataFrame([(1,)], "v bigint"), id_cols=[])


def test_draft4_legacy_id_resolution(spark):
    """draft4 `id` declares a resource base like `$id` (legacy Core list);
    only honored under the draft4 dialect so a modern schema with an `id`
    member is unaffected."""
    spec = {"$schema": D4, "type": "object",
            "definitions": {"pos": {"id": "https://ex.org/pos",
                                    "minimum": 0}},
            "properties": {"v": {"$ref": "https://ex.org/pos"}}}
    df = spark.createDataFrame([(5,), (-2,)], "v bigint")
    rows = Validator(spec).validate(df, id_cols=["v"]).violations.collect()
    assert [r.v for r in rows] == [-2]
    assert rows[0].keyword_location == "/properties/v/$ref/minimum"


def test_vocabulary_enforcement(spark):
    """$vocabulary (V/Core.pm:363-395): unknown REQUIRED vocabulary aborts
    compilation; optional unknown vocabularies are ignored."""
    df = spark.createDataFrame([(1,)], "v bigint")
    ok = {"$vocabulary": {
        "https://json-schema.org/draft/2020-12/vocab/validation": True,
        "https://example.org/custom": False}, "type": "object"}
    assert Validator(ok).validate(df, id_cols=[]).flag() is True
    bad = {"$vocabulary": {"https://example.org/custom": True}, "type": "object"}
    with pytest.raises(SpecError, match="vocabulary"):
        Validator(bad).validate(df, id_cols=[])
    # no draft defines a 2020-12 "format" vocabulary (2019-09 has one;
    # 2020-12 splits it into format-annotation / format-assertion)
    for vocab, known in (("2020-12/vocab/format", False),
                         ("2019-09/vocab/format", True),
                         ("2020-12/vocab/format-assertion", True)):
        spec = {"$vocabulary": {
            f"https://json-schema.org/draft/{vocab}": True}, "type": "object"}
        if known:
            assert Validator(spec).validate(df, id_cols=[]).flag() is True
        else:
            with pytest.raises(SpecError, match="not supported"):
                Validator(spec).validate(df, id_cols=[])


def test_traverse_shape_errors(spark):
    """Malformed keyword values fail at compile with the reference's
    assert_keyword_type message shape (U.pm:866-869), not as downstream
    expression errors."""
    df = spark.createDataFrame([(1,)], "v bigint")
    bad = [
        ({"properties": {"v": {"minLength": -1}}}, "non-negative integer"),
        ({"properties": {"v": {"minLength": "3"}}}, "non-negative integer"),
        ({"properties": {"v": {"maximum": "10"}}}, "number"),
        ({"properties": {"v": {"pattern": 5}}}, "string"),
        ({"properties": {"v": {"enum": "abc"}}}, "array"),
        ({"required": "v"}, "array of strings"),
        ({"properties": {"v": {"anyOf": []}}}, "non-empty array"),
        ({"properties": "nope"}, "object"),
        ({"dependentRequired": {"v": [1]}}, "object of arrays"),
    ]
    for spec, frag in bad:
        with pytest.raises(SpecError, match=frag.split()[0]):
            Validator({"type": "object", **spec}).validate(df, id_cols=[])


def test_strict_unknown_keyword(spark):
    """strict mode rejects unknown keywords (Modern.pm:104,817-820);
    default mode ignores them; x-* extension keywords always allowed."""
    from json_schema_modern_spark.compiler.column_compiler import CompileOptions

    df = spark.createDataFrame([(1,)], "v bigint")
    spec = {"type": "object", "properties": {"v": {"mnimum": 5}}}  # typo'd
    assert Validator(spec).validate(df, id_cols=[]).flag() is True  # ignored
    with pytest.raises(SpecError, match="unknown keyword"):
        Validator(spec, CompileOptions(strict=True)).validate(df, id_cols=[])
    ok = {"type": "object", "x-unique": ["v"]}
    assert Validator(ok, CompileOptions(strict=True)) \
        .validate(df, id_cols=[]).flag() is True
    # not a keyword of any draft
    with pytest.raises(SpecError, match="format_annotation"):
        Validator({"type": "object", "format_annotation": "email"},
                  CompileOptions(strict=True)).validate(df, id_cols=[])


def test_uneval_items_after_array_items(spark):
    """array-form items + additionalItems cover everything → a False
    unevaluatedItems never fires (2019-09 coverage semantics)."""
    spec = {"$schema": D2019, "type": "object",
            "properties": {"v": {"items": [{"minimum": 0}],
                                 "additionalItems": {"maximum": 99},
                                 "unevaluatedItems": False}}}
    v = Validator(spec)
    assert v.validate(spark.createDataFrame([([1, 50],)], "v array<bigint>"),
                      id_cols=[]).flag() is True


def test_draft7_ref_masks_siblings(spark):
    """drafts 4-7: $ref MASKS sibling keywords (V/Core.pm draft<=7
    dispatch) — the adjacent minimum must be ignored; from 2019-09 the
    siblings apply too."""
    df = spark.createDataFrame([(5,), (200,)], "v bigint")
    base = {"type": "object",
            "properties": {"v": {"$ref": "#/definitions/pos",
                                 "minimum": 100}},
            "definitions": {"pos": {"minimum": 0}}}
    legacy = Validator({"$schema": "http://json-schema.org/draft-07/schema#",
                        **base})
    res = legacy.validate(df, id_cols=["v"])
    assert res.flag() is True                      # minimum:100 masked
    modern = Validator({"$schema": "https://json-schema.org/draft/2019-09/schema",
                        "$defs": {"pos": {"minimum": 0}},
                        "type": "object",
                        "properties": {"v": {"$ref": "#/$defs/pos",
                                             "minimum": 100}}})
    bad = {r.v for r in modern.validate(df, id_cols=["v"]).violations.collect()}
    assert bad == {5}                              # sibling minimum applies


def test_draft7_dependencies_report_dispatched_location(spark):
    """Draft-7 `dependencies` compiles as dependentRequired (array form)
    and dependentSchemas (schema form), and its violations report at
    those keywords' locations (docs/DEVIATIONS.md)."""
    spec = {"$schema": D7, "type": "object",
            "dependencies": {"a": ["b"], "b": {"required": ["c"]}}}
    df = spark.createDataFrame([(1, 1, None, None), (2, None, 2, None)],
                               "id bigint, a bigint, b bigint, c bigint")
    rows = Validator(spec).validate(df, id_cols=["id"]).violations.collect()
    assert sorted((r.id, r.keyword, r.keyword_location) for r in rows) == [
        (1, "dependentRequired", "/dependentRequired"),
        (2, "required", "/dependentSchemas/b/required")]


def test_nested_dependent_kw_not_enforced_in_draft7(spark):
    """A literal dependentRequired nested INSIDE a draft-7 `dependencies`
    subschema is an unknown keyword in draft 7 and must stay inert: the
    dispatch that lets the synthesized dependent* through the dialect
    gate authorizes only the synthetic node, not its children."""
    spec = {"$schema": D7, "type": "object",
            "dependencies": {"a": {"dependentRequired": {"b": ["c"]}}}}
    v = Validator(spec)
    # a and b present, c absent: draft 7 ignores the nested keyword
    df = spark.createDataFrame([(1, 2, None)],
                               "a bigint, b bigint, c bigint")
    res = v.validate(df, id_cols=[])
    assert res.flag() is True, \
        [tuple(r) for r in res.violations.collect()]
    # same spec under 2019-09: the nested keyword is real and fires
    spec19 = dict(spec, **{"$schema": D2019})
    spec19["dependentSchemas"] = spec19.pop("dependencies")
    res19 = Validator(spec19).validate(df, id_cols=[])
    assert res19.flag() is False
