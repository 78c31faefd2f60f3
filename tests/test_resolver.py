"""Pure-Python traverse-phase tests: resource index, $ref resolution,
anchors, cycles, fingerprints (SURVEY.md §3.1 step 2; reference behavior in
Document.pm:64-230 and Modern.pm:858-874,1114-1174).  No Spark needed."""

import pytest

from json_schema_modern_spark.spec.resolver import (
    SchemaRegistry,
    SpecError,
    canonical_json,
    json_pointer_escape,
    json_pointer_unescape,
    spec_fingerprint,
)


def test_pointer_escape_roundtrip():
    for s in ["a/b", "a~b", "~/", "plain", "~01"]:
        assert json_pointer_unescape(json_pointer_escape(s)) == s


def test_canonical_json_object_order_insensitive():
    assert canonical_json({"b": 1, "a": [2, 1]}) == canonical_json({"a": [2, 1], "b": 1})
    # arrays stay order-sensitive (Utilities.pm:289-296)
    assert canonical_json({"a": [1, 2]}) != canonical_json({"a": [2, 1]})


def test_fingerprint_stable_and_distinct():
    s1 = {"type": "object", "properties": {"x": {"minimum": 1}}}
    s2 = {"properties": {"x": {"minimum": 1}}, "type": "object"}
    s3 = {"type": "object", "properties": {"x": {"minimum": 2}}}
    assert spec_fingerprint(s1) == spec_fingerprint(s2)
    assert spec_fingerprint(s1) != spec_fingerprint(s3)


def test_defs_ref_resolution():
    reg = SchemaRegistry()
    root = reg.add_schema({
        "$id": "https://ex.org/root",
        "$defs": {"pos": {"minimum": 0}},
        "properties": {"x": {"$ref": "#/defs-typo"}},
    })
    res = reg.resolve("#/$defs/pos", root)
    assert res.node == {"minimum": 0}


def test_anchor_resolution():
    reg = SchemaRegistry()
    root = reg.add_schema({
        "$id": "https://ex.org/root",
        "$defs": {"pos": {"$anchor": "positive", "minimum": 0}},
    })
    res = reg.resolve("#positive", root)
    assert res.node["minimum"] == 0


def test_nested_id_creates_new_resource():
    reg = SchemaRegistry()
    reg.add_schema({
        "$id": "https://ex.org/root",
        "$defs": {"sub": {"$id": "https://ex.org/sub", "maximum": 5}},
    })
    res = reg.resolve("https://ex.org/sub", "https://ex.org/root")
    assert res.node["maximum"] == 5


def test_relative_id_joins_base():
    reg = SchemaRegistry()
    reg.add_schema({
        "$id": "https://ex.org/dir/root.json",
        "$defs": {"sub": {"$id": "other.json", "maximum": 5}},
    })
    res = reg.resolve("https://ex.org/dir/other.json", "https://ex.org/dir/root.json")
    assert res.node["maximum"] == 5


def test_unresolvable_ref_raises():
    reg = SchemaRegistry()
    root = reg.add_schema({"$id": "https://ex.org/root"})
    with pytest.raises(SpecError):
        reg.resolve("#/nope/missing", root)


def test_bad_anchor_name_rejected():
    reg = SchemaRegistry()
    with pytest.raises(SpecError):
        reg.add_schema({"$id": "https://ex.org/r", "$defs": {
            "a": {"$anchor": "9bad", "minimum": 0}}})


def test_evaluate_replaces_document_at_same_uri():
    """One PyEvaluator evaluates each schema it is given: a document at
    the root URI an earlier one holds replaces it, its resources and
    anchors included, and re-adding the same document changes nothing."""
    from json_schema_modern_spark.pyeval.full import PyEvaluator

    ev = PyEvaluator()
    assert ev.evaluate({"type": "string"}, 1) is False
    assert ev.evaluate({"type": "integer"}, 1) is True

    def anchored(typ):
        return {"$defs": {"a": {"$anchor": "a", "type": typ}}, "$ref": "#a"}

    assert ev.evaluate(anchored("string"), 1) is False
    assert ev.evaluate(anchored("integer"), 1) is True
    assert ev.evaluate(anchored("integer"), 1) is True
    assert ev.evaluate(False, 1) is False
    assert ev.evaluate(anchored("integer"), 1) is True
    assert ev.evaluate({"$id": "https://ex.org/s", "$defs": {"n": {"$id": "n", "minimum": 3}},
                        "$ref": "n"}, 1) is False
    assert ev.evaluate({"$id": "https://ex.org/s", "$defs": {"n": {"$id": "n", "minimum": 0}},
                        "$ref": "n"}, 1) is True
