"""Custom vocabulary plug-in (add_vocabulary seam, Modern.pm:940-956):
registered vocabularies participate in strict mode, $vocabulary
enforcement and BOTH evaluation tiers (Spark compiler + pyeval)."""

import pytest
from pyspark.sql import functions as F

from json_schema_modern_spark.compiler.column_compiler import (
    CompileOptions,
    SpecError,
    compile_spec,
)
from json_schema_modern_spark.pyeval.evaluator import evaluate
from json_schema_modern_spark.spec.vocabulary import (
    CustomVocabulary,
    KeywordSpec,
    register_vocabulary,
    unregister_vocabulary,
)

VOCAB_URI = "https://example.com/vocab/evenness"


def _even_vocab():
    return CustomVocabulary(
        uri=VOCAB_URI,
        keywords=(
            KeywordSpec(
                name="evenValue",
                compile=lambda v, col, jt: (col % 2 == 0) == F.lit(v),
                evaluate=lambda v, inst: (int(inst) % 2 == 0) == v,
                traverse=lambda v: (_ for _ in ()).throw(
                    ValueError("value is not a boolean"))
                if not isinstance(v, bool) else None,
                error="value evenness does not match",
                types=("number",),
            ),
        ),
    )


@pytest.fixture
def even_vocab():
    register_vocabulary(_even_vocab())
    yield
    unregister_vocabulary(VOCAB_URI)


def test_builtin_keyword_collision_rejected():
    with pytest.raises(ValueError, match="built-in"):
        register_vocabulary(CustomVocabulary(
            uri="https://example.com/vocab/bad",
            keywords=(KeywordSpec(name="maximum"),)))


def test_every_table_keyword_is_builtin(spark):
    """The keyword table is the one inventory: registration refuses each
    of its keywords, and strict mode accepts each one."""
    import pyspark.sql.types as T

    from json_schema_modern_spark.spec.keywords import BUILTIN_KEYWORDS

    sample = {
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "$id": "https://example.com/s", "id": "s", "$anchor": "a",
        "$dynamicAnchor": "a", "$ref": "#/$defs/none",
        "$dynamicRef": "#/$defs/none", "$recursiveRef": "#",
        "type": "object", "enum": [1], "pattern": "x", "format": "email",
        "contentEncoding": "base64", "contentMediaType": "application/json",
        "required": ["v"], "uniqueItems": True, "allOf": [{}], "anyOf": [{}],
        "oneOf": [{}], "prefixItems": [{}],
    }
    schema = T.StructType([T.StructField("v", T.LongType())])
    assert len(BUILTIN_KEYWORDS) > 60
    for kw in sorted(BUILTIN_KEYWORDS):
        with pytest.raises(ValueError, match="built-in"):
            register_vocabulary(CustomVocabulary(
                uri="https://example.com/vocab/bad",
                keywords=(KeywordSpec(name=kw),)))
        value = sample.get(kw, 1 if kw.startswith(("max", "min", "excl")) else {})
        compile_spec({kw: value}, schema, CompileOptions(strict=True))


def test_cross_vocabulary_collision_rejected(even_vocab):
    with pytest.raises(ValueError, match="already registered"):
        register_vocabulary(CustomVocabulary(
            uri="https://example.com/vocab/other",
            keywords=(KeywordSpec(name="evenValue"),)))
    # same-URI re-registration is a replace, not a clash
    register_vocabulary(_even_vocab())


def test_strict_mode_accepts_registered_keyword(spark, even_vocab):
    df = spark.range(1).select(F.col("id").cast("int").alias("n"))
    spec = {"properties": {"n": {"evenValue": True}}}
    compile_spec(spec, df.schema, CompileOptions(strict=True))
    unregister_vocabulary(VOCAB_URI)
    with pytest.raises(SpecError, match="unknown keyword"):
        compile_spec(spec, df.schema, CompileOptions(strict=True))
    register_vocabulary(_even_vocab())  # restore for fixture teardown


def test_required_vocabulary_uri_supported_when_registered(spark, even_vocab):
    df = spark.range(1).select(F.col("id").cast("int").alias("n"))
    spec = {"$vocabulary": {VOCAB_URI: True,
                            "https://json-schema.org/draft/2020-12/vocab/core": True}}
    compile_spec(spec, df.schema)
    unregister_vocabulary(VOCAB_URI)
    with pytest.raises(SpecError, match="not supported"):
        compile_spec(spec, df.schema)
    register_vocabulary(_even_vocab())


def test_traverse_hook_rejects_malformed_value(spark, even_vocab):
    df = spark.range(1).select(F.col("id").cast("int").alias("n"))
    with pytest.raises(SpecError, match="evenValue value is not a boolean"):
        compile_spec({"properties": {"n": {"evenValue": 3}}}, df.schema)


def test_spark_tier_custom_keyword(spark, even_vocab):
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, None)], "doc_id int, n int")
    plan = compile_spec({"properties": {"n": {"evenValue": True}}}, df.schema)
    bad = (df.withColumn("_v", plan.ok).filter(~F.col("_v"))
           .select("doc_id").collect())
    assert sorted(r.doc_id for r in bad) == [2]   # 3 is odd; NULL = absent

    viols = (df.select("doc_id", F.explode(plan.viols).alias("v"))
             .select("doc_id", "v.*").collect())
    assert len(viols) == 1
    v = viols[0]
    assert v.doc_id == 2
    assert v.keyword == "evenValue"
    assert v.keyword_location == "/properties/n/evenValue"
    assert v.instance_location == "/n"
    assert v.error == "value evenness does not match"


def test_spark_tier_type_gating(spark, even_vocab):
    # string column: types=("number",) makes the keyword vacuous
    df = spark.createDataFrame([("x",)], "s string")
    plan = compile_spec({"properties": {"s": {"evenValue": True}}}, df.schema)
    assert df.withColumn("_v", plan.ok).filter(~F.col("_v")).count() == 0


def test_pyeval_tier_custom_keyword(even_vocab):
    schema = {"properties": {"n": {"evenValue": True}}}
    assert evaluate(schema, {"n": 2})
    assert not evaluate(schema, {"n": 3})
    assert evaluate(schema, {"n": "odd-string-passes"})   # type-gated
    assert evaluate({"evenValue": False}, 3)
    assert not evaluate({"evenValue": False}, 2)


def test_both_tiers_agree(spark, even_vocab):
    rows = [(i, i) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id int, n int")
    plan = compile_spec({"properties": {"n": {"evenValue": False}}}, df.schema)
    spark_valid = {r.doc_id: r._v for r in df.withColumn("_v", plan.ok).collect()}
    for i, n in rows:
        assert spark_valid[i] == evaluate(
            {"properties": {"n": {"evenValue": False}}}, {"n": n}), i


def test_traverse_runs_in_unreferenced_defs_branch(even_vocab):
    # traverse-phase semantics: a malformed custom keyword value inside a
    # $defs branch no evaluation path reaches still invalidates the whole
    # document at add_schema time (Modern.pm _traverse; ADVICE r3)
    from json_schema_modern_spark.spec.resolver import SchemaRegistry
    from json_schema_modern_spark.spec.resolver import SpecError as RSpecError

    reg = SchemaRegistry()
    with pytest.raises(RSpecError, match="evenValue"):
        reg.add_schema(
            {"$defs": {"never": {"evenValue": "not-a-bool"}}},
            "https://example.com/unref")


def test_legacy_root_id_with_anchor_fragment():
    # drafts 4-7: root id "doc.json#name" (combined rebase+anchor) is the
    # same 'weird but valid' form _walk accepts on subschemas (ADVICE r3)
    from json_schema_modern_spark.spec.resolver import SchemaRegistry
    from json_schema_modern_spark.spec.resolver import SpecError as RSpecError

    reg = SchemaRegistry()
    uri = reg.add_schema({"id": "http://t.test/doc.json#legacyName",
                          "type": "integer"}, dialect="4")
    assert uri == "http://t.test/doc.json"
    res = reg.resolve("#legacyName", "http://t.test/doc.json")
    assert res.node["type"] == "integer"

    # still rejected on 2020-12 (root $id must be fragment-free there)
    reg2 = SchemaRegistry()
    with pytest.raises(RSpecError):
        reg2.add_schema({"$id": "http://t.test/doc.json#legacyName"},
                        dialect="2020-12")


def test_python_tier_skips_custom_keywords(even_vocab):
    """Documented deviation (docs/DEVIATIONS.md): the python tier walks
    the built-in keyword table only; the differential oracle applies the
    registered keyword."""
    from json_schema_modern_spark.pyeval.full import PyEvaluator

    spec = {"evenValue": True}
    assert evaluate(spec, 3) is False
    assert PyEvaluator().evaluate(spec, 3) is True
