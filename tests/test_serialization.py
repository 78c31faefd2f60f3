"""Compiled-plan serialization round-trip — the reference's Sereal
FREEZE/THAW caching (Modern.pm:1259-1279, t/serialization.t, README.pod
"CACHING"): evaluator state (config + post-traverse resource index)
serializes; code (Perl coderefs / Spark Columns) does not, and re-derives
after thaw.  serialize→thaw→validate must equal a fresh compile."""

import json
import os

import pytest
from pyspark.sql import functions as F

from json_schema_modern_spark.compiler.column_compiler import CompileOptions
from json_schema_modern_spark.plans.pipeline import ValidationPipeline
from json_schema_modern_spark.spec.resolver import SchemaRegistry
from json_schema_modern_spark.validator import Validator

SPEC = {
    "$id": "https://example.com/tokens",
    "type": "object",
    "properties": {
        "doc_id": {"type": "string", "minLength": 1},
        "n_tok": {"$ref": "sizes#positive"},
        "source": {"enum": ["web", "books", "code", "wiki", "news"]},
    },
    "required": ["doc_id", "n_tok"],
}
EXTRA = {
    "$id": "https://example.com/sizes",
    "$defs": {"pos": {"$anchor": "positive", "type": "integer", "minimum": 1}},
}


def _df(spark):
    return spark.createDataFrame(
        [("a", 5, "web"), ("", 0, "books"), ("c", 7, "bad-source")],
        "doc_id string, n_tok long, source string",
    )


def _result_rows(v: Validator, df):
    res = v.validate(df, id_cols=["doc_id"])
    return sorted(
        (r.doc_id, r.keyword_location, r.keyword)
        for r in res.violations.collect()
    )


def test_frozen_keys_stable():
    # t/serialization.t: 'frozen object contains all the right keys'
    v = Validator(SPEC, CompileOptions(validate_formats=True),
                  extra_schemas=[EXTRA])
    frozen = v.freeze()
    assert sorted(frozen) == sorted(Validator._FROZEN_KEYS)
    # JSON-able end to end (the Sereal-encode analogue)
    json.dumps(frozen)
    # coderef table is dropped like the reference's _format_validations
    assert "callbacks" not in frozen["options"]


def test_thaw_evaluate_identity(spark, tmp_path):
    # t/serialization.t: thawed evaluator gives identical results
    df = _df(spark)
    fresh = Validator(SPEC, extra_schemas=[EXTRA])
    expected = _result_rows(fresh, df)
    assert expected  # the fixture rows do violate

    path = os.path.join(tmp_path, "plan.json")
    fresh.save(path)
    thawed = Validator.load(path)
    assert _result_rows(thawed, df) == expected


def test_thaw_skips_traverse(spark, tmp_path, monkeypatch):
    # the point of caching: no document re-walk after thaw
    path = os.path.join(tmp_path, "plan.json")
    Validator(SPEC, extra_schemas=[EXTRA]).save(path)
    thawed = Validator.load(path)

    walks = []
    orig = SchemaRegistry._walk

    def counting_walk(self, *a, **kw):
        walks.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(SchemaRegistry, "_walk", counting_walk)
    assert _result_rows(thawed, _df(spark))
    assert walks == []  # content-dedup fast path: zero traverse walks


def test_thaw_rejects_unknown_option():
    """A frozen plan whose options CompileOptions does not have (a retired
    one included) does not thaw."""
    frozen = Validator(SPEC, extra_schemas=[EXTRA]).freeze()
    frozen["options"]["no_such_option"] = True
    with pytest.raises(TypeError):
        Validator.thaw(frozen)


def test_thaw_rejects_foreign_blob(tmp_path):
    p = os.path.join(tmp_path, "bogus.json")
    with open(p, "w") as f:
        json.dump({"engine": "something_else"}, f)
    with pytest.raises(ValueError):
        Validator.load(p)


def test_pipeline_resume_thaws_persisted_plan(spark, tmp_path, monkeypatch):
    # run once with a workdir → plan_<fp>.json lands next to the lineage;
    # resume_from rebuilds the pipeline with NO spec in hand and no
    # traverse walk, and skips the already-done buckets
    wd = str(tmp_path / "ckpt")
    df = _df(spark)
    pipe = ValidationPipeline(SPEC, workdir=wd, n_buckets=4,
                              extra_schemas=[EXTRA])
    r1 = pipe.run(spark, df, snapshot_id="snap1")
    fp = pipe.validator.compile_for(
        df.withColumn("_bucket", F.lit(0))).fingerprint
    assert os.path.exists(os.path.join(wd, f"plan_{fp}.json"))
    n_viols = r1.violations.count()
    assert n_viols > 0

    resumed = ValidationPipeline.resume_from(wd)
    assert resumed.n_buckets == 4
    assert resumed.validator._frozen_index is not None

    walks = []
    orig = SchemaRegistry._walk

    def counting_walk(self, *a, **kw):
        walks.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(SchemaRegistry, "_walk", counting_walk)
    r2 = resumed.run(spark, df, snapshot_id="snap1")
    assert walks == []
    # all buckets already done: nothing reprocessed, same violations visible
    assert r2.buckets_done == 0
    assert r2.violations.count() == n_viols
