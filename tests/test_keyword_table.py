"""The keyword table (``spec.keywords``) is the one inventory both tiers
walk: the Spark compiler's and the python tier's handler maps name only
table keywords, and a keyword that a draft does not define is ignored by
every evaluation path of a spec in that draft."""

import json

import pytest

from json_schema_modern_spark import Validator
from json_schema_modern_spark.compiler.column_compiler import (
    _DIALECT_URIS,
    HANDLERS as COMPILE_HANDLERS,
)
from json_schema_modern_spark.pyeval.full import (
    HANDLERS as PY_HANDLERS,
    PyEvaluator,
)
from json_schema_modern_spark.spec.keywords import BUILTIN_KEYWORDS, KEYWORDS

# cross-row checks the pipeline runs over the whole table: no per-document
# meaning, so the python tier has no handler for them
SINGLE_TIER = {"x-unique", "x-ref", "x-drift"}

URIS = {d: uri for uri, d in _DIALECT_URIS.items()}     # dialect -> $schema
ROW_DDL = "a bigint, s string, arr array<bigint>, m map<string,bigint>"


def test_handler_maps_name_only_table_keywords():
    assert set(COMPILE_HANDLERS) <= BUILTIN_KEYWORDS
    assert set(PY_HANDLERS) <= BUILTIN_KEYWORDS


def test_every_compiled_row_has_a_python_handler():
    """An asserting row the compiler handles is evaluated by the python
    tier too, unless it is a cross-row check; annotation rows assert
    nothing, and the python tier collects no annotations."""
    for k in KEYWORDS:
        if k.annotation:
            continue
        if k.name in COMPILE_HANDLERS:
            assert k.name in PY_HANDLERS or k.name in SINGLE_TIER, k.name
    assert set(PY_HANDLERS) <= set(COMPILE_HANDLERS)
    assert SINGLE_TIER <= set(COMPILE_HANDLERS) - set(PY_HANDLERS)


def _cell(dialect, keyword, body, inst, valid, later):
    return pytest.param(dialect, body, inst, valid, later,
                        id=f"draft{dialect}-{keyword}")


# (dialect, spec body, instance, valid, a later dialect defining the keyword)
CELLS = [
    _cell("4", "const", {"properties": {"a": {"const": 1}}}, {"a": 2}, True, "6"),
    _cell("4", "contains", {"properties": {"arr": {"contains": {"minimum": 10}}}},
          {"arr": [1]}, True, "6"),
    _cell("4", "propertyNames",
          {"properties": {"m": {"propertyNames": {"pattern": "^z"}}}},
          {"m": {"k1": 1}}, True, "6"),
    _cell("6", "if-then",
          {"properties": {"a": {"if": {"minimum": 0}, "then": {"maximum": 0}}}},
          {"a": 5}, True, "7"),
    _cell("7", "unevaluatedProperties",
          {"properties": {"a": {}}, "unevaluatedProperties": False},
          {"a": 1, "s": "x"}, True, "2019-09"),
    _cell("7", "unevaluatedItems",
          {"properties": {"arr": {"unevaluatedItems": False}}},
          {"arr": [1]}, True, "2019-09"),
    _cell("7", "minContains",
          {"properties": {"arr": {"contains": {"minimum": 0}, "minContains": 2}}},
          {"arr": [1]}, True, "2019-09"),
    _cell("7", "maxContains",
          {"properties": {"arr": {"contains": {"minimum": 0}, "maxContains": 1}}},
          {"arr": [1, 2]}, True, "2019-09"),
    # minContains: 0 does not make a draft-7 contains pass trivially
    _cell("7", "minContains-0",
          {"properties": {"arr": {"contains": {"minimum": 10}, "minContains": 0}}},
          {"arr": [1]}, False, "2019-09"),
]


@pytest.mark.parametrize("dialect,body,inst,valid,later", CELLS)
def test_undefined_keyword_ignored_on_every_path(spark, dialect, body, inst,
                                                 valid, later):
    spec = {"$schema": URIS[dialect], **body}
    row = (inst.get("a"), inst.get("s"), inst.get("arr"), inst.get("m"))
    typed = Validator(spec).validate(
        spark.createDataFrame([row], ROW_DDL), id_cols=[])
    got = {"typed": typed.annotated.first()["_valid"]}
    docs = spark.createDataFrame([(0, json.dumps(inst))], "rid int, payload string")
    for tier in ("python", "hybrid"):
        res = Validator(spec).validate_json_strings(
            docs, "payload", id_cols=["rid"], tier=tier)
        got[tier] = res.annotated.first()["_valid"]
    got["pyeval"] = PyEvaluator(dialect=dialect).evaluate(spec, inst)
    assert got == dict.fromkeys(got, valid)
    # where the draft defines the keyword, it decides the other way
    live = {"$schema": URIS[later], **body}
    assert PyEvaluator(dialect=later).evaluate(live, inst) is not valid
