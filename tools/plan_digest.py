"""Compiled-plan digests: one line per (spec, option set), so two versions
of the compiler can be shown to build the same Column trees.

Each line is ``<label> <option set> <digest>``; a corpus label is the
group's (``<dir>/<file>#<group>``), with ``/v:<decode type>`` appended for
a WRAPPED unit, so every label names one spec.  The digest covers the
plan's ``ok`` and ``viols`` Columns, its annotations (kloc, akloc,
keyword, value, guard), ``set_checks`` and ``static_exceptions`` — or the
``SpecError`` text when the spec does not compile.  Spark names lambda
variables from a JVM-wide counter (``x_2``, ``x_4``, ...), so they are
renumbered in order of first appearance before hashing.

Inputs: every Spark-tier acceptance case (the group specs of
``tests/test_acceptance_corpus.py::spark_tier_cases``), the flagship
token spec and the JSON-tier spec.  Option sets: the defaults, then each
of the boolean options below switched on by itself.  Only compiles: no
Spark job runs.

Usage: python tools/plan_digest.py > digests.txt   (diff two such files)
"""

from __future__ import annotations

import hashlib
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

OPTION_SETS = ("default", "collect_annotations", "validate_formats",
               "validate_content_schemas", "stringy_numbers", "strict",
               "assume_dense_arrays")
_LAMBDA_VAR = re.compile(r"\b([A-Za-z]+)_(\d+)\b")


def canonical(plan) -> str:
    """The plan as text, lambda variables renumbered."""
    def col(c) -> str:
        return "-" if c is None else str(c)

    parts = [col(plan.ok), col(plan.viols)]
    for a in plan.annotations:
        parts.append(json.dumps([a["kloc"], a["akloc"], a["keyword"], a["value"]],
                                default=str))
        parts += [col(a.get("value_col")), col(a["guard"])]
    parts += [f"{s.kind} {s.keyword_location} {json.dumps(s.params, default=str)}"
              for s in plan.set_checks]
    parts += list(plan.static_exceptions)
    names: dict[str, str] = {}
    return _LAMBDA_VAR.sub(
        lambda m: names.setdefault(m.group(0), f"{m.group(1)}_#{len(names)}"),
        "\n".join(parts))


def cases():
    """(label, Validator or its registration error, row schema) per input.
    Corpus rows arrive as ``rid`` plus the decoded document, as in
    ``validate_json_strings``."""
    import pyspark.sql.types as T

    from __spark_entry__ import _JSON_TIER_SPEC
    from bench import _flagship_spec
    from json_schema_modern_spark.compiler.column_compiler import (
        _spark_schema_from_spec,
    )
    from json_schema_modern_spark.sources.sequences import TOKEN_SCHEMA
    from json_schema_modern_spark.validator import Validator
    from tests.test_acceptance_corpus import spark_tier_cases

    yield "flagship", Validator(_flagship_spec()), TOKEN_SCHEMA
    yield "json-tier", Validator(_JSON_TIER_SPEC), \
        _spark_schema_from_spec(_JSON_TIER_SPEC)
    rid = T.StructField("rid", T.StringType())
    for make, label, decode in spark_tier_cases()[0]:
        try:
            v = make()
        except Exception as exc:             # registration failed
            yield label, exc, None
            continue
        schema = decode if decode is not None else _spark_schema_from_spec(v.spec)
        yield label, v, T.StructType([rid, *schema.fields])


def main() -> None:
    from json_schema_modern_spark.compiler.column_compiler import (
        CompileOptions, compile_spec,
    )
    from json_schema_modern_spark.session import get_spark

    get_spark(app_name="plan-digest", master="local[1]",
              extra_conf={"spark.driver.memory": "2g"})
    for label, v, schema in cases():
        for name in OPTION_SETS:
            if isinstance(v, Exception):
                text = f"{type(v).__name__}: {v}"
            else:
                opts = CompileOptions(**({} if name == "default" else {name: True}))
                try:
                    reg = v._registry() if v.extra_schemas else None
                    text = canonical(compile_spec(v.spec, schema, opts, reg))
                except Exception as exc:
                    text = f"{type(exc).__name__}: {exc}"
            print(label, name, hashlib.sha256(text.encode()).hexdigest()[:16])


if __name__ == "__main__":
    main()
