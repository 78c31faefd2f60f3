"""Per-keyword evaluation callbacks — the reference's remaining extension
point (Modern.pm:652-663 traverse phase, :798-811 evaluate phase), test
cases mirroring /root/reference/t/callbacks.t.

Two tiers:
- pyeval (row tier): full reference semantics — callbacks fire after each
  SUCCESSFUL keyword evaluation at each data path, fire for keywords
  without assertion subs, and may emit errors that fail the keyword
  (short-circuit variant of 'callbacks that produce errors').
- Spark compiler (set tier): keywords evaluate once per column, not once
  per row, so the projection is a compile-time callback per (keyword,
  traversed location) — including locations reached through $ref.
"""

import pyspark.sql.types as T
import pytest

from json_schema_modern_spark.compiler.column_compiler import (
    CompileOptions,
    compile_spec,
)
from json_schema_modern_spark.pyeval.full import PyEvaluator

# t/callbacks.t 'evaluation callbacks' schema
RECURSIVE_SCHEMA = {
    "$defs": {
        "object_or_string": {
            "anyOf": [
                {
                    "type": "object",
                    "additionalProperties": {"$ref": "#/$defs/object_or_string"},
                },
                {"type": "string"},
            ],
        },
    },
    "contains": {"$ref": "#/$defs/object_or_string"},
}


def _ref_tracker():
    paths = []

    def cb(data, schema, state):
        paths.append(state.data_path)

    return paths, {"$ref": cb}


def test_ref_callback_sees_all_data_paths():
    # t/callbacks.t: 'identified all data paths where a $ref was used'
    ev = PyEvaluator()
    paths, cbs = _ref_tracker()
    ok = ev.evaluate(RECURSIVE_SCHEMA,
                     [{"a": {"b": {"c": {"d": "e"}}}}], callbacks=cbs)
    assert ok
    assert sorted(paths) == ["/0", "/0/a", "/0/a/b", "/0/a/b/c", "/0/a/b/c/d"]


def test_no_callbacks_on_failure():
    # t/callbacks.t: innermost $ref failed, so all enclosing $refs failed
    ev = PyEvaluator()
    paths, cbs = _ref_tracker()
    ok = ev.evaluate(RECURSIVE_SCHEMA, [{"a": {"b": 2}}], callbacks=cbs)
    assert not ok
    assert paths == []


def test_callbacks_only_from_successful_subschemas():
    # t/callbacks.t: element 1 fails `contains` subschema — its $refs
    # never fire; element 0's do
    ev = PyEvaluator()
    paths, cbs = _ref_tracker()
    ok = ev.evaluate(RECURSIVE_SCHEMA,
                     [{"a": {"b": "c"}}, {"x": {"y": 1}}], callbacks=cbs)
    assert ok
    assert sorted(paths) == ["/0", "/0/a", "/0/a/b"]


def test_callbacks_for_keywords_without_eval_subs():
    # t/callbacks.t 'callbacks for keywords without eval subs': inert
    # keywords fire when the subschema is reached; the untaken else-branch
    # fires too
    kws = ("$anchor", "$comment", "$defs", "$dynamicAnchor", "if", "then",
           "else", "$schema", "$vocabulary")
    seen: dict[str, int] = {}

    def count(data, schema, state):
        seen[state.keyword] = seen.get(state.keyword, 0) + 1

    ev = PyEvaluator()
    ok = ev.evaluate(
        {
            "$id": "my_weird_schema",
            "$schema": "https://json-schema.org/draft/2020-12/schema",
            "$vocabulary": {
                "https://json-schema.org/draft/2020-12/vocab/core": True},
            "$anchor": "my_anchor",
            "$comment": "my comment",
            "$defs": {"foo": True},
            "$dynamicAnchor": "dynamicanchor",
            "if": True, "then": True, "else": True,
        },
        "hello",
        callbacks={k: count for k in kws},
    )
    assert ok
    assert seen == {k: 1 for k in kws}


def test_callbacks_that_produce_errors():
    # t/callbacks.t 'callbacks that produce errors' (short_circuit
    # variant — this evaluator stops a subschema at its first failing
    # keyword): the callback error fails `type` under /properties/alpha
    ev = PyEvaluator()

    def bad_type(data, schema, state):
        state.error("this is a callback error")

    ok = ev.evaluate(
        {
            "properties": {"alpha": {"type": "number"}},
            "additionalProperties": {"type": "number"},
        },
        {"alpha": 1, "beta": "foo"},
        callbacks={"type": bad_type},
    )
    assert not ok
    assert ev.cb_errors == [{
        "instanceLocation": "/alpha",
        "keywordLocation": "/properties/alpha/type",
        "error": "this is a callback error",
    }]


def test_callback_keyword_location_through_ref():
    # keyword_location is the TRAVERSED path: the $ref hop appears as a
    # "/$ref" segment (reference keyword_location semantics)
    ev = PyEvaluator()
    locs = []

    def cb(data, schema, state):
        locs.append(state.keyword_location)

    ok = ev.evaluate(
        {"$defs": {"s": {"type": "string"}},
         "properties": {"p": {"$ref": "#/$defs/s"}}},
        {"p": "x"},
        callbacks={"type": cb},
    )
    assert ok
    assert locs == ["/properties/p/$ref/type"]


def test_callbacks_cleared_between_evaluations():
    ev = PyEvaluator()
    paths, cbs = _ref_tracker()
    ev.evaluate(RECURSIVE_SCHEMA, [{"a": "b"}], callbacks=cbs)
    n = len(paths)
    assert n > 0
    # second call without callbacks: nothing more recorded
    ev.evaluate_uri(ev.registry.add_schema(RECURSIVE_SCHEMA, "again"),
                    [{"a": "b"}])
    assert len(paths) == n


# ---- Spark compile tier -----------------------------------------------------


def test_compile_callbacks_per_keyword_location(spark):
    seen = []

    def cb(kw, kloc, akloc, value):
        seen.append((kw, kloc))

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("n_tok", T.LongType()),
    ])
    compile_spec(
        {
            "$defs": {"pos": {"type": "integer", "minimum": 0}},
            "properties": {"n_tok": {"$ref": "#/$defs/pos"}},
            "required": ["doc_id"],
        },
        schema,
        CompileOptions(callbacks={"minimum": cb, "required": cb, "type": cb}),
    )
    # $ref-reached keywords carry the /$ref hop in their traversed location
    assert ("minimum", "/properties/n_tok/$ref/minimum") in seen
    assert ("type", "/properties/n_tok/$ref/type") in seen
    assert ("required", "/required") in seen


def test_compile_callbacks_dependencies_at_own_location(spark):
    """A draft-7 ``dependencies`` compiles through the dependentRequired /
    dependentSchemas handlers, but only its own keyword and location fire:
    the schema has no dependent* keyword to report."""
    seen = []

    def cb(kw, kloc, akloc, value):
        seen.append((kw, kloc))

    schema = T.StructType([T.StructField("a", T.LongType()),
                           T.StructField("b", T.LongType())])
    compile_spec(
        {"$schema": "http://json-schema.org/draft-07/schema#",
         "dependencies": {"a": ["b"], "b": {"required": ["a"]}}},
        schema,
        CompileOptions(callbacks={k: cb for k in (
            "dependencies", "dependentRequired", "dependentSchemas")}),
    )
    assert seen == [("dependencies", "/dependencies")]


def test_draft4_boolean_exclusive_callbacks_fire():
    """Draft-4 boolean exclusiveMinimum/exclusiveMaximum are modifiers of
    minimum/maximum, but tooling hooked on those keywords must still see
    them fire after the modified check succeeds (parity with the
    per-keyword callback contract; round-5 advice fix)."""
    ev = PyEvaluator(dialect="4")
    seen = []

    def track(name):
        def cb(data, schema, state):
            seen.append(name)
        return cb

    schema = {
        "minimum": 1, "exclusiveMinimum": True,
        "maximum": 10, "exclusiveMaximum": True,
    }
    cbs = {k: track(k) for k in
           ("minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum")}
    assert ev.evaluate(schema, 5, callbacks=cbs)
    assert sorted(seen) == ["exclusiveMaximum", "exclusiveMinimum",
                            "maximum", "minimum"]
    # failing the exclusive bound fires nothing (callbacks only on success)
    seen.clear()
    assert not ev.evaluate(schema, 1, callbacks=cbs)
    assert seen == []
