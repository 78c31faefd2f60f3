"""Tiny pure-Python JSON Schema evaluator — the differential-testing oracle.

Implements the draft2020-12 keyword subset the Spark compiler supports,
with per-document recursive semantics exactly like the reference
(_evaluate_subschema, /root/reference/lib/JSON/Schema/Modern.pm:691-856):
keywords apply only when the instance type matches, integer ⊂ number,
2.0 is an integer, `if` errors never surface, `not` discards child errors,
anyOf suppresses branch errors on success.

This is NOT the engine — it exists so property-based tests can compare the
set-oriented Spark evaluation against an independent row-at-a-time
implementation on randomly generated (spec, instance) pairs
(tests/test_differential.py).  No Spark imports.
"""

from __future__ import annotations

import re
from typing import Any


def json_type(v: Any) -> str:
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "integer"
    if isinstance(v, float):
        return "number"
    if isinstance(v, str):
        return "string"
    if isinstance(v, list):
        return "array"
    if isinstance(v, dict):
        return "object"
    raise TypeError(f"unsupported instance type {type(v)}")


def _type_matches(v: Any, want: str) -> bool:
    t = json_type(v)
    if t == want:
        return True
    if want == "number" and t == "integer":
        return True
    if want == "integer" and t == "number" and float(v).is_integer():
        return True  # 2.0 is an integer (Utilities.pm:152-156)
    return False


def evaluate(schema: Any, instance: Any) -> bool:
    """True iff `instance` validates against `schema` (flag output)."""
    return _eval(schema, instance)[0]


def _eval(schema: Any, instance: Any) -> tuple[bool, frozenset, frozenset]:
    """(valid, evaluated_property_names, evaluated_item_indices) — the
    annotation-tracking core: property/item coverage is collected from
    SUCCESSFUL subschemas only (U.pm:823-829) and consumed by
    unevaluatedProperties/unevaluatedItems exactly like the reference's
    runtime annotations (V/Unevaluated.pm:41-144)."""
    empty = frozenset()
    if schema is True or schema == {}:
        return True, empty, empty
    if schema is False:
        return False, empty, empty

    t = json_type(instance)
    valid = True
    names: set = set()
    idxs: set = set()

    def child(s: Any, inst: Any) -> bool:
        return _eval(s, inst)[0]

    def merge_if_ok(s: Any, inst: Any) -> bool:
        ok, n, i = _eval(s, inst)
        if ok:
            names.update(n)
            idxs.update(i)
        return ok

    fail = (False, empty, empty)

    if "type" in schema:
        wants = schema["type"]
        wants = wants if isinstance(wants, list) else [wants]
        if not any(_type_matches(instance, w) for w in wants):
            return fail

    if t in ("integer", "number") and not isinstance(instance, bool):
        if "minimum" in schema and not instance >= schema["minimum"]:
            return fail
        if "maximum" in schema and not instance <= schema["maximum"]:
            return fail
        if "exclusiveMinimum" in schema and not instance > schema["exclusiveMinimum"]:
            return fail
        if "exclusiveMaximum" in schema and not instance < schema["exclusiveMaximum"]:
            return fail
        if "multipleOf" in schema:
            from decimal import Decimal

            q = Decimal(str(instance)) / Decimal(str(schema["multipleOf"]))
            if q != q.to_integral_value():
                return fail

    if t == "string":
        if "minLength" in schema and len(instance) < schema["minLength"]:
            return fail
        if "maxLength" in schema and len(instance) > schema["maxLength"]:
            return fail
        if "pattern" in schema and not re.search(schema["pattern"], instance):
            return fail

    if "enum" in schema and not any(_deep_eq(instance, m) for m in schema["enum"]):
        return fail
    if "const" in schema and not _deep_eq(instance, schema["const"]):
        return fail

    if t == "array":
        if "minItems" in schema and len(instance) < schema["minItems"]:
            return fail
        if "maxItems" in schema and len(instance) > schema["maxItems"]:
            return fail
        if schema.get("uniqueItems") is True:
            for i in range(len(instance)):
                for j in range(i + 1, len(instance)):
                    if _deep_eq(instance[i], instance[j]):
                        return fail
        n_prefix = 0
        if "prefixItems" in schema:
            subs = schema["prefixItems"]
            n_prefix = len(subs)
            for i, s in enumerate(subs):
                if i < len(instance) and not child(s, instance[i]):
                    return fail
            idxs.update(range(min(n_prefix, len(instance))))
        if "items" in schema:
            items = schema["items"]
            if isinstance(items, list):
                # ≤2019-09 array form: positional + additionalItems rest
                n_prefix = len(items)
                for i, s in enumerate(items):
                    if i < len(instance) and not child(s, instance[i]):
                        return fail
                idxs.update(range(min(n_prefix, len(instance))))
                if "additionalItems" in schema:
                    for x in instance[n_prefix:]:
                        if not child(schema["additionalItems"], x):
                            return fail
                    idxs.update(range(n_prefix, len(instance)))
            else:
                for x in instance[n_prefix:]:
                    if not child(items, x):
                        return fail
                idxs.update(range(n_prefix, len(instance)))
        # min/maxContains do nothing without `contains` (evaluated inside
        # _eval_keyword_contains, V/Applicator.pm:357-405)
        if "contains" in schema:
            matching = [i for i, x in enumerate(instance)
                        if child(schema["contains"], x)]
            min_c = schema.get("minContains", 1)
            if len(matching) < (min_c if min_c is not None else 1) and min_c != 0:
                return fail
            # matched indices are evaluated (matched-index annotation)
            idxs.update(matching)
            if "maxContains" in schema and len(matching) > schema["maxContains"]:
                return fail
            if "minContains" in schema and len(matching) < min_c:
                return fail

    if t == "object":
        if "required" in schema and any(k not in instance for k in schema["required"]):
            return fail
        if "minProperties" in schema and len(instance) < schema["minProperties"]:
            return fail
        if "maxProperties" in schema and len(instance) > schema["maxProperties"]:
            return fail
        if "dependentRequired" in schema:
            for p, deps in schema["dependentRequired"].items():
                if p in instance and any(d not in instance for d in deps):
                    return fail
        if "dependentSchemas" in schema:
            for p, s in schema["dependentSchemas"].items():
                if p in instance and not merge_if_ok(s, instance):
                    return fail
        if "properties" in schema:
            for name, s in schema["properties"].items():
                if name in instance:
                    if not child(s, instance[name]):
                        return fail
                    names.add(name)
        if "patternProperties" in schema:
            for pat, s in schema["patternProperties"].items():
                for name, v in instance.items():
                    if re.search(pat, name):
                        if not child(s, v):
                            return fail
                        names.add(name)
        if "additionalProperties" in schema:
            matched = set(schema.get("properties", {}))
            pats = list(schema.get("patternProperties", {}))
            for name, v in instance.items():
                if name in matched or any(re.search(p, name) for p in pats):
                    continue
                if not child(schema["additionalProperties"], v):
                    return fail
                names.add(name)
        if "propertyNames" in schema:
            for name in instance:
                if not child(schema["propertyNames"], name):
                    return fail

    if "allOf" in schema:
        for s in schema["allOf"]:
            if not merge_if_ok(s, instance):
                return fail
    if "anyOf" in schema:
        if not any([merge_if_ok(s, instance) for s in schema["anyOf"]]):
            return fail
    if "oneOf" in schema:
        results = [_eval(s, instance) for s in schema["oneOf"]]
        if sum(ok for ok, _, _ in results) != 1:
            return fail
        for ok, n, i in results:
            if ok:
                names.update(n)
                idxs.update(i)
    if "not" in schema and child(schema["not"], instance):
        return fail
    if "if" in schema:
        if_ok = merge_if_ok(schema["if"], instance)
        branch = "then" if if_ok else "else"
        if branch in schema and not merge_if_ok(schema[branch], instance):
            return fail

    # registered custom vocabularies (add_vocabulary seam) — python-tier
    # hooks run with the same type gating as the Spark compiler
    from json_schema_modern_spark.spec import vocabulary as _vocab

    if _vocab.has_vocabularies():
        for kw, (_voc, ks) in _vocab.registered_keywords().items():
            if kw not in schema or ks.evaluate is None:
                continue
            if ks.types is not None and not (
                    t in ks.types or (t == "integer" and "number" in ks.types)):
                continue
            if not ks.evaluate(schema[kw], instance):
                return fail

    # unevaluated* run LAST, over the complement of everything collected
    # in this schema's scope (V/Applicator.pm:37-45 ordering)
    if "unevaluatedProperties" in schema and t == "object":
        for name, v in instance.items():
            if name in names:
                continue
            if not child(schema["unevaluatedProperties"], v):
                return fail
        names.update(instance.keys())
    if "unevaluatedItems" in schema and t == "array":
        for i, x in enumerate(instance):
            if i in idxs:
                continue
            if not child(schema["unevaluatedItems"], x):
                return fail
        idxs.update(range(len(instance)))

    return True, frozenset(names), frozenset(idxs)


def _deep_eq(a: Any, b: Any) -> bool:
    """Type-strict deep equality (is_equal, Utilities.pm:242-299):
    booleans ≠ numbers, integer == equal-valued float, arrays ordered,
    objects unordered."""
    ta, tb = json_type(a), json_type(b)
    if {ta, tb} == {"integer", "number"} or ta == tb == "number" or ta == tb == "integer":
        return float(a) == float(b)
    if ta != tb:
        return False
    if ta == "array":
        return len(a) == len(b) and all(_deep_eq(x, y) for x, y in zip(a, b))
    if ta == "object":
        return a.keys() == b.keys() and all(_deep_eq(v, b[k]) for k, v in a.items())
    return a == b
