"""The keyword table: the one inventory of the keywords this engine knows.

Both evaluation tiers walk it: the Spark compiler
(``compiler.column_compiler``) and the per-document python tier
(``pyeval.full.PyEvaluator``) each keep a handler map keyed by keyword
name, and take everything else — which keywords exist, their evaluation
order, the JSON types they assert on, the drafts that define them and the
shape their values must have — from here.  It is the counterpart of the
reference's per-vocabulary ``keywords`` lists and evaluation order
(Vocabulary.pm:27-35, V/*.pm).  No Spark imports.
"""

from __future__ import annotations

from typing import NamedTuple


class Keyword(NamedTuple):
    """One row of the keyword table.

    ``types``: the JSON types the keyword asserts on; on other types it is
    vacuously true (the ``return 1 if not is_type(...)`` guards in
    V/Validation.pm); None = every type.  ``dialects``: the drafts that
    define it (None = all); elsewhere it is an unknown keyword and ignored
    (the unknownKeyword corpus).  ``shape``: the traverse-phase check its
    value must pass (a key of the compiler's ``_SHAPES``), None = none.
    ``annotation``: the value is recorded as an annotation and asserts
    nothing (V/MetaData.pm, FormatAnnotation.pm).  ``subschemas``: where
    the value holds subschemas the registry walks — ``"schema"`` (the
    value is one), ``"list"`` or ``"map"`` (its elements / values are)."""

    name: str
    types: tuple[str, ...] | None = None
    dialects: tuple[str, ...] | None = None
    shape: str | None = None
    annotation: bool = False
    subschemas: str | None = None


_NUMBER, _STRING, _ARRAY, _OBJECT = ("number",), ("string",), ("array",), ("object",)
_D6 = ("6", "7", "2019-09", "2020-12")
_D7 = ("7", "2019-09", "2020-12")
_D2019 = ("2019-09", "2020-12")
_NNI = "non-negative integer"

# Evaluation order is table order: registered custom keywords follow it,
# and the compiler's fused map pass comes last (_Node.result).
KEYWORDS: tuple[Keyword, ...] = (
    *(Keyword(k, annotation=True) for k in (
        "title", "description", "default", "deprecated", "readOnly",
        "writeOnly", "examples")),
    Keyword("$ref", shape="string"),
    Keyword("$dynamicRef", dialects=("2020-12",), shape="string"),
    Keyword("$recursiveRef", dialects=("2019-09",)),
    Keyword("type"),
    Keyword("enum", shape="array"),
    Keyword("const", dialects=_D6),
    Keyword("multipleOf", _NUMBER),
    *(Keyword(k, _NUMBER, shape=s) for k, s in (
        ("maximum", "number"), ("exclusiveMaximum", "exclusive bound"),
        ("minimum", "number"), ("exclusiveMinimum", "exclusive bound"))),
    *(Keyword(k, _STRING, shape=_NNI) for k in ("maxLength", "minLength")),
    Keyword("pattern", _STRING, shape="string"),
    *(Keyword(k, _STRING, _D7, shape="string")
      for k in ("contentEncoding", "contentMediaType")),
    Keyword("contentSchema", dialects=_D2019, subschemas="schema"),
    Keyword("format", shape="string", annotation=True),
    Keyword("format", _STRING),
    *(Keyword(k, _ARRAY, shape=_NNI) for k in ("maxItems", "minItems")),
    Keyword("uniqueItems", _ARRAY, shape="boolean"),
    Keyword("prefixItems", _ARRAY, ("2020-12",), "non-empty array",
            subschemas="list"),
    Keyword("items", _ARRAY, subschemas="schema"),
    Keyword("additionalItems", _ARRAY, ("4", "6", "7", "2019-09"),
            subschemas="schema"),
    Keyword("contains", _ARRAY, _D6, subschemas="schema"),
    *(Keyword(k, dialects=_D2019, shape=_NNI)
      for k in ("maxContains", "minContains")),
    Keyword("required", _OBJECT, shape="array of strings"),
    Keyword("dependentRequired", _OBJECT, _D2019,
            shape="object of arrays of strings"),
    Keyword("dependentSchemas", _OBJECT, _D2019, "object", subschemas="map"),
    Keyword("dependencies", _OBJECT, ("4", "6", "7")),
    *(Keyword(k, _OBJECT, shape=_NNI) for k in ("maxProperties", "minProperties")),
    *(Keyword(k, _OBJECT, shape="object", subschemas="map")
      for k in ("properties", "patternProperties")),
    Keyword("additionalProperties", _OBJECT, subschemas="schema"),
    Keyword("propertyNames", _OBJECT, _D6, subschemas="schema"),
    *(Keyword(k, shape="non-empty array", subschemas="list")
      for k in ("allOf", "anyOf", "oneOf")),
    Keyword("not", subschemas="schema"),
    *(Keyword(k, dialects=_D7, subschemas="schema") for k in ("if", "then", "else")),
    Keyword("unevaluatedProperties", _OBJECT, _D2019, subschemas="schema"),
    Keyword("unevaluatedItems", _ARRAY, _D2019, subschemas="schema"),
    *(Keyword(k) for k in ("x-unique", "x-ref", "x-drift", "$schema", "$id", "id")),
    Keyword("$anchor", dialects=_D2019, shape="string"),
    Keyword("$dynamicAnchor", dialects=("2020-12",), shape="string"),
    Keyword("$recursiveAnchor", dialects=("2019-09",)),
    Keyword("$vocabulary", dialects=_D2019),
    Keyword("$defs", dialects=_D2019, shape="object", subschemas="map"),
    Keyword("definitions", shape="object", subschemas="map"),
    Keyword("$comment"),
)
BUILTIN_KEYWORDS = frozenset(k.name for k in KEYWORDS)
_DIALECTS = {k.name: k.dialects for k in KEYWORDS}


def defined(keyword: str, dialect: str) -> bool:
    """Does `dialect` define the table keyword `keyword`?"""
    d = _DIALECTS[keyword]
    return d is None or dialect in d
