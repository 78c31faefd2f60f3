"""Custom vocabulary plug-in seam.

The reference lets callers register whole keyword vocabularies at runtime
(`add_vocabulary`, /root/reference/lib/JSON/Schema/Modern.pm:940-956): a
vocabulary class declares a URI, an evaluation order and a keyword list,
and supplies per-keyword traverse + evaluate subs which then participate
exactly like the built-in vocabularies (strict mode accepts the keywords,
metaschemas may REQUIRE the vocabulary URI).

This engine is two-tier, so a registered keyword carries up to two
implementations:

- ``compile``: the Spark data plane — ``(value, col, json_type) ->
  Column | None`` returning a boolean ok-predicate over present values
  (``None`` = keyword does not constrain this type, vacuously true).  The
  compiler wraps it with the same presence/null gating, violation row and
  keyword-location bookkeeping as built-in keywords.
- ``evaluate``: a per-document check, ``(value, instance) -> bool``.
  ``pyeval.evaluator`` (the differential oracle) calls it;
  ``pyeval.full.PyEvaluator`` — the python tier behind
  ``validate_json_strings(tier="python"|"hybrid")`` — does not, so rows
  that tier evaluates skip custom keywords (docs/DEVIATIONS.md).

Both hooks receive the RAW keyword value; shape validation belongs in the
optional ``traverse`` hook (the reference's _traverse_keyword_* layer),
called at compile time with ``(value) -> None`` and expected to raise
``ValueError`` on malformed keyword values.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from json_schema_modern_spark.spec.keywords import BUILTIN_KEYWORDS

__all__ = [
    "KeywordSpec", "CustomVocabulary", "register_vocabulary",
    "unregister_vocabulary", "registered_uris", "registered_keywords",
]


@dataclass(frozen=True)
class KeywordSpec:
    name: str
    # Spark tier: (value, col, json_type) -> ok Column or None (vacuous)
    compile: Callable[[Any, Any, str], Any] | None = None
    # python tier: (value, instance) -> bool
    evaluate: Callable[[Any, Any], bool] | None = None
    # traverse-phase value check: raise ValueError on malformed values
    traverse: Callable[[Any], None] | None = None
    error: str = "value is not valid against custom keyword"
    # restrict to these json types (None = all); the reference's keywords
    # gate on is_type the same way — wrong-type instances pass vacuously
    types: tuple[str, ...] | None = None


@dataclass(frozen=True)
class CustomVocabulary:
    uri: str
    keywords: tuple[KeywordSpec, ...] = field(default_factory=tuple)
    # between Content (4/5) and Unevaluated (7), like the reference's
    # default slot for add-on vocabularies
    evaluation_order: int = 6


_REGISTRY: dict[str, CustomVocabulary] = {}


def register_vocabulary(vocab: CustomVocabulary) -> None:
    """Register a custom vocabulary (reference: add_vocabulary,
    Modern.pm:940-956).  Its keywords become known to strict mode, its URI
    becomes a supported REQUIRED ``$vocabulary`` entry, and its compile /
    evaluate hooks run in evaluation_order after the built-in keywords.
    Keywords of the keyword table (spec.keywords) may not be overridden (the
    reference dies on vocabulary keyword collisions at registration)."""
    for ks in vocab.keywords:
        if ks.name in BUILTIN_KEYWORDS:
            raise ValueError(
                f"keyword {ks.name!r} is owned by a built-in vocabulary")
        for other_uri, other in _REGISTRY.items():
            if other_uri != vocab.uri and any(
                    k.name == ks.name for k in other.keywords):
                raise ValueError(
                    f"keyword {ks.name!r} is already registered by "
                    f"vocabulary {other_uri}")
    _REGISTRY[vocab.uri] = vocab


def unregister_vocabulary(uri: str) -> None:
    _REGISTRY.pop(uri, None)


def has_vocabularies() -> bool:
    """Fast emptiness probe for hot evaluation paths."""
    return bool(_REGISTRY)


def registered_uris() -> frozenset[str]:
    return frozenset(_REGISTRY)


def registered_keywords() -> dict[str, tuple[CustomVocabulary, KeywordSpec]]:
    """keyword name -> (vocabulary, spec), in evaluation_order then
    declaration order — the dispatch table for both tiers."""
    out: dict[str, tuple[CustomVocabulary, KeywordSpec]] = {}
    for voc in sorted(_REGISTRY.values(), key=lambda v: v.evaluation_order):
        for ks in voc.keywords:
            out[ks.name] = (voc, ks)
    return out
