"""`format` keyword validators as JVM-side Column predicates.

The reference implements these as per-string Perl subs
(/root/reference/lib/JSON/Schema/Modern/Vocabulary/FormatAssertion.pm:87-180).
Here each format compiles to a single `rlike` (plus a semantic guard where a
regex can't carry the calendar rules), so format assertion over a billion
rows stays inside whole-stage codegen — no Python in the loop.

Unknown formats validate successfully (annotation-only), matching the
default lenient behavior (FormatAnnotation.pm:47-85).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_DATE = r"\d{4}-(0[1-9]|1[0-2])-(0[1-9]|[12]\d|3[01])"
_TIME = r"([01]\d|2[0-3]):[0-5]\d:([0-5]\d|60)(\.\d+)?([Zz]|[+-]([01]\d|2[0-3]):[0-5]\d)"

FORMAT_REGEX: dict[str, str] = {
    "date": rf"^{_DATE}$",
    "time": rf"^{_TIME}$",
    "date-time": rf"^{_DATE}[Tt]{_TIME}$",
    # contiguous units only: days may only follow months, seconds only
    # follow minutes — P1Y2D / PT1H2S are invalid (the reference's nested
    # Y(M(D)?)? regex, FormatAssertion.pm:70-86); integer quantities only
    "duration": (
        r"^P(?:\d+W"
        r"|(?:\d+Y(?:\d+M(?:\d+D)?)?|\d+M(?:\d+D)?|\d+D)"
        r"(?:T(?:\d+H(?:\d+M(?:\d+S)?)?|\d+M(?:\d+S)?|\d+S))?"
        r"|T(?:\d+H(?:\d+M(?:\d+S)?)?|\d+M(?:\d+S)?|\d+S))$"
    ),
    "uuid": r"^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$",
    "ipv4": (
        r"^((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
        r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)$"
    ),
    "ipv6": (
        r"^(([0-9a-fA-F]{1,4}:){7}[0-9a-fA-F]{1,4}|"
        r"([0-9a-fA-F]{1,4}:){1,7}:|"
        r"([0-9a-fA-F]{1,4}:){1,6}:[0-9a-fA-F]{1,4}|"
        r"([0-9a-fA-F]{1,4}:){1,5}(:[0-9a-fA-F]{1,4}){1,2}|"
        r"([0-9a-fA-F]{1,4}:){1,4}(:[0-9a-fA-F]{1,4}){1,3}|"
        r"([0-9a-fA-F]{1,4}:){1,3}(:[0-9a-fA-F]{1,4}){1,4}|"
        r"([0-9a-fA-F]{1,4}:){1,2}(:[0-9a-fA-F]{1,4}){1,5}|"
        r"[0-9a-fA-F]{1,4}:((:[0-9a-fA-F]{1,4}){1,6})|"
        r":((:[0-9a-fA-F]{1,4}){1,7}|:))$"
    ),
    "hostname": (
        r"^(?=.{1,253}$)([a-zA-Z0-9]([a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?)"
        r"(\.[a-zA-Z0-9]([a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?)*$"
    ),
    "email": r"^[a-zA-Z0-9.!#$%&'*+/=?^_`{|}~-]+@[a-zA-Z0-9]([a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?(\.[a-zA-Z0-9]([a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?)*$",
    "json-pointer": r"^(/([^/~]|~[01])*)*$",
    "relative-json-pointer": r"^(0|[1-9]\d*)(#|(/([^/~]|~[01])*)*)$",
    # strict RFC 3986 character/shape class (matches formats_py; the
    # reference delegates to Data::Validate::URI)
    "uri": (r"^[a-zA-Z][a-zA-Z0-9+.-]*:"
            r"(?:[A-Za-z0-9\-._~:/?\[\]@!$&'()*+,;=]|%[0-9A-Fa-f]{2})*"
            r"(?:#(?:[A-Za-z0-9\-._~:/?\[\]@!$&'()*+,;=]|%[0-9A-Fa-f]{2})*)?$"),
    "uri-reference": (
        r"^(?:[A-Za-z0-9\-._~:/?\[\]@!$&'()*+,;=]|%[0-9A-Fa-f]{2})*"
        r"(?:#(?:[A-Za-z0-9\-._~:/?\[\]@!$&'()*+,;=]|%[0-9A-Fa-f]{2})*)?$"),
    "iri": r"^[a-zA-Z][a-zA-Z0-9+.-]*:[^\s]*$",
    "iri-reference": r"^[^\s\\]*$",
}

# date formats additionally need a real-calendar check: regex admits Feb 30.
_SEMANTIC_DATE = {"date", "date-time"}

# UTC dates that really ended in 23:59:60 (IERS; mirrors formats_py.py —
# the reference defers to DateTime's identical table for :60 instants)
from json_schema_modern_spark.functions.formats_py import LEAP_SECOND_DATES


def _leap_second_guard(col: Column, with_date: bool) -> Column:
    """Second == 60 is only valid when the zulu-normalized wall time is
    23:59 (FormatAssertion.pm:124-136) — and for date-time, only on a date
    in the published leap-second table.  Pure Column arithmetic: regex
    extracts stay in codegen, no Python in the loop."""
    off = 11 if with_date else 0      # 'YYYY-MM-DDT' prefix length
    hh = F.substring(col, off + 1, 2).cast("int")
    mm = F.substring(col, off + 4, 2).cast("int")
    ss = F.substring(col, off + 7, 2).cast("int")
    tz = F.regexp_extract(col, r"([Zz]|[+-]\d{2}:\d{2})$", 1)
    sign = F.when(F.substring(tz, 1, 1) == "+", F.lit(1)) \
        .when(F.substring(tz, 1, 1) == "-", F.lit(-1)).otherwise(F.lit(0))
    oh = F.when(F.length(tz) == 6, F.substring(tz, 2, 2).cast("int")).otherwise(F.lit(0))
    om = F.when(F.length(tz) == 6, F.substring(tz, 5, 2).cast("int")).otherwise(F.lit(0))
    total_min = hh * 60 + mm - sign * (oh * 60 + om)
    if not with_date:
        return (ss != 60) | (F.pmod(total_min, F.lit(24 * 60)) == 23 * 60 + 59)
    shift = F.floor(total_min.cast("double") / F.lit(1440.0)).cast("int")
    zdate = F.date_add(F.to_date(F.substring(col, 1, 10)), shift)
    return (ss != 60) | (
        (total_min - shift * 1440 == 23 * 60 + 59)
        & zdate.cast("string").isin(*sorted(LEAP_SECOND_DATES)))


def _regex_format_predicate(col: Column) -> Column:
    """`regex` format: does the string compile as a regex?

    The reference tests Perl qr// compilation (FormatAssertion.pm:173-176);
    here a vectorized pandas UDF tests Python-re compilation — a documented
    dialect approximation, and the only format that needs Python (pattern
    VALIDITY isn't expressible as a match).  Cold path by nature: `regex`
    formats validate schema-like columns, not token data."""

    @F.pandas_udf("boolean")
    def _re_ok(s: pd.Series) -> pd.Series:
        def ok(x):
            if x is None:
                return None
            try:
                re.compile(x)
                return True
            except re.error:
                return False
        return s.map(ok)

    return _re_ok(col)


def _idn_format_predicate(name: str, col: Column) -> Column:
    """idn-hostname / idn-email: the IDNA2008 pipeline (functions/idna.py
    — punycode round-trip, RFC 5892 derived-property approximation,
    CONTEXTJ/CONTEXTO, RFC 5893 bidi) as a vectorized pandas UDF.  Like
    `regex`, IDN validity is not expressible as a JVM match (punycode +
    Unicode property tables); cold path by nature — idn columns are
    metadata-ish, not token data."""
    from json_schema_modern_spark.functions.idna import (
        check_idn_email, check_idn_hostname,
    )

    fn = check_idn_hostname if name == "idn-hostname" else check_idn_email

    @F.pandas_udf("boolean")
    def _idn_ok(s: pd.Series) -> pd.Series:
        return s.map(lambda x: None if x is None else fn(x))

    return _idn_ok(col)


def format_predicate(name: str, col: Column) -> Column | None:
    """Boolean Column: value conforms to the named format.
    None ⇒ unknown format (annotation-only, always valid)."""
    if name == "regex":
        return _regex_format_predicate(col)
    if name in ("idn-hostname", "idn-email"):
        return _idn_format_predicate(name, col)
    pat = FORMAT_REGEX.get(name)
    if pat is None:
        return None
    ok = col.rlike(pat)
    if name in _SEMANTIC_DATE:
        date_part = F.substring(col, 1, 10)
        ok = ok & F.try_to_timestamp(date_part, F.lit("yyyy-MM-dd")).isNotNull()
    if name in ("time", "date-time"):
        ok = ok & _leap_second_guard(col, with_date=(name == "date-time"))
    if name == "hostname":
        # a bare IPv4 address is not a hostname (Data::Validate::Domain)
        ok = ok & ~col.rlike(FORMAT_REGEX["ipv4"])
    return ok
