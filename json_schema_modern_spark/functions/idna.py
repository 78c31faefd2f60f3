"""IDNA2008 domain validation for idn-hostname / idn-email.

Mirrors the reference's pipeline (FormatAssertion.pm:138-141):
``idn-hostname`` = hostname-check(domain_to_ascii(s)) where
``domain_to_ascii`` is Net::IDN::Encode's IDNA2008 conversion and any
conversion error falls back to the RAW string (which then fails the
ASCII hostname check whenever it contains non-ASCII).

This is a from-scratch stdlib implementation of the IDNA2008 label
pipeline (RFC 5890-5893): per-label Punycode encode/decode (stdlib
``punycode`` codec), U-label well-formedness (NFC, hyphen restrictions,
no leading combining mark), a general-category approximation of the
RFC 5892 derived property (letters/marks/decimal-digits PVALID;
uppercase/titlecase DISALLOWED as casefold-unstable), the CONTEXTJ/
CONTEXTO rules for ZWNJ/ZWJ, middle dot, Greek numeral sign, Hebrew
punctuation, katakana middle dot and the Arabic-digit-mixing rule, and
the RFC 5893 bidi rule applied domain-wide.  Remaining deviation from
the full RFC 5892 tables (exceptions list, unassigned code points) is
pinned in docs/DEVIATIONS.md — far narrower than the previous
regex-only superset.
"""

from __future__ import annotations

import re
import unicodedata

_ZWNJ, _ZWJ = "‌", "‍"
_MIDDLE_DOT = "·"
_GREEK_NUMERAL = "͵"
_HEBREW_GERESH, _HEBREW_GERSHAYIM = "׳", "״"
_KATAKANA_DOT = "・"
_ARABIC_INDIC = set("٠١٢٣٤٥٦٧٨٩")
_EXT_ARABIC_INDIC = set("۰۱۲۳۴۵۶۷۸۹")

# general categories treated as PVALID-ish (RFC 5892 derived-property
# approximation): lowercase/other/modifier letters, nonspacing/spacing
# marks, decimal digits.  Lu/Lt are DISALLOWED (casefold-unstable).
_PVALID_CATS = frozenset({"Ll", "Lo", "Lm", "Mn", "Mc", "Nd"})


def _script_of(ch: str) -> str:
    """Coarse script bucket from the character name (stdlib has no
    Scripts.txt; names carry the script for the blocks the CONTEXTO
    rules reference)."""
    try:
        name = unicodedata.name(ch)
    except ValueError:
        return ""
    return name.split()[0]


def _contexto_ok(label: str, i: int, ch: str) -> bool:
    if ch == _MIDDLE_DOT:
        # RFC 5892 A.3: must sit between two U+006C ('l')
        return 0 < i < len(label) - 1 and label[i - 1] == "l" and label[i + 1] == "l"
    if ch == _GREEK_NUMERAL:
        # A.4: followed by a Greek character
        return i < len(label) - 1 and _script_of(label[i + 1]) == "GREEK"
    if ch in (_HEBREW_GERESH, _HEBREW_GERSHAYIM):
        # A.5/A.6: preceded by a Hebrew character
        return i > 0 and _script_of(label[i - 1]) == "HEBREW"
    if ch == _KATAKANA_DOT:
        # A.7: label contains at least one Hiragana/Katakana/Han character
        return any(_script_of(c) in ("HIRAGANA", "KATAKANA", "CJK")
                   for c in label if c != _KATAKANA_DOT)
    return True


def _u_label_ok(label: str) -> bool:
    if not label or len(label) > 63:  # U-label length checked again as A-label
        return False
    if not unicodedata.is_normalized("NFC", label):
        return False
    if label.startswith("-") or label.endswith("-"):
        return False
    if len(label) >= 4 and label[2:4] == "--":
        return False
    if unicodedata.category(label[0]).startswith("M"):
        return False  # RFC 5891 §4.2.3.2: no leading combining mark
    if _ARABIC_INDIC & set(label) and _EXT_ARABIC_INDIC & set(label):
        return False  # RFC 5892 A.8/A.9: the two digit sets never mix
    for i, ch in enumerate(label):
        if ch == "-" or ch in _ARABIC_INDIC or ch in _EXT_ARABIC_INDIC:
            continue
        if ch in (_ZWNJ, _ZWJ):
            # CONTEXTJ (A.1/A.2): simplified to the virama rule — the
            # preceding character must carry combining class 9
            if i == 0 or unicodedata.combining(label[i - 1]) != 9:
                return False
            continue
        if ch in (_MIDDLE_DOT, _GREEK_NUMERAL, _HEBREW_GERESH,
                  _HEBREW_GERSHAYIM, _KATAKANA_DOT):
            if not _contexto_ok(label, i, ch):
                return False
            continue
        if unicodedata.category(ch) not in _PVALID_CATS:
            return False
    return True


_RTL_FIRST = frozenset({"R", "AL"})
_RTL_ALLOWED = frozenset({"R", "AL", "AN", "EN", "ES", "CS", "ET", "ON", "BN", "NSM"})
_RTL_LAST = frozenset({"R", "AL", "AN", "EN"})
_LTR_ALLOWED = frozenset({"L", "EN", "ES", "CS", "ET", "ON", "BN", "NSM"})
_LTR_LAST = frozenset({"L", "EN"})


def _bidi_cats(label: str) -> list[str]:
    return [unicodedata.bidirectional(c) or "ON" for c in label]


def _bidi_label_ok(label: str) -> bool:
    """RFC 5893 §2 per-label rule (applied only in bidi domains)."""
    if not label:
        return True
    cats = _bidi_cats(label)
    last = next((c for c in reversed(cats) if c != "NSM"), cats[-1])
    if cats[0] in _RTL_FIRST:
        return (all(c in _RTL_ALLOWED for c in cats)
                and last in _RTL_LAST
                and not ("EN" in cats and "AN" in cats))
    if cats[0] == "L":
        return all(c in _LTR_ALLOWED for c in cats) and last in _LTR_LAST
    return False


def domain_to_ascii(domain: str) -> str | None:
    """IDNA2008 domain → A-label form, or None on any validation error
    (callers mirror the reference's catch-fallback-to-raw)."""
    if not domain:
        return None
    labels = domain.split(".")
    # trailing root dot: validate the rest, keep the dot
    root_dot = labels and labels[-1] == "" and len(labels) > 1
    if root_dot:
        labels = labels[:-1]
    u_labels = []
    for lab in labels:
        if lab.isascii():
            low = lab.lower()
            if low.startswith("xn--"):
                try:
                    u = low[4:].encode("ascii").decode("punycode")
                except (UnicodeError, ValueError):
                    return None
                # round-trip + U-label validity: an A-label must encode a
                # well-formed U-label canonically (RFC 5891 §4.4)
                if not _u_label_ok(u):
                    return None
                try:
                    if "xn--" + u.encode("punycode").decode("ascii") != low:
                        return None
                except UnicodeError:
                    return None
                u_labels.append(u)
            else:
                u_labels.append(lab)
            continue
        if not _u_label_ok(lab):
            return None
        u_labels.append(lab)
    # bidi rule is domain-wide: one RTL character anywhere makes EVERY
    # label (including pure-ASCII ones) subject to RFC 5893
    if any(unicodedata.bidirectional(c) in ("R", "AL", "AN")
           for lab in u_labels for c in lab):
        if not all(_bidi_label_ok(lab) for lab in u_labels):
            return None
    out = []
    for lab in u_labels:
        if lab.isascii():
            out.append(lab)
        else:
            try:
                a = "xn--" + lab.encode("punycode").decode("ascii")
            except UnicodeError:
                return None
            if len(a) > 63:
                return None
            out.append(a)
    return ".".join(out) + ("." if root_dot else "")


_HOSTNAME_RE = re.compile(
    r"^(?=.{1,253}\.?$)([a-zA-Z0-9]([a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?)"
    r"(\.[a-zA-Z0-9]([a-zA-Z0-9-]{0,61}[a-zA-Z0-9])?)*\.?$")
_BARE_IPV4_RE = re.compile(r"^[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}$")


def check_idn_hostname(v: str) -> bool:
    """idn-hostname: IDNA2008 to-ASCII then the same hostname check as
    `hostname` (FormatAssertion.pm:141: is_hostname(idn_decode(x)));
    conversion failure falls back to the raw string, so non-ASCII input
    that is not a valid IDN fails the ASCII hostname test."""
    ascii_form = domain_to_ascii(v)
    target = ascii_form if ascii_form is not None else v
    if _BARE_IPV4_RE.match(target):
        return False
    return bool(_HOSTNAME_RE.match(target))


def check_idn_email(v: str) -> bool:
    """idn-email: UTF-8-tolerant local part (the reference accepts the
    full Email::Address::XS grammar; approximation pinned in
    DEVIATIONS.md) + idn-hostname domain."""
    at = v.rfind("@")
    if at <= 0 or at == len(v) - 1:
        return False
    local, dom = v[:at], v[at + 1:]
    if re.search(r"[\s@]", local):
        return False
    if dom.startswith("[") and dom.endswith("]"):
        return True  # address literal: accepted as in `email`
    return check_idn_hostname(dom)
