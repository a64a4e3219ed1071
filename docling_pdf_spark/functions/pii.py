"""PII detection + redaction expressions — the scrub pass a
training-data pipeline runs before releasing a corpus (C4 and most
published web-corpus recipes strip emails/phones; see also the
BigScience ROOTS PII pipeline for the pattern family).

Pure JVM `regexp_replace` — no Python in the hot path.
The patterns are deliberately written in the COMMON subset of Java
regex (Spark) and RE2 (DuckDB): no backreferences, no lookbehind — so
the DuckDB twin used by the pytest exactness check runs the very same
strings.

Phone matching is intentionally conservative (international `+` form
or separator-grouped 3-3-4-ish forms, 9+ digits) — aggressive phone
regexes eat order ids, timestamps and version numbers at corpus scale;
false positives destroy far more training signal than missed digits
leak.

Round 6 adds (r5 VERDICT #3):

* SSN-shaped 3-2-4 dash runs to the DEFAULT kind set — the shape is
  distinctive enough (dates are 4-2-2/2-2-4, phones 3-3-4, zip+4 is
  5-4) that the FP suite shows no collisions.
* an OPT-IN ``aggressive=True`` mode covering the r5 documented phone
  miss classes — bare NANP runs ``1?\\d{10}`` without any separator —
  plus IBANs (``CC`` + 2 check digits + 11–30 alnum). KNOWN FP
  classes of aggressive mode, pinned as documentation tests: unix
  epoch timestamps and 10-digit order ids are indistinguishable from
  bare phones and ARE eaten. Default mode is unchanged on those.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from docling_pdf_spark.functions.text import as_col as _c

# the common Java/RE2 subset — keep in sync with the DuckDB twin tests.
# RE2 has no lookaround, so the dotted/grouped digit patterns guard
# their context by CONSUMING one boundary char on each side (captured
# and restored in the replacement as $1/$3, translated to \1/\3 for
# DuckDB by the twin builder); a longer dotted run ('1.3.6.1.4.1.311',
# '1.2.3.4.5', '555.123.4567.89') therefore cannot be partially eaten
# mid-token (review-found). Because a consumed boundary is unavailable
# to the next match, the replace runs TWO passes — back-to-back
# occurrences separated by a single char ('1.1.1.1 2.2.2.2') land in
# pass two.
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
# lead guard: start-of-string or a non-dot non-word char (same letter/
# digit adjacency rejection \b gave, plus dot protection). Trail guard
# additionally allows a sentence-ending dot — a dot NOT followed by a
# digit — so 'fax 555-123-4567.' still redacts while '...4567.89' and
# '1.2.3.4.5' stay whole.
_LEAD = r"(^|[^.\w])"
_TRAIL = r"($|[^.\w]|\.$|\.[^\d])"
_IP_CORE = r"(?:\d{1,3}\.){3}\d{1,3}"
IPV4_RE = rf"{_LEAD}({_IP_CORE}){_TRAIL}"
# three accepted phone shapes: international (+CC ...), US paren form,
# and fully separator-grouped 3-3-4. A date like 2026-08-17 matches
# none (its middle group is 2 digits where 3 are required).
_PHONE_CORE = (
    r"(?:\+\d{1,3}[ .\-]?\d{2,4}[ .\-]?\d{3,4}[ .\-]?\d{3,4}"
    r"|\(\d{3}\)[ .\-]?\d{3}[ .\-]\d{4}"
    r"|\d{3}[ .\-]\d{3}[ .\-]\d{4})"
)
PHONE_RE = rf"{_LEAD}({_PHONE_CORE}){_TRAIL}"
# SSN: dash-only 3-2-4 (the canonical written form; space/dot-grouped
# 3-2-4 runs are overwhelmingly codes, not SSNs)
SSN_RE = rf"{_LEAD}(\d{{3}}-\d{{2}}-\d{{4}}){_TRAIL}"
# aggressive-only: bare NANP run (10 digits, optional leading 1) with
# the same consumed-boundary guards — an 11+ digit run not starting
# with 1 cannot match even partially (lead guard rejects mid-run
# starts, trail guard rejects a trailing digit)
PHONE_BARE_RE = rf"{_LEAD}(1?\d{{10}}){_TRAIL}"
# aggressive-only: IBAN — 2 country letters, 2 check digits, 11-30
# alphanumerics (15..34 total chars covers every IBAN registry entry)
IBAN_RE = rf"{_LEAD}([A-Z]{{2}}\d{{2}}[A-Z0-9]{{11,30}}){_TRAIL}"

# (pattern, replacement with $-refs, number of replace passes).
# Email runs first (its local part can contain digit groups), IP last.
_KINDS = (
    (EMAIL_RE, "[EMAIL]", 1),
    (PHONE_RE, "$1[PHONE]$3", 2),
    (SSN_RE, "$1[SSN]$3", 2),
    (IPV4_RE, "$1[IP]$3", 2),
)
# aggressive extras, interleaved: bare-phone right after the (more
# specific) separator-grouped phone pass; IBAN after SSN. Digit runs
# inside an IBAN are lead-guarded (always preceded by a word char) so
# pass order phone-before-iban is safe.
_KINDS_AGGRESSIVE = (
    (EMAIL_RE, "[EMAIL]", 1),
    (PHONE_RE, "$1[PHONE]$3", 2),
    (PHONE_BARE_RE, "$1[PHONE]$3", 2),
    (SSN_RE, "$1[SSN]$3", 2),
    (IBAN_RE, "$1[IBAN]$3", 2),
    (IPV4_RE, "$1[IP]$3", 2),
)


def _kinds(aggressive: bool):
    return _KINDS_AGGRESSIVE if aggressive else _KINDS


def redact_pii(col: Column | str, aggressive: bool = False) -> Column:
    """Replace every email/phone/SSN/IPv4 occurrence with a typed
    token. Email runs FIRST (an email's local part can contain digit
    groups a phone pattern would chew on); IP runs last
    (already-redacted text contains no digits). ``aggressive=True``
    additionally scrubs bare 10/11-digit NANP runs and IBANs — see the
    module docstring for its documented false-positive classes."""
    out = _c(col)
    for pattern, repl, passes in _kinds(aggressive):
        for _ in range(passes):
            out = F.regexp_replace(out, F.lit(pattern), F.lit(repl))
    return out


def redact_pii_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    aggressive: bool = False,
) -> str:
    """DuckDB SQL twin of redact_pii over a table — the SAME pattern
    strings (Java∩RE2 common subset) with replacement backrefs
    mechanically translated ($1 → \\1). Generated from the kind table
    so the Spark chain and the oracle can never drift; used by BOTH
    the driver `pii_redact` correctness entry and the pytest twins."""
    import re as _re

    expr = text_col
    for pattern, repl, passes in _kinds(aggressive):
        p = pattern.replace("'", "''")
        d_repl = _re.sub(r"\$(\d)", r"\\\1", repl)
        for _ in range(passes):
            expr = f"regexp_replace({expr}, '{p}', '{d_repl}', 'g')"
    return f"SELECT {id_col}, {expr} AS redacted FROM {table}"


def redact_spans(spans: Column | str, aggressive: bool = False) -> Column:
    """redact_pii over every text field of a spans array (the curated
    table's payload shape) — one JVM transform, struct rebuilt
    field-for-field."""
    return F.transform(
        _c(spans),
        # withField, not a field-for-field struct rebuild: a field added
        # to the span schema later must survive redaction unchanged
        # instead of being silently dropped (review-found)
        lambda s: s.withField("text", redact_pii(s["text"], aggressive)),
    )
