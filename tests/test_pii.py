"""PII detection/redaction (functions/pii.py): hand cases for each
pattern family and its deliberate non-matches, a DuckDB twin running
the SAME regex strings (the patterns live in the Java∩RE2 subset),
and the curate --redact-pii end-to-end path."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


CASES = [
    ("mail me at jane.doe+x@example.co.uk today",
     "mail me at [EMAIL] today"),
    ("call +49 171 555 0100 or (212) 555-0188",
     "call [PHONE] or [PHONE]"),
    ("server 10.0.42.7 timed out", "server [IP] timed out"),
    # deliberate non-matches: dates, versions, times, plain ints
    ("released 2026-08-17 at 12:30, v1.2.3 build 4567",
     "released 2026-08-17 at 12:30, v1.2.3 build 4567"),
    ("order 123456789 shipped", "order 123456789 shipped"),
    # a longer digit run must not be PARTIALLY eaten by the 3-3-4 form
    ("ref 1234-567-8901 attached", "ref 1234-567-8901 attached"),
    # longer DOTTED runs must not be partially eaten either (OIDs,
    # 5-part versions, dot-grouped digit runs with a tail)
    ("OID 1.3.6.1.4.1.311 here", "OID 1.3.6.1.4.1.311 here"),
    ("release 1.2.3.4.5 shipped", "release 1.2.3.4.5 shipped"),
    ("num 555.123.4567.89 logged", "num 555.123.4567.89 logged"),
    # letter-adjacent dotted runs are identifiers, not IPs
    ("build v1.2.3.4 ready", "build v1.2.3.4 ready"),
    # back-to-back occurrences separated by ONE char: the consumed
    # boundary is restored and the second pass picks up the neighbor
    ("peers 1.1.1.1 2.2.2.2 up", "peers [IP] [IP] up"),
    # grouped 3-3-4 phone
    ("fax 555-123-4567.", "fax [PHONE]."),
]


def test_redact_pii_hand_cases(spark):
    from docling_pdf_spark.functions.pii import redact_pii

    df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(CASES)],
                               ["i", "t"])
    got = {r["i"]: r["r"] for r in
           df.select("i", redact_pii("t").alias("r")).collect()}
    for i, (_, want) in enumerate(CASES):
        assert got[i] == want, f"case {i}"


def test_pii_counts(spark):
    """Several kinds in one string: each match becomes one typed token."""
    from docling_pdf_spark.functions.pii import redact_pii

    df = spark.createDataFrame(
        [("a@b.io and c@d.org, call 555-123-4567, host 1.2.3.4",)], ["t"]
    )
    got = df.select(redact_pii("t").alias("r")).collect()[0]["r"]
    assert got == "[EMAIL] and [EMAIL], call [PHONE], host [IP]"
    assert (got.count("[EMAIL]"), got.count("[PHONE]"),
            got.count("[IP]")) == (2, 1, 1)


def test_redaction_matches_duckdb_on_corpus(spark):
    """The same pattern strings produce byte-identical redaction in
    DuckDB (RE2) over the sf0.01 corpus — pytest-level exactness (the
    driver registry is at its 50-entry cap)."""
    from docling_pdf_spark.functions.pii import redact_pii, redact_pii_oracle_sql

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sdf = (
        docs.select("doc_id", redact_pii("text").alias("r"))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    # the generated twin (shared with the driver's pii_redact oracle):
    # same pattern strings, $1 backrefs translated to RE2's \1
    con = duckdb.connect()
    ddf = con.execute(
        redact_pii_oracle_sql(f"'{SF_DIR}/documents.parquet'")
        .replace("AS redacted", "AS r") + " ORDER BY doc_id"
    ).df().reset_index(drop=True)
    assert len(sdf) == len(ddf) == 500
    assert (sdf["r"] == ddf["r"]).all()


def test_curate_redact_pii_end_to_end(spark, tmp_path):
    import pyarrow.parquet as pq
    import pyarrow as pa

    from docling_pdf_spark.schemas import DOCUMENTS_PA
    from jobs.curate import curate

    text = ("please contact support at help@corp.example or on "
            "555-123-4567 for assistance with anything at all here")
    doc = {
        "doc_id": "pii-doc",
        "spans": [{"kind": "text", "text": text, "media_ref": None,
                   "offset": 0}],
    }
    path = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist([doc], schema=DOCUMENTS_PA), path)
    out = str(tmp_path / "curated")
    curate(spark, path, out, min_chars=10, min_tokens=3, redact_pii=True)
    spans = spark.read.parquet(out).select(
        F.explode("spans").alias("s")
    ).select("s.text").collect()
    joined = "\n".join(r["text"] for r in spans)
    assert "[EMAIL]" in joined and "[PHONE]" in joined
    assert "help@corp.example" not in joined
    assert "555-123-4567" not in joined


# ---------------- round-6 extensions: SSN default + aggressive mode --
#
# FALSE-POSITIVE SUITE FIRST (r5 verdict #3): every new pattern proves
# it does NOT eat ids/dates/timestamps/versions before it is enabled.
# Known-FP classes of the opt-in aggressive mode are pinned as
# documentation cases below (test_aggressive_known_fp_classes).

SSN_CASES = [
    # default-on: the 3-2-4 dash shape is distinctive enough to scrub
    ("ssn 123-45-6789 on file", "ssn [SSN] on file"),
    ("ends with 987-65-4321.", "ends with [SSN]."),
    # non-matches: dates in both orders, phone 3-3-4, zip+4, longer runs
    ("released 2026-08-17 ok", "released 2026-08-17 ok"),
    ("born 17-08-2026 ok", "born 17-08-2026 ok"),
    ("call 555-123-4567 ok", "call [PHONE] ok"),
    ("zip 12345-6789 ok", "zip 12345-6789 ok"),
    ("ref 1234-56-7890 ok", "ref 1234-56-7890 ok"),
    ("ref 123-45-67890 ok", "ref 123-45-67890 ok"),
    # space/dot separated 3-2-4 is NOT an SSN (dash-only by spec)
    ("code 123 45 6789 ok", "code 123 45 6789 ok"),
    ("code 123.45.6789 ok", "code 123.45.6789 ok"),
    # back-to-back, single-space separated: pass two picks up #2
    ("pair 123-45-6789 321-54-9876 ok", "pair [SSN] [SSN] ok"),
]


def test_ssn_hand_cases(spark):
    from docling_pdf_spark.functions.pii import redact_pii

    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(SSN_CASES)], ["i", "t"])
    got = {r["i"]: r["r"] for r in
           df.select("i", redact_pii("t").alias("r")).collect()}
    for i, (_, want) in enumerate(SSN_CASES):
        assert got[i] == want, f"ssn case {i}"


AGGRESSIVE_CASES = [
    # bare NANP runs (the r5 documented miss classes) now scrubbed
    ("bare 5551234567 end", "bare [PHONE] end"),
    ("cc 15551234567 end", "cc [PHONE] end"),
    ("end of line 5551234567", "end of line [PHONE]"),
    ("sentence 5551234567.", "sentence [PHONE]."),
    # IBANs (length per country: DE=22, GB=22, FR=27, short NO=15)
    ("pay DE89370400440532013000 now", "pay [IBAN] now"),
    ("acct GB29NWBK60161331926819.", "acct [IBAN]."),
    ("or NO9386011117947 works", "or [IBAN] works"),
    # FP guards — 11-digit runs not starting with 1, 12+ digit runs,
    # digit runs embedded in longer words, versions, lowercase hex
    ("id 25551234567 ok", "id 25551234567 ok"),
    ("ref 123456789012 ok", "ref 123456789012 ok"),
    ("sha deadbeef5551234567aa ok", "sha deadbeef5551234567aa ok"),
    ("v1.2.3 build 4567 ok", "v1.2.3 build 4567 ok"),
    # IBAN FP guards: too short, no check digits, lowercase, embedded
    ("code EN1234 ok", "code EN1234 ok"),
    ("code ABCD123456789012 ok", "code ABCD123456789012 ok"),
    ("code de89370400440532013000 ok", "code de89370400440532013000 ok"),
    ("xDE89370400440532013000 ok", "xDE89370400440532013000 ok"),
    # conservative kinds still work in aggressive mode
    ("mail a@b.io or 1.2.3.4", "mail [EMAIL] or [IP]"),
]


def test_aggressive_hand_cases(spark):
    from docling_pdf_spark.functions.pii import redact_pii

    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(AGGRESSIVE_CASES)], ["i", "t"])
    got = {r["i"]: r["r"] for r in
           df.select("i", redact_pii("t", aggressive=True).alias("r"))
           .collect()}
    for i, (_, want) in enumerate(AGGRESSIVE_CASES):
        assert got[i] == want, f"aggressive case {i}"


def test_aggressive_known_fp_classes(spark):
    """DOCUMENTATION CASES (ADVICE r5): the aggressive bare-10-digit
    pattern cannot distinguish unix timestamps or 10-digit order ids
    from phone numbers — these ARE eaten when --redact-pii-aggressive
    is chosen. Pinned here so the trade-off stays visible; if a future
    change makes these pass through, the docstring contract changed
    and the docs must move with it."""
    from docling_pdf_spark.functions.pii import redact_pii

    fp_texts = [
        ("ts 1755432100 logged", "ts [PHONE] logged"),   # unix epoch
        ("order 9876543210 shipped", "order [PHONE] shipped"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(fp_texts)], ["i", "t"])
    got = {r["i"]: r["r"] for r in
           df.select("i", redact_pii("t", aggressive=True).alias("r"))
           .collect()}
    for i, (_, want) in enumerate(fp_texts):
        assert got[i] == want, f"fp doc case {i}"
    # and the conservative default leaves BOTH untouched
    got0 = {r["i"]: r["r"] for r in
            df.select("i", redact_pii("t").alias("r")).collect()}
    for i, (t, _) in enumerate(fp_texts):
        assert got0[i] == t


def test_aggressive_matches_duckdb_on_corpus(spark):
    """Aggressive-mode redaction stays byte-identical between Spark
    (Java regex) and DuckDB (RE2) over the sf0.01 corpus — the same
    generated-from-_kinds twin discipline as the default mode."""
    from docling_pdf_spark.functions.pii import redact_pii, redact_pii_oracle_sql

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sdf = (
        docs.select("doc_id", redact_pii("text", aggressive=True).alias("r"))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    ddf = con.execute(
        redact_pii_oracle_sql(f"'{SF_DIR}/documents.parquet'", aggressive=True)
        .replace("AS redacted", "AS r") + " ORDER BY doc_id"
    ).df().reset_index(drop=True)
    assert len(sdf) == len(ddf) == 500
    assert (sdf["r"] == ddf["r"]).all()


def test_pii_counts_new_kinds(spark):
    """Aggressive mode scrubs SSN, bare NANP run and IBAN, one token
    each; default mode scrubs only the SSN and leaves the other two."""
    from docling_pdf_spark.functions.pii import redact_pii

    df = spark.createDataFrame(
        [("ssn 123-45-6789, call 5551234567, acct DE89370400440532013000",)],
        ["t"],
    )
    row = df.select(redact_pii("t", aggressive=True).alias("a"),
                    redact_pii("t").alias("d")).collect()[0]
    assert row["a"] == "ssn [SSN], call [PHONE], acct [IBAN]"
    assert [row["a"].count(k) for k in ("[SSN]", "[PHONE]", "[IBAN]")] \
        == [1, 1, 1]
    assert row["d"] == "ssn [SSN], call 5551234567, acct DE89370400440532013000"
    assert "[PHONE]" not in row["d"] and "[IBAN]" not in row["d"]


def test_curate_redact_pii_aggressive_end_to_end(spark, tmp_path):
    import pyarrow.parquet as pq
    import pyarrow as pa

    from docling_pdf_spark.schemas import DOCUMENTS_PA
    from jobs.curate import curate

    text = ("wire DE89370400440532013000 or text 5551234567, "
            "ssn 123-45-6789 kept on file for the curious record; "
            "the rest of this paragraph is ordinary prose padding so "
            "the digit-ratio quality gate does not drop the document "
            "before the redaction stage ever sees it at all")
    doc = {
        "doc_id": "pii-aggr",
        "spans": [{"kind": "text", "text": text, "media_ref": None,
                   "offset": 0}],
    }
    path = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist([doc], schema=DOCUMENTS_PA), path)
    out = str(tmp_path / "curated")
    curate(spark, path, out, min_chars=10, min_tokens=3,
           redact_pii_aggressive=True)
    joined = "\n".join(
        r["text"] for r in spark.read.parquet(out)
        .select(F.explode("spans").alias("s")).select("s.text").collect()
    )
    assert "[IBAN]" in joined and "[PHONE]" in joined and "[SSN]" in joined
    assert "5551234567" not in joined and "123-45-6789" not in joined
