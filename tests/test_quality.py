"""Repetition-based quality filters (operators/quality.py) — the
Gopher-style dup-line / dup-paragraph / top-bigram signals.

The driver registry sits at its measured 50-entry cap, so this
operator's exactness check lives here: the same Spark-vs-DuckDB
value-level comparison the driver runs, executed in pytest over the
sf0.01 documents table (plus hand-computed fixtures and a no-Python
plan check)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _stats_map(df):
    return {
        r["doc_id"]: (
            r["dup_line_frac"], r["dup_para_frac"], r["top_bigram_frac"]
        )
        for r in df.collect()
    }


def test_repetition_stats_hand_computed(spark):
    from docling_pdf_spark.operators.quality import repetition_stats

    docs = spark.createDataFrame(
        [
            # lines: "a b" x2 + "c d" -> dup_line 2/3; one paragraph;
            # bigrams over tokens [a b a b c d]: "a b" x2 of 5 -> 0.4
            ("rep", "a b\na b\nc d"),
            # paragraphs: "p q" x2 of 3 -> dup_para 2/3; lines all
            # distinct? "p q" appears twice as a LINE too -> dup_line 2/3
            ("para", "p q\n\np q\n\nx y z"),
            # degenerate: single token, no bigrams, one line -> all 0
            ("tiny", "hello"),
            # pathological boilerplate: same line 4x -> dup_line 1.0
            ("boiler", "buy now\nbuy now\nbuy now\nbuy now"),
            # NULL text: still one row, every signal 0.0
            ("null", None),
        ],
        "doc_id string, text string",
    )
    got = _stats_map(repetition_stats(docs))
    assert got["rep"] == (pytest.approx(2 / 3), 0.0, pytest.approx(0.4))
    assert got["para"][1] == pytest.approx(2 / 3)
    assert got["para"][0] == pytest.approx(2 / 3)
    assert got["tiny"] == (0.0, 0.0, 0.0)
    assert got["null"] == (0.0, 0.0, 0.0)
    assert got["boiler"][0] == 1.0
    # "buy now" x4 -> bigrams: within-line "buy now" x4... tokens are
    # [buy now buy now ...] flattened: 8 tokens, 7 bigrams, "buy now"
    # appears 4x, "now buy" 3x -> top 4/7
    assert got["boiler"][2] == pytest.approx(4 / 7)


def test_repetition_stats_matches_duckdb(spark):
    """Value-level Spark-vs-DuckDB parity on the sf0.01 corpus — the
    same gate the driver applies to registered queries."""
    from docling_pdf_spark.operators.quality import (
        repetition_stats,
        repetition_stats_sql,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sdf = repetition_stats(docs).toPandas().sort_values("doc_id").reset_index(drop=True)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    ddf = (
        con.execute(repetition_stats_sql())
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(sdf) == len(ddf) == 500
    for col in ("dup_line_frac", "dup_para_frac", "top_bigram_frac"):
        assert (sdf[col] - ddf[col]).abs().max() < 1e-9, col


def test_repetition_stats_plan_is_one_narrow_arrow_stage(spark):
    """Round 7: every signal is a within-document statistic, so the
    plan is ONE MapInArrow batch stage with no aggregation shuffle at
    all — the former JVM form paid an explode → groupBy(id, unit) →
    groupBy(id) exchange pair PER SIGNAL plus a 5-way join. The only
    Exchange allowed is the round-robin unsplittable-scan spread
    (guide §2.5), never a hashpartitioning."""
    from docling_pdf_spark.operators.quality import repetition_stats
    from docling_pdf_spark.plans import formatted_plan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = formatted_plan(repetition_stats(docs))
    assert "MapInArrow" in plan
    assert "hashpartitioning" not in plan
    assert "HashAggregate" not in plan


def test_curate_repetition_gate_drops_boilerplate(spark, tmp_path):
    """The funnel's repetition gate drops a planted boilerplate doc
    (same line repeated) while leaving normal docs alone."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_pdf_spark.schemas import DOCUMENTS_PA
    from jobs.curate import curate

    def _doc(doc_id, text):
        return {
            "doc_id": doc_id,
            "spans": [
                {"kind": "text", "text": text, "media_ref": None, "offset": 0}
            ],
        }

    # pairwise-disjoint vocabularies: the funnel's near-dup stage must
    # not collapse the keepers (rotations of ONE vocabulary would be
    # legitimate Jaccard-1.0 near-dups)
    greek = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lamda mu nu xi omicron pi rho sigma tau upsilon").split()
    normal = [
        _doc(f"keep-{i}", " ".join(f"{greek[i]}{w}" for w in greek))
        for i in range(4)
    ]
    boiler = _doc("boiler", "\n".join(["subscribe to our newsletter now"] * 12))
    path = str(tmp_path / "docs.parquet")
    pq.write_table(
        pa.Table.from_pylist(normal + [boiler], schema=DOCUMENTS_PA), path
    )
    out = str(tmp_path / "curated")
    funnel = curate(
        spark, path, out,
        min_chars=10, min_tokens=3, max_dup_line_frac=0.3,
    )
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(out).select("doc_id").collect()
    }
    assert "boiler" not in kept
    assert {f"keep-{i}" for i in range(4)} <= kept
    assert funnel["dropped_quality"] >= 1


def test_curate_dup_para_gate_sees_span_boundaries(spark, tmp_path):
    """The dup-paragraph gate operates on the '\\n\\n'-joined text
    SPANS (each extracted block is a paragraph) — with full_text's
    single-'\\n' join the \\n{2,} split never fires and the gate was
    inert (review-found). A doc made of one block repeated must drop;
    a doc of distinct blocks must survive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_pdf_spark.schemas import DOCUMENTS_PA
    from jobs.curate import curate

    def _doc(doc_id, blocks):
        return {
            "doc_id": doc_id,
            "spans": [
                {"kind": "text", "text": b, "media_ref": None, "offset": i}
                for i, b in enumerate(blocks)
            ],
        }

    para = "every page of this site repeats the same promotional blurb"
    greek = ("alphaqq betaqq gammaqq deltaqq epsilonqq zetaqq etaqq "
             "thetaqq iotaqq kappaqq").split()
    docs = [
        _doc("para-boiler", [para] * 6),
        _doc("para-keep", [" ".join(greek[i:]) for i in range(4)]),
    ]
    path = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(docs, schema=DOCUMENTS_PA), path)
    out = str(tmp_path / "curated")
    curate(spark, path, out, min_chars=10, min_tokens=3,
           max_dup_para_frac=0.3)
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {"para-keep"}


# ---------------- round-6 extensions: top-3/4-gram + line-shape ------


def test_top_ngram_hand_computed(spark):
    from docling_pdf_spark.operators.quality import repetition_stats

    docs = spark.createDataFrame(
        [
            # tokens [a b c a b c a b x]: 7 trigram slots, "a b c" x2
            # -> 2/7; 6 4-gram slots, "a b c a" x2 -> 2/6
            ("tri", "a b c a b c a b x"),
            # 3 tokens: exactly one trigram (frac 1.0), no 4-gram -> 0
            ("exact3", "p q r"),
            ("tiny", "hello there"),  # bigram 1.0, no trigram
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["top_3gram_frac"], r["top_4gram_frac"])
        for r in repetition_stats(
            docs, signals=("top_3gram_frac", "top_4gram_frac")
        ).collect()
    }
    assert got["tri"] == (pytest.approx(2 / 7), pytest.approx(2 / 6))
    assert got["exact3"] == (1.0, 0.0)
    assert got["tiny"] == (0.0, 0.0)


def test_line_shape_hand_computed(spark):
    from docling_pdf_spark.operators.quality import line_shape_stats

    docs = spark.createDataFrame(
        [
            # 4 non-blank lines: 3 bullets (-, *, •), 1 ellipsis-ended
            ("bul", "- one\n* two\n• three\n\nplain tail..."),
            # symbols: 2 '#' + 1 '...' + 1 '…' = 4 over 7 words
            # (see, #tag, and, #more, then, wait..., ok…)
            ("sym", "see #tag and #more then wait... ok…"),
            # hyphenated word is NOT a bullet (needs trailing space);
            # '...' mid-line does not count as line-ending
            ("neg", "well-known fact\nwait... then go"),
            ("empty", "   \n\n  "),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (
            r["symbol_word_ratio"], r["bullet_line_frac"], r["ellipsis_line_frac"]
        )
        for r in line_shape_stats(docs).collect()
    }
    assert got["bul"][1] == pytest.approx(3 / 4)
    assert got["bul"][2] == pytest.approx(1 / 4)
    assert got["sym"][0] == pytest.approx(round(4 / 7, 6))
    assert got["neg"][1] == 0.0 and got["neg"][2] == 0.0
    assert got["empty"] == (0.0, 0.0, 0.0)


def test_line_shape_matches_duckdb(spark):
    """Value-level Spark-vs-DuckDB parity for the line-shape signals on
    the sf0.01 corpus — same pattern strings both engines."""
    from docling_pdf_spark.operators.quality import (
        line_shape_stats,
        line_shape_stats_sql,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sdf = line_shape_stats(docs).toPandas().sort_values("doc_id").reset_index(drop=True)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    ddf = (
        con.execute(line_shape_stats_sql())
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(sdf) == len(ddf) == 500
    for col in ("symbol_word_ratio", "bullet_line_frac", "ellipsis_line_frac"):
        assert (sdf[col] == ddf[col]).all(), col


def test_line_shape_plan_is_narrow_jvm(spark):
    """The line-shape signals are pure row expressions: the plan must
    contain NO aggregation shuffle and NO Python — at 100 TB they ride
    the same codegen filter stage as the length gates. The only
    Exchange allowed is the round-robin unsplittable-scan spread
    (guide §2.5, round 7)."""
    from docling_pdf_spark.operators.quality import line_shape_stats
    from docling_pdf_spark.plans import formatted_plan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = formatted_plan(line_shape_stats(docs))
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    assert "Python" not in plan


def test_extended_repetition_matches_duckdb(spark):
    """The widened signal set (top-3/4-gram) stays exactly oracled —
    this is the same generated SQL the driver's repetition_stats entry
    runs since round 6."""
    from docling_pdf_spark.operators.quality import (
        repetition_stats,
        repetition_stats_sql,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sdf = (
        repetition_stats(docs, signals=("top_3gram_frac", "top_4gram_frac"))
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    ddf = (
        con.execute(
            repetition_stats_sql(signals=("top_3gram_frac", "top_4gram_frac"))
        )
        .df().sort_values("doc_id").reset_index(drop=True)
    )
    for col in ("top_3gram_frac", "top_4gram_frac"):
        assert (sdf[col] == ddf[col]).all(), col


def test_curate_line_shape_gates(spark, tmp_path):
    """The new line-shape gates drop a bullet-list doc and an
    ellipsis-heavy doc while keeping prose."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_pdf_spark.schemas import DOCUMENTS_PA
    from jobs.curate import curate

    def _doc(doc_id, text):
        return {
            "doc_id": doc_id,
            "spans": [
                {"kind": "text", "text": text, "media_ref": None, "offset": 0}
            ],
        }

    bullets = "\n".join(f"- item number {w}" for w in
                        "one two three four five six".split())
    dots = "\n".join(f"loading {w} please wait..." for w in
                     "alpha beta gamma delta".split())
    prose = ("the quiet harbor town woke slowly under a pale morning sky "
             "while fishermen checked their nets along the stone pier")
    docs = [_doc("bullets", bullets), _doc("dots", dots), _doc("prose", prose)]
    path = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(docs, schema=DOCUMENTS_PA), path)
    out = str(tmp_path / "curated")
    funnel = curate(
        spark, path, out, min_chars=10, min_tokens=3,
        max_bullet_line_frac=0.9, max_ellipsis_line_frac=0.3,
    )
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {"prose"}
    assert funnel["dropped_quality"] == 2


def test_curate_top_ngram_gate(spark, tmp_path):
    """The top-3-gram gate drops a doc dominated by one repeated
    trigram phrase."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_pdf_spark.schemas import DOCUMENTS_PA
    from jobs.curate import curate

    def _doc(doc_id, text):
        return {
            "doc_id": doc_id,
            "spans": [
                {"kind": "text", "text": text, "media_ref": None, "offset": 0}
            ],
        }

    spam = " ".join(["click here now"] * 10)
    prose = ("a winding path led through the orchard where late apples "
             "hung heavy and wasps traced lazy circles in the warm air")
    docs = [_doc("spam", spam), _doc("prose", prose)]
    path = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(docs, schema=DOCUMENTS_PA), path)
    out = str(tmp_path / "curated")
    curate(spark, path, out, min_chars=10, min_tokens=3,
           max_top_3gram_frac=0.18)
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {"prose"}
