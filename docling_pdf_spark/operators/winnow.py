"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
"Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD 2003;
the MOSS algorithm). The rolling-hash fingerprinting half of the driver
brief's "document fingerprinting (rolling hash)".

Per document: hash every character k-gram, slide a window of w
consecutive hashes, keep the minimum of each window, dedupe. Guarantee:
any substring match of length ≥ w + k − 1 between two documents yields
at least one shared fingerprint — so shared-fingerprint bucketing finds
partial-overlap near-dups (plagiarism/quotation/boilerplate reuse) that
whole-document hashing misses.

Fingerprints are one narrow mapInArrow stage (functions/arrowhash.py)
— no shuffle until the consumer buckets by fingerprint. The default
k-gram hash is the low 60 bits of md5 (hex chars 18..32), chosen
because DuckDB computes the identical value
(`CAST('0x' || substr(md5(s), 18, 15) AS BIGINT)`), making the operator
exactly oracle-checkable.

In the JVM reference form (_winnow_fingerprints_jvm) the hash array is
projected as its own column BEFORE the window transform (same lesson
as operators/dedup.shingles: an inlined array expression is
re-evaluated per slice — O(n·w) recompute).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docling_pdf_spark.conf import MAX_LSH_BUCKET
from docling_pdf_spark.operators.dedup import _bucket_pairs

WINNOW_K = 8  # k-gram length (chars)
WINNOW_W = 4  # window length (hashes)


def winnow_fingerprints(
    docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_mode: str = "portable",
) -> DataFrame:
    """(id, fingerprint) — the distinct winnowed fingerprint set.

    hash_mode 'portable' (default): md5-low-60 — DuckDB computes the
    identical value, so the driver query is exactly oracle-checked.
    'fast': xxhash64, for when nothing external needs to reproduce the
    hashes. Anything else raises ValueError. Since round 7 both modes
    execute as ONE mapInArrow stage (functions/arrowhash.py): the JVM
    form evaluated the hash inside an interpreted transform() lambda
    at ~3-5 µs/gram; the Arrow kernel computes the identical
    fingerprints at ~0.5 µs/gram and keeps the zero-Exchange
    scan-speed shape (~10× at sf1.0)."""
    from docling_pdf_spark.functions import arrowhash

    if hash_mode == "portable":
        kernel = arrowhash.winnow_fingerprints_arrow
    elif hash_mode == "fast":
        kernel = arrowhash.winnow_fingerprints_fast_arrow
    else:
        raise ValueError(f"hash_mode must be portable|fast, got {hash_mode!r}")
    return kernel(docs, k, w, id_col, text_col)


def _winnow_fingerprints_jvm(
    docs: DataFrame,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Reference JVM expression form of winnow_fingerprints(hash_mode=
    'fast') (interpreted transform / slice / array_min over
    F.xxhash64) — retained for the Arrow-vs-JVM parity test."""
    from docling_pdf_spark.functions.scanspread import spread_unsplittable

    docs = spread_unsplittable(docs.select(F.col(id_col), F.col(text_col)))
    text = F.col(text_col)
    gram_starts = F.when(
        F.length(text) >= k,
        F.sequence(F.lit(1), F.length(text) - (k - 1)),
    ).otherwise(F.array().cast("array<int>"))
    hashed = docs.select(
        F.col(id_col),
        F.transform(
            gram_starts, lambda i: F.xxhash64(text.substr(i, F.lit(k)))
        ).alias("hs"),
    )
    hs = F.col("hs")
    win_starts = F.when(
        F.size(hs) >= w, F.sequence(F.lit(1), F.size(hs) - (w - 1))
    ).otherwise(F.array().cast("array<int>"))
    return hashed.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(win_starts, lambda j: F.array_min(F.slice(hs, j, w)))
            )
        ).alias("fingerprint"),
    )


def winnow_fingerprints_sql(k: int = WINNOW_K, w: int = WINNOW_W) -> str:
    """THE DuckDB CTE chain producing fp(doc_id, fingerprint) — the one
    definition both the fingerprint-set oracle (queries.py) and the
    pair oracle below compose, so k/w/hash can never drift between the
    two generated SQLs (review-found duplication)."""
    from docling_pdf_spark.functions.hashing import PORTABLE_HASH60_SQL

    h = PORTABLE_HASH60_SQL.format(x=f"substr(text, CAST(i AS INT), {k})")
    return f"""g AS (
  SELECT doc_id, [{h} FOR i IN range(1, length(text) - {k} + 2)] AS hs
  FROM documents WHERE length(text) >= {k}
), wins AS (
  SELECT doc_id, [list_min(hs[CAST(j AS INT):CAST(j + {w - 1} AS INT)])
          FOR j IN range(1, len(hs) - {w} + 2)] AS ws
  FROM g WHERE len(hs) >= {w}
), fp AS (
  SELECT DISTINCT doc_id, unnest(ws) AS fingerprint FROM wins
)"""


def winnow_pairs_oracle_sql(
    min_shared: int = 3,
    min_containment: float = 0.5,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    max_bucket: int = MAX_LSH_BUCKET,
) -> str:
    """DuckDB oracle for winnow_near_dup_pairs(hash_mode='portable') —
    generated so k/w, the bucket cap, and both thresholds are shared
    with the Spark plan by construction (mirror of the minhash/simhash
    oracle generators). Rounding parity: Spark F.round is HALF_UP and
    DuckDB round() half-away-from-zero — identical for the non-negative
    containment ratio."""
    return f"""
WITH {winnow_fingerprints_sql(k, w)}, sizes AS (
  SELECT doc_id, count(*) AS n_fp FROM fp GROUP BY doc_id
), capped AS (
  SELECT * FROM fp
  QUALIFY count(*) OVER (PARTITION BY fingerprint) <= {max_bucket}
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
  FROM capped a JOIN capped b
    ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= {min_shared}
)
SELECT doc_a, doc_b, n_shared,
       round(n_shared / least(sa.n_fp, sb.n_fp), 4) AS containment
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_shared / least(sa.n_fp, sb.n_fp), 4) >= {min_containment}
"""


def winnow_near_dup_pairs(
    docs: DataFrame,
    min_shared: int = 3,
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int = MAX_LSH_BUCKET,
    hash_mode: str = "fast",
    min_containment: float = 0.0,
) -> DataFrame:
    """Candidate pairs sharing ≥ min_shared winnowed fingerprints —
    catches partial-overlap reuse (a shared passage of ≥ w+k−1 chars
    guarantees ≥1 shared fingerprint). Same one-shuffle bucket pattern
    and mega-bucket cap as the other dedup operators. Pair generation
    never leaves Spark, so it defaults to the fast hash.

    Output includes `containment` = n_shared / min(|fp_a|, |fp_b|) —
    the scale-free near-dup criterion (Broder's containment): an
    absolute count triggers on incidental substring overlaps in
    vocabulary-poor corpora, while a high containment means most of the
    smaller document's fingerprint set is reused. Set min_containment
    (e.g. 0.5) for dedup decisions; min_shared for passage search.

    Measured recall (tests/test_planted_near_dups.py, curate's settings
    min_shared=3, min_containment=0.9): 59 of 59 planted one-word-edit
    pairs among same-vocabulary fixture documents, 0 other pairs. The
    containment's smaller-set denominator is also its weak side: a
    document 100x the usual length over the same small vocabulary
    contains almost every other document's fingerprints (55 false pairs
    with one such document in the fixture's seed-102 draw)."""
    fp = winnow_fingerprints(docs, k, w, id_col, text_col, hash_mode)
    sizes = fp.groupBy(id_col).agg(F.count("*").alias("n_fp"))
    pairs = _bucket_pairs(fp, ["fingerprint"], id_col, max_bucket).where(
        F.col("n_shared") >= min_shared
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_fp").alias("_na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_fp").alias("_nb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "containment",
            F.round(
                F.col("n_shared").cast("double") / F.least("_na", "_nb").cast("double"),
                4,
            ),
        )
        .where(F.col("containment") >= min_containment)
        .select("doc_a", "doc_b", "n_shared", "containment")
    )
