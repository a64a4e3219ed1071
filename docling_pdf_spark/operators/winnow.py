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
— no shuffle until the consumer buckets by fingerprint. The
k-gram hash is the low 60 bits of md5 (hex chars 18..32), chosen
because DuckDB computes the identical value
(`CAST('0x' || substr(md5(s), 18, 15) AS BIGINT)`), making the operator
exactly oracle-checkable.
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
) -> DataFrame:
    """(id, fingerprint) — the distinct winnowed fingerprint set.

    ONE mapInArrow stage (functions/arrowhash.py), no Exchange;
    DuckDB's winnow_fingerprints_sql computes the same set, so the
    driver query is exactly oracle-checked."""
    from docling_pdf_spark.functions import arrowhash

    return arrowhash.winnow_fingerprints_arrow(docs, k, w, id_col, text_col)


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
    """DuckDB oracle for winnow_near_dup_pairs —
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
    min_containment: float = 0.0,
) -> DataFrame:
    """Candidate pairs sharing ≥ min_shared winnowed fingerprints —
    catches partial-overlap reuse (a shared passage of ≥ w+k−1 chars
    guarantees ≥1 shared fingerprint). Same one-shuffle bucket pattern
    and mega-bucket cap as the other dedup operators.

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
    contains almost every other document's fingerprints (45 false pairs
    with one such document in the fixture's seed-102 draw, 105 at seed
    103).

    Measured in place of curate's MinHash near-dup stage (pairwise
    drop) on the `curate_funnel` benchmark input (seed 111, 711 docs,
    200 planted one-word-edit pairs, 4 vCPUs): 138 of 200 planted pairs
    caught against MinHash's 183, both dropping 0 other documents; 23
    Spark jobs against MinHash's 20, at about 3.7× MinHash's warm wall
    time (9.7 s against 2.7 s). So curate runs MinHash only."""
    fp = winnow_fingerprints(docs, k, w, id_col, text_col)
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
