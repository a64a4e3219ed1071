"""DSIR — Data Selection with Importance Resampling (Xie et al.,
NeurIPS 2023, arXiv:2302.03169): score every raw document by how much
more likely its hashed n-gram features are under a TARGET distribution
(the domain you want more of — wiki-quality text, a language, a
subject) than under the RAW corpus distribution. The per-doc score is
the log importance weight

    log w(x) = Σ_{g ∈ grams(x)}  [ log p_target(bucket(g))
                                   − log p_raw(bucket(g)) ]

with n-grams hashed into B buckets (the paper's hashed generative
model) and add-one smoothing on both distributions. Selection then
keeps the top slice / samples proportionally — composable with the
existing `token_budget_mix` / `stratified_sample` / top-k operators.

Spark-first shape (one Arrow kernel, the rest JVM):
  - ONE pass per distribution: the `bucketed_grams_arrow` mapInArrow
    kernel (functions/arrowhash.py) emits one (id, bucket) row per
    word-n-gram occurrence → groupBy(bucket) count. The bucket table
    is ≤ B rows (10,000 default) — totals come from a window over that
    bounded table, and the log-ratio table BROADCASTS to the scoring
    join.
  - Scoring: the same kernel over the raw docs → broadcast-join the
    ratio table → one groupBy(doc_id) sum. One corpus shuffle,
    map-side combined.
At 100 TB the target corpus is small by construction (it is the
curated exemplar set) and everything corpus-sized moves through
exactly one hash aggregation per pass.

Exactness: buckets use `portable_hash60` (functions/hashing.py) so
DuckDB computes identical bucket ids; the DuckDB twin replays the
whole computation and both engines round the final double sum to 4
decimals (the repo's established float-compare contract — same as the
cosine entries). Grams are counted WITH multiplicity, per the paper's
bag-of-ngrams model.

Contract: the scored documents must be the same corpus the raw
distribution was computed from (the DSIR use case), so every scored
gram's bucket exists in the ratio table and the join is total.

Reference parity note: the reference app (pdf_extractor.py) has no
data-selection stage — this is part of the training-data-pipeline
extension mandated by the build spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from docling_pdf_spark.functions.arrowhash import bucketed_grams_arrow
from docling_pdf_spark.functions.hashing import PORTABLE_HASH60_SQL

DSIR_GRAM_WORDS = 2
DSIR_BUCKETS = 10_000


def dsir_log_ratios(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    n: int = DSIR_GRAM_WORDS,
    n_buckets: int = DSIR_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(bucket, log_ratio) for every bucket OCCUPIED IN RAW —
    log_ratio = ln p_target(b) − ln p_raw(b) with add-one smoothing
    over the full B-bucket space. Tiny output (≤ n_buckets rows):
    broadcast it into the scoring join."""
    rd = (
        bucketed_grams_arrow(raw_docs, n, n_buckets, id_col, text_col)
        .groupBy("bucket")
        .agg(F.count("*").alias("_rc"))
    )
    td = (
        bucketed_grams_arrow(target_docs, n, n_buckets, id_col, text_col)
        .groupBy("bucket")
        .agg(F.count("*").alias("_tc"))
    )
    whole = Window.partitionBy()  # bounded: <= n_buckets rows
    b = float(n_buckets)
    # the target total MUST be computed from td BEFORE the left join:
    # target grams hashing to buckets absent from raw would otherwise
    # vanish from _ttot, inflating every log-ratio by a constant and
    # biasing doc weights by n_grams x that constant (review-found —
    # the DuckDB twin already summed the full td CTE; this aligns the
    # Spark side). One broadcast row, no extra corpus pass.
    ttot = td.agg(F.coalesce(F.sum("_tc"), F.lit(0)).alias("_ttot"))
    joined = (
        rd.join(td, "bucket", "left")
        .withColumn("_tc", F.coalesce("_tc", F.lit(0)))
        .withColumn("_rtot", F.sum("_rc").over(whole))
        .crossJoin(F.broadcast(ttot))
    )
    # four ln() terms of exact integer-valued doubles — the identical
    # expression text runs in the DuckDB twin
    lr = (
        F.log(F.col("_tc") + 1.0)
        - F.log(F.col("_ttot") + b)
        - F.log(F.col("_rc") + 1.0)
        + F.log(F.col("_rtot") + b)
    )
    return joined.select("bucket", lr.alias("log_ratio"))


def dsir_weights(
    docs: DataFrame,
    log_ratios: DataFrame,
    n: int = DSIR_GRAM_WORDS,
    n_buckets: int = DSIR_BUCKETS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_grams, dsir_logweight) for EVERY input doc — docs too
    short for an n-gram get (0, 0.0). The weight is the paper's log
    importance weight, rounded to 4 decimals (float-compare
    contract)."""
    grams = bucketed_grams_arrow(docs, n, n_buckets, id_col, text_col)
    scored = (
        grams.join(F.broadcast(log_ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.round(F.sum("log_ratio"), 4).alias("dsir_logweight"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("dsir_logweight", F.lit(0.0)).alias(
                "dsir_logweight"
            ),
        )
    )


def dsir_oracle_sql(
    target_mod: int,
    n: int = DSIR_GRAM_WORDS,
    n_buckets: int = DSIR_BUCKETS,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin of dsir_log_ratios + dsir_weights with the target
    corpus defined as `id % target_mod = 0` (the deterministic
    synthetic-target convention, same as decontamination's eval set).
    Identical bucket hash, identical smoothing, identical ln() terms,
    identical final ROUND(.,4)."""
    gram = " || ' ' || ".join(f"ws[gs+{k}]" for k in range(n))
    bucket = PORTABLE_HASH60_SQL.format(x=gram) + f" % {n_buckets}"
    return f"""
WITH toks AS (
  SELECT {id_col}, string_split({text_col}, ' ') AS ws FROM {table}
), grams AS (
  SELECT {id_col}, {bucket} AS bucket
  FROM toks, LATERAL (
    SELECT unnest(range(1, len(ws) - {n - 2})) AS gs
  ) u
), rd AS (
  SELECT bucket, count(*) AS rc FROM grams GROUP BY bucket
), td AS (
  SELECT bucket, count(*) AS tc FROM grams
  WHERE {id_col} % {target_mod} = 0 GROUP BY bucket
), ratio AS (
  SELECT rd.bucket,
         ln(coalesce(td.tc, 0) + 1.0)
           - ln((SELECT coalesce(sum(tc), 0) FROM td) + {float(n_buckets)})
           - ln(rd.rc + 1.0)
           + ln((SELECT sum(rc) FROM rd) + {float(n_buckets)}) AS log_ratio
  FROM rd LEFT JOIN td USING (bucket)
), agg AS (
  SELECT g.{id_col}, CAST(count(*) AS BIGINT) AS n_grams,
         round(sum(r.log_ratio), 4) AS dsir_logweight
  FROM grams g JOIN ratio r USING (bucket)
  GROUP BY g.{id_col}
)
SELECT d.{id_col},
       coalesce(a.n_grams, 0) AS n_grams,
       coalesce(a.dsir_logweight, 0.0) AS dsir_logweight
FROM {table} d LEFT JOIN agg a USING ({id_col})
"""
