"""Per-source (per-domain) quota operators — the web-curation stage
RefinedWeb/C4 apply after dedup: no single origin may contribute more
than `cap` documents to the corpus, so boilerplate-heavy mega-domains
cannot dominate the training mix (Penedo et al. 2023 §3.2 "url-level
filtering"; the reference corpus's `source` column plays the domain
role — the testdata carries flat srcN keys, a web crawl carries
registrable domains extracted upstream).

The naive form — `row_number() OVER (PARTITION BY source ORDER BY ...)`
then `rn <= cap` — is exactly right relationally but sorts EVERY
source's full document list in one task. At 100 TB a crawl's domain
histogram is Zipf: the top domain holds ~1% of all docs, so one
partition sorts ~1 TB while the median sorts kilobytes — a classic
skew straggler.

`per_source_cap` therefore runs an EXACT two-phase top-k:

  phase 1: rank within (source, salt) where salt = hash(id) % n_salts
           — bounded partitions, each keeps at most `cap` survivors;
  phase 2: rank the <= cap * n_salts per-source survivors globally per
           source and keep `cap`.

Phase 1 can never evict a global top-`cap` row (any row in a source's
true top-`cap` is also in the top-`cap` of its own salt bucket under
the same total order), so the result is IDENTICAL to the naive window
— the driver oracle runs the naive SQL against this plan. Both phases
are plain hash-partitioned window aggregates; the second runs on at
most `cap * n_salts` rows per source regardless of domain size.

Ordering must be total for determinism: the tiebreak on `id_col` is
always appended.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def per_source_cap(
    docs: DataFrame,
    key_col: str = "source",
    id_col: str = "doc_id",
    cap: int = 100,
    order_by: Column | None = None,
    n_salts: int = 16,
) -> DataFrame:
    """Keep at most `cap` rows per `key_col`, ranked by `order_by`
    (ties and the default both fall back to ascending `id_col`, making
    the selection deterministic and oracle-reproducible). Returns the
    input schema unchanged.

    `order_by` ranks ASCENDING — pass e.g. `F.desc("quality_score")`
    wrapped via F.col(...).desc() semantics is NOT supported here;
    instead pass a Column whose ascending order is the keep-priority
    (e.g. `-F.col("quality_score")` keeps the highest scores first).

    NULL order values rank LAST (lowest keep-priority): Spark's bare
    ascending sort is NULLS FIRST, which would hand unknown-quality
    docs top priority AND diverge from the DuckDB twin (NULLS LAST in
    both directions by default) — so the ascending null order is
    pinned explicitly here and emitted explicitly in the twin SQL.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    order = (
        [order_by.asc_nulls_last(), F.col(id_col)]
        if order_by is not None
        else [F.col(id_col)]
    )

    # phase 1: per-(source, salt) rank — bounded partitions under Zipf
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salts))
    w1 = Window.partitionBy(F.col(key_col), salt).orderBy(*order)
    survivors = (
        docs.withColumn("_rn1", F.row_number().over(w1))
        .where(F.col("_rn1") <= cap)
        .drop("_rn1")
    )

    # phase 2: global per-source rank over <= cap * n_salts survivors
    w2 = Window.partitionBy(key_col).orderBy(*order)
    return (
        survivors.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )


def per_source_cap_sql(
    table: str = "documents",
    key_col: str = "source",
    id_col: str = "doc_id",
    cap: int = 100,
    order_sql: str | None = None,
) -> str:
    """DuckDB twin: the NAIVE single-window form — the two-phase Spark
    plan must be value-identical to it (that equality is the point of
    the phase-1 no-eviction argument above). `order_sql` must be a
    single order term (e.g. "n_chars DESC"); NULLS LAST is appended
    explicitly to pin the null order the Spark side declares."""
    order = f"{order_sql} NULLS LAST, {id_col}" if order_sql else id_col
    return f"""
SELECT * EXCLUDE (_rn) FROM (
  SELECT *, row_number() OVER (PARTITION BY {key_col} ORDER BY {order}) AS _rn
  FROM {table}
) WHERE _rn <= {cap}
"""
