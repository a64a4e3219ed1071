"""Deterministic corpus shuffle — seeded training-order
randomization with EXACT global row numbers, no single-task sort.

A training run wants the curated corpus in a pseudo-random but
REPRODUCIBLE order (so a restarted job, a different cluster size, or
a re-run months later reads the same sequence), and wants a dense
global rank (1..n) so readers can slice epochs/shards by rank range.
The naive form is one window — `row_number() OVER (ORDER BY
md5(seed || doc_id))` — which Spark executes as a SinglePartition
sort of the whole corpus: one task owns 100 TB. This operator
computes the identical ranks with the distributed prefix-sum pattern
proven by `operators/mixer.py::fill_to_allocation`:

  range-repartition on the shuffle key
    -> per-bucket row counts (tiny: one row per bucket)
    -> cumulative bucket offsets (bounded window over <= n_buckets
       rows — the only SinglePartition in the plan)
    -> within-bucket row_number (bounded per-bucket window)
    -> rank = offset + local row_number, offsets arrive by broadcast.

The shuffle key is engine-portable — `md5(seed ':' id)` — so the
DuckDB twin (`deterministic_shuffle_sql`, the naive one-window form)
is the operator's exact correctness contract: same key bytes, same
total order, same ranks.

The bucket/offset scaffolding (and the correctness-critical
materialize invariant that freezes the bucket assignment against
range-boundary divergence between the two consuming branches) is
SHARED with the mixer — one kernel, `operators/prefixsum.py`; see its
module docstring for the full contract. Since round 7 the bucket
assignment is always checkpointed (the former fast path's soundness
argument did not hold — round-6 advice).

Output ROW order is not the product — the rank COLUMN is. A writer
that wants the files physically in shuffled order should
`.repartitionByRange(n, out_col).sortWithinPartitions(out_col)`
before writing (jobs/curate.py --shuffle-seed does exactly that);
the part files then carry the order when read in NAME order (note
spark.read schedules splits by size — a Spark reader re-sorts by the
rank column, which is a cheap already-range-partitioned sort).

Reference parity note: the reference app (pdf_extractor.py) has no
ordering stage — this is part of the training-data-pipeline
extension mandated by the build spec.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def global_row_number(
    df: DataFrame,
    order: list[Column],
    out_col: str = "rank",
    n_buckets: int | None = None,
) -> DataFrame:
    """Dense 1-based global row numbers under `order` (which must be a
    deterministic TOTAL order — include a unique tiebreak column),
    value-identical to `row_number() OVER (ORDER BY order)` but with
    no corpus-wide single-task sort."""
    from docling_pdf_spark.operators.prefixsum import (
        bucket_offsets,
        bucketize_by_range,
    )

    bucketed = bucketize_by_range(df, order, n_buckets)
    # row counts are cumsums of 1; the offsets window is SinglePartition
    # but bounded by the bucket count (see prefixsum module docstring)
    offsets = bucket_offsets(bucketed, F.count("*"))
    wloc = Window.partitionBy("_bucket").orderBy(*order)
    return (
        bucketed.withColumn("_rn", F.row_number().over(wloc))
        .join(F.broadcast(offsets), "_bucket")
        .withColumn(out_col, (F.col("_offset") + F.col("_rn")).cast("long"))
        .drop("_bucket", "_rn", "_offset")
    )


def shuffle_key(seed: int, id_col: str = "doc_id") -> Column:
    """Engine-portable pseudo-random sort key: md5 of `seed ':' id`.
    `id_col` must be non-null (it is the primary key) — enforced with
    assert_true so a violation fails LOUDLY instead of silently
    degrading (concat_ws would skip the NULL, giving the row a valid
    but twin-divergent rank, and two NULL ids would collide with a
    NULL tiebreak — nondeterministic order, review-found). The id
    itself tiebreaks the astronomically-unlikely digest collision."""
    sid = F.col(id_col).cast("string")
    guard = F.assert_true(
        sid.isNotNull(),
        F.lit(f"deterministic_shuffle: {id_col} must be non-null"),
    )
    # assert_true returns NULL when it passes, so the when() always
    # takes the md5 branch — it exists only to thread the guard in
    return F.when(
        guard.isNull(),
        F.md5(F.concat_ws(":", F.lit(str(int(seed))), sid)),
    )


def deterministic_shuffle(
    docs: DataFrame,
    seed: int,
    id_col: str = "doc_id",
    out_col: str = "shuffle_rank",
    n_buckets: int | None = None,
) -> DataFrame:
    """Input schema + `out_col`: a dense 1-based rank assigning every
    document a position in the seeded pseudo-random total order
    (md5(seed ':' id) ascending, id tiebreak). Same seed -> same ranks
    on any cluster size; different seed -> a different permutation."""
    keyed = docs.withColumn("_skey", shuffle_key(seed, id_col))
    ranked = global_row_number(
        keyed,
        [F.col("_skey").asc(), F.col(id_col).asc()],
        out_col=out_col,
        n_buckets=n_buckets,
    )
    return ranked.drop("_skey")


def deterministic_shuffle_sql(
    seed: int,
    table: str = "documents",
    id_col: str = "doc_id",
    out_col: str = "shuffle_rank",
) -> str:
    """DuckDB twin: the NAIVE one-window form over the identical
    portable key. The distributed prefix-sum Spark plan must be
    value-identical to this."""
    k = (
        f"md5(CAST({int(seed)} AS VARCHAR) || ':' "
        f"|| CAST({id_col} AS VARCHAR))"
    )
    return f"""
SELECT {id_col},
       CAST(row_number() OVER (ORDER BY {k}, {id_col}) AS BIGINT)
         AS {out_col}
FROM {table}
"""
