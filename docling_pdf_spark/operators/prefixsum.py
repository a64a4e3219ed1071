"""Shared distributed prefix-sum scaffolding — the bucket/offset
kernel under `mixer.fill_to_allocation` (per-stratum token cumsums)
and `shuffle.global_row_number` (global dense ranks).

The pattern: range-repartition the rows on the total order, tag each
row with its RANGE partition id (`_bucket` — ascending with the
order), aggregate one tiny row per (partition-cols, bucket), convert
those to exclusive cumulative offsets with a window bounded by the
bucket count, and broadcast the offsets back. A within-bucket window
(bounded per bucket) then completes the exact global cumsum/rank with
no corpus-wide single-task sort.

THE MATERIALIZE INVARIANT (correctness-critical, review-found on the
mixer): the offsets branch and the per-row branch both consume the
bucketed rows, forking the lineage ABOVE the range exchange. If the
two branches re-evaluated the exchange independently, the two
RangePartitioners could sample DIFFERENT boundaries — disagreeing
`_bucket` ids silently corrupt every downstream prefix sum. The
bucketed rows are therefore ALWAYS localCheckpointed (lazily): both
branches read ONE materialized bucket assignment, and a lost
checkpoint block fails LOUDLY instead of diverging silently.

Round 7 removed the materialize=False fast path entirely (round-6
advice, medium): its safety claim — "a parquet scan re-computes
deterministically, so both branches sample identical boundaries" —
was unsound, because the RangePartitioner's sample seed is derived
from rdd.id (byteswap32(idx ^ (rdd.id << 16))), not from content,
and column pruning makes the two branches' exchanges non-identical
plans, so exchange reuse cannot dedupe them; with partial sampling
at real scale the branches can pick different boundaries even over a
byte-identical scan. Small corpora are fully sampled per partition,
which is exactly why no pinned test could catch it. Any future change
to this invariant applies to BOTH call sites by construction — that is
why this module exists.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

BUCKET_COL = "_bucket"


def bucketize_by_range(
    df: DataFrame,
    keys: list[Column],
    n_buckets: int | None = None,
) -> DataFrame:
    """Range-repartition on `keys` (a deterministic TOTAL order) and
    tag rows with their range-partition id as `_bucket`. The bucket
    assignment is ALWAYS frozen with a lazy localCheckpoint — see the
    module docstring for why the former materialize=False fast path
    was unsound."""
    # freeze the bucket assignment once (blocks live on executors;
    # Spark's ContextCleaner reclaims them when unreferenced)
    return _ranged_bucketed(df, keys, n_buckets).localCheckpoint(eager=False)


def _ranged_bucketed(
    df: DataFrame, keys: list[Column], n_buckets: int | None = None
) -> DataFrame:
    """The pre-checkpoint lineage of bucketize_by_range — split out so
    plan tests can assert the range-exchange shape that the checkpoint
    hides behind an ExistingRDD scan."""
    nb = n_buckets or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(nb, *keys)
    # spark_partition_id is nondeterministic-tagged, so Catalyst keeps
    # this projection pinned below any later window's exchange —
    # bucket ids are the RANGE partition ids, ascending with the order
    return ranged.withColumn(BUCKET_COL, F.spark_partition_id())


def bucket_offsets(
    bucketed: DataFrame,
    value: Column,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Exclusive cumulative sums of `value` per (partition_cols,
    bucket): `(partition_cols..., _bucket, _offset)` where `_offset`
    is the total of all EARLIER buckets in the same partition group.
    One tiny row per occupied bucket — broadcast it back. The window
    is bounded by the bucket count (and SinglePartition only when
    `partition_cols` is empty — still <= n_buckets rows)."""
    pcols = list(partition_cols or [])
    sums = bucketed.groupBy(*pcols, BUCKET_COL).agg(value.alias("_bsum"))
    woff = (
        Window.partitionBy(*pcols)
        .orderBy(BUCKET_COL)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return sums.select(
        *pcols,
        BUCKET_COL,
        F.coalesce(F.sum("_bsum").over(woff), F.lit(0)).alias("_offset"),
    )
