"""Token-budget mix planning — the "data mixture" stage every LLM
training pipeline runs after curation: given a total token budget B
and relative target weights per stratum (language, source, domain —
The Pile, SlimPajama and DoReMi all publish such mixture tables),
decide how many tokens each stratum contributes. Strata that don't
HAVE enough tokens saturate (contribute everything they have) and
their unused share is redistributed to the remaining strata in
proportion to weight — the classic exact water-filling allocation
(Boyd & Vandenberghe, Convex Optimization §5.5 example).

Two operators:

`token_budget_mix` — the PLAN. One hash aggregate over the corpus
(per-stratum token capacity), then the water-filling threshold is
computed EXACTLY on the per-stratum aggregate with window cumulative
sums: sort strata by capacity/weight ascending; stratum i saturates
iff  capacity_i * remw_i <= (B - cumcap_i) * weight_i  (inclusive
cumulative sums; the standard prefix-saturation property of the
sorted order makes the flag correct row-by-row with no iteration).
The comparison is evaluated in decimal(38,0) on the Spark side and
HUGEINT in the DuckDB twin, so it is exact and overflow-safe at
10^12-document scale (capacity ~ 10^13 tokens x weight ~ 10^6 grain
overflows int64). Unsaturated allocations are floored with the
overflow-free integer split  (rem DIV remw) * w + ((rem % remw) * w)
DIV remw  == floor(rem * w / remw), so Spark and DuckDB agree
bit-for-bit. The window runs over ONE ROW PER STRATUM (languages /
sources — thousands at web scale, not billions), so the single
unpartitioned window is a deliberate, bounded choice.

`fill_to_allocation` — the SELECTION. Keep, per stratum, the prefix
of documents (in a caller-chosen total order: quality descending,
id tiebreak) whose running token total stays within the stratum's
allocation. The naive form is a per-stratum window cumsum — which
sorts EVERY document of a stratum in one task; with ~100 languages
over 10^12 docs the 'en' partition is a multi-TB straggler. So the
cumsum is computed as a distributed prefix sum instead:

  1. range-repartition by (stratum, order, id) — balanced buckets,
     bucket ids ascend with the total order (range partitions are
     emitted in key order);
  2. per-(stratum, bucket) token sums — a tiny aggregate — then a
     window over BUCKET IDS per stratum gives each bucket its
     exclusive prefix offset;
  3. a bounded per-(stratum, bucket) window cumsum plus the
     broadcast-joined bucket offset reconstructs the exact global
     running total, independent of where the (sampled,
     nondeterministic) range boundaries fell.

The result is value-identical to the naive single-window SQL — the
DuckDB twin runs the naive form, and that equality is the operator's
correctness contract (same pattern as `per_source_cap`).

Plan note: the bucket-offset branch forks the lineage above the range
exchange. The bucketed rows are ALWAYS localCheckpointed so both
branches read ONE materialized bucket assignment — correct for any
input, including shuffle-rooted lineage whose re-evaluation is
nondeterministic (shuffle fetch order, AQE coalescing would let two
independent RangePartitioners sample different boundaries). Round 7
removed the former materialize=False fast path: its "provably
identical boundaries on re-computable input" claim was unsound — the
RangePartitioner's sample seed derives from rdd.id, not content, and
column pruning makes the two branches' exchanges non-identical plans
(round-6 advice, medium; see operators/prefixsum.py). The bucket-count
equivalence test (including n_buckets=4096 with mostly empty buckets)
pins the boundary agreement.

Reference parity note: the reference app (pdf_extractor.py) has no
mixing stage — this is part of the training-data-pipeline extension
surface the engine adds on top of the reference's extraction core.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


MAX_WEIGHT_TOTAL = 10**15  # keeps every decimal product within (38,0)


def _check_weights(weights: dict[str, int]) -> None:
    if not weights:
        raise ValueError("weights must be a non-empty {stratum: int} map")
    for k, v in weights.items():
        if not isinstance(v, int) or isinstance(v, bool) or v <= 0:
            raise ValueError(
                f"weight for {k!r} must be a positive int grain, got {v!r}"
            )
    total = sum(weights.values())
    if total > MAX_WEIGHT_TOTAL:
        # bound checked here so the exactness guarantee is unconditional:
        # capacities fit decimal(19,0) (sum of int64 token counts) and
        # weight sums fit decimal(16,0), so every cross-multiplication
        # stays within decimal(38,0) with no rounding and no overflow
        raise ValueError(
            f"sum of weights must be <= {MAX_WEIGHT_TOTAL} "
            f"(got {total}); rescale the grain"
        )


def token_budget_mix(
    docs: DataFrame,
    weights: dict[str, int],
    budget: int,
    stratum_col: str = "lang",
    tokens_col: str = "n_chars",
) -> DataFrame:
    """Exact water-filling plan: (stratum, weight, capacity_tokens,
    saturated, allocation_tokens, fill_ratio), one row per entry in
    `weights`. `weights` are relative positive integers (any grain —
    ppm, per-mille, raw ratios — sum bounded at 1e15 so the decimal
    cross-multiplication stays exact); `budget` is the total token
    budget.

    Invariants (pinned in tests): every saturated stratum gets exactly
    its capacity; unsaturated allocations are floor-proportional to
    weight; sum(allocation) == min(budget, total capacity) up to the
    flooring loss (< one token per unsaturated stratum); strata with
    no documents saturate at 0.
    """
    _check_weights(weights)
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    spark = docs.sparkSession
    # JVM-literal weights relation (explode of a map literal): no
    # driver-side Python RDD in the plan, no string-escaping concerns
    items = sorted(weights.items())
    wdf = spark.range(1).select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(k) for k, _ in items]),
                F.array(*[F.lit(int(v)).cast("long") for _, v in items]),
            )
        ).alias("stratum", "weight")
    )
    caps = docs.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.sum(F.col(tokens_col)).cast("long").alias("capacity_tokens")
    )
    j = wdf.join(caps, "stratum", "left").select(
        "stratum",
        "weight",
        F.coalesce("capacity_tokens", F.lit(0).cast("long")).alias(
            "capacity_tokens"
        ),
    )

    # one row per stratum: the unpartitioned window is bounded by the
    # number of strata, not documents (see module docstring)
    #
    # Exactness caveat (round-6 advice, low): the water-filling sort
    # key capacity/weight is evaluated in float64 on BOTH engines (the
    # DuckDB twin uses the identical double expression, so the twins
    # can never disagree). Two strata whose distinct exact ratios
    # collide in double fall back to the stratum-name tiebreak, which
    # can order them against the true rational order — in that
    # measure-zero case the allocation is still a valid water-filling
    # split of the budget, but the "saturated rows form an exact ratio
    # prefix" property holds w.r.t. the double-rounded ratio, not the
    # exact one.
    ratio_order = [
        (F.col("capacity_tokens") / F.col("weight")).asc(),
        F.col("stratum").asc(),
    ]
    cum = (
        Window.orderBy(*ratio_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    whole = Window.partitionBy()
    b = F.lit(int(budget)).cast("long")
    # capacity sums are int64 -> fit decimal(19,0); weight sums are
    # bounded by MAX_WEIGHT_TOTAL (1e15) -> fit decimal(16,0); the
    # product precision 19+16=35 <= 38, so the comparison is exact
    dec_cap = "decimal(19,0)"
    dec_w = "decimal(16,0)"
    o = j.select(
        "*",
        F.sum("capacity_tokens").over(cum).alias("_cumcap"),
        F.sum("weight").over(cum).alias("_cumw"),
        F.sum("weight").over(whole).alias("_totw"),
    ).withColumn(
        "saturated",
        (
            F.col("capacity_tokens").cast(dec_cap)
            * (F.col("_totw") - F.col("_cumw")).cast(dec_w)
        )
        <= ((b - F.col("_cumcap")).cast(dec_cap) * F.col("weight").cast(dec_w)),
    )
    t = o.select(
        "*",
        F.sum(
            F.when(F.col("saturated"), F.col("capacity_tokens")).otherwise(0)
        )
        .over(whole)
        .alias("_satcap"),
        F.sum(F.when(F.col("saturated"), F.col("weight")).otherwise(0))
        .over(whole)
        .alias("_satw"),
    )
    # floor(rem * weight / remw) without int64 overflow: integral
    # quotient split. weight <= remw for every non-saturated row (both
    # are drawn from the same unsaturated weight sum), so the first
    # term and the final result fit int64 — but the cross term
    # (rem % remw) * weight reaches ~1e30 under the advertised
    # MAX_WEIGHT_TOTAL (1e15), overflowing int64 inside the supported
    # domain (round-6 advice, medium). It is computed in decimal
    # (16+16 digits -> precision 33 <= 38); DIV on decimals performs
    # exact integral division and returns BIGINT, so in-range results
    # are bit-identical to the old int64 arithmetic.
    floor_alloc = (
        F.expr("(_b - _satcap) DIV (_totw - _satw)") * F.col("weight")
        + F.expr(
            "(CAST((_b - _satcap) % (_totw - _satw) AS DECIMAL(16,0))"
            " * CAST(weight AS DECIMAL(16,0)))"
            " DIV CAST(_totw - _satw AS DECIMAL(16,0))"
        )
    )
    return (
        t.withColumn("_b", b)
        .withColumn(
            "allocation_tokens",
            F.when(F.col("saturated"), F.col("capacity_tokens")).otherwise(
                floor_alloc
            ),
        )
        .withColumn(
            "fill_ratio",
            F.round(
                F.col("allocation_tokens")
                / F.nullif(F.col("capacity_tokens"), F.lit(0)),
                6,
            ),
        )
        .select(
            "stratum",
            "weight",
            "capacity_tokens",
            "saturated",
            "allocation_tokens",
            "fill_ratio",
        )
    )


def token_budget_mix_sql(
    weights: dict[str, int],
    budget: int,
    table: str = "documents",
    stratum_col: str = "lang",
    tokens_col: str = "n_chars",
) -> str:
    """DuckDB twin of `token_budget_mix`: same sorted-window
    water-filling, HUGEINT cross-multiplication for the saturation
    flag, identical integer-split flooring."""
    _check_weights(weights)
    vals = ", ".join(
        f"('{k}', {int(v)}::BIGINT)" for k, v in sorted(weights.items())
    )
    b = int(budget)
    return f"""
WITH w(stratum, weight) AS (VALUES {vals}),
cap AS (
  SELECT {stratum_col} AS stratum, SUM({tokens_col})::BIGINT AS capacity_tokens
  FROM {table} GROUP BY {stratum_col}
),
j AS (
  SELECT w.stratum, w.weight, COALESCE(cap.capacity_tokens, 0)::BIGINT AS capacity_tokens
  FROM w LEFT JOIN cap USING (stratum)
),
o AS (
  SELECT *,
    SUM(capacity_tokens) OVER win AS _cumcap,
    SUM(weight) OVER win AS _cumw,
    SUM(weight) OVER () AS _totw
  FROM j
  WINDOW win AS (ORDER BY capacity_tokens * 1.0 / weight ASC, stratum ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT *,
    (capacity_tokens::HUGEINT * (_totw - _cumw)::HUGEINT
       <= ({b}::HUGEINT - _cumcap::HUGEINT) * weight::HUGEINT) AS saturated
  FROM o
),
t AS (
  SELECT *,
    SUM(CASE WHEN saturated THEN capacity_tokens ELSE 0 END) OVER () AS _satcap,
    SUM(CASE WHEN saturated THEN weight ELSE 0 END) OVER () AS _satw
  FROM s
)
SELECT stratum, weight, capacity_tokens, saturated,
  CAST(CASE WHEN saturated THEN capacity_tokens
       ELSE (({b} - _satcap) // (_totw - _satw)) * weight
            + ((({b} - _satcap) % (_totw - _satw)) * weight) // (_totw - _satw)
  END AS BIGINT) AS allocation_tokens,
  ROUND(
    (CASE WHEN saturated THEN capacity_tokens
          ELSE (({b} - _satcap) // (_totw - _satw)) * weight
               + ((({b} - _satcap) % (_totw - _satw)) * weight) // (_totw - _satw)
     END) * 1.0 / NULLIF(capacity_tokens, 0), 6) AS fill_ratio
FROM t
"""


def fill_to_allocation(
    docs: DataFrame,
    plan: DataFrame,
    stratum_col: str = "lang",
    tokens_col: str = "n_chars",
    id_col: str = "doc_id",
    order_by: Column | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """Select, per stratum, the greedy prefix of documents (total
    order: `order_by` ascending NULLS LAST, `id_col` tiebreak) whose
    running `tokens_col` total stays <= the stratum's
    `allocation_tokens` from `plan`. Returns the input schema
    unchanged; strata absent from the plan are dropped.

    Exact distributed prefix sum (see module docstring): range
    repartition -> per-bucket offsets -> bounded per-bucket window —
    value-identical to the naive per-stratum window cumsum, with no
    single-task sort of a mega-stratum.

    The bucketed rows are always localCheckpointed so the offsets
    branch and the cumsum branch read the SAME materialized bucket
    assignment — without it the two branches would re-evaluate the
    range exchange independently and the two RangePartitioners could
    sample different boundaries, silently corrupting the prefix sums
    (see operators/prefixsum.py for why the former fast path was
    unsound).
    """
    from docling_pdf_spark.operators.prefixsum import (
        bucket_offsets,
        bucketize_by_range,
    )

    order = (
        [order_by.asc_nulls_last(), F.col(id_col).asc()]
        if order_by is not None
        else [F.col(id_col).asc()]
    )
    bucketed = bucketize_by_range(docs, [F.col(stratum_col), *order], n_buckets)
    offsets = bucket_offsets(
        bucketed, F.sum(tokens_col), partition_cols=[stratum_col]
    )

    wloc = (
        Window.partitionBy(stratum_col, "_bucket")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bucketed.withColumn("_cum_local", F.sum(tokens_col).over(wloc))

    plan_small = plan.select(
        F.col("stratum").alias(stratum_col), "allocation_tokens"
    )
    out = (
        cum.join(F.broadcast(offsets), [stratum_col, "_bucket"])
        .join(F.broadcast(plan_small), stratum_col)
        .where(
            F.col("_offset") + F.col("_cum_local")
            <= F.col("allocation_tokens")
        )
        .drop("_bucket", "_cum_local", "_offset", "allocation_tokens")
    )
    return out.select(*docs.columns)


def fill_to_allocation_sql(
    mix_sql: str,
    table: str = "documents",
    stratum_col: str = "lang",
    tokens_col: str = "n_chars",
    id_col: str = "doc_id",
    order_sql: str | None = None,
) -> str:
    """DuckDB twin: the NAIVE per-stratum window cumsum over `table`,
    joined to the plan produced by `mix_sql` (pass the string from
    `token_budget_mix_sql`). The distributed prefix-sum Spark plan
    must be value-identical to this."""
    order = (
        f"{order_sql} NULLS LAST, {id_col}" if order_sql else f"{id_col}"
    )
    return f"""
WITH plan AS ({mix_sql}),
c AS (
  SELECT d.*,
    SUM({tokens_col}) OVER (PARTITION BY {stratum_col} ORDER BY {order}
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum
  FROM {table} d
)
SELECT c.* EXCLUDE (_cum)
FROM c JOIN plan ON c.{stratum_col} = plan.stratum
WHERE c._cum <= plan.allocation_tokens
"""
