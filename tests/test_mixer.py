"""Token-budget mix planner (operators/mixer.py): the water-filling
plan and the distributed prefix-sum selection must be value-identical
to the naive single-window DuckDB SQL — that equality is the
operator's correctness contract (same bar as per_source_cap)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from docling_pdf_spark.operators.mixer import (
    fill_to_allocation,
    fill_to_allocation_sql,
    token_budget_mix,
    token_budget_mix_sql,
)
from tests.test_queries_vs_duckdb import SF_DIR, _assert_matches

WEIGHTS = {"en": 500_000, "de": 200_000, "fr": 200_000, "xx": 100_000}


def _docs(spark, d=SF_DIR):
    return spark.read.parquet(f"{d}/documents.parquet")


@pytest.mark.parametrize("budget", [50_000, 8_000, 0, 99_000_000])
def test_plan_matches_duckdb(spark, budget):
    """All regimes: partial saturation (50k), deep scarcity (8k),
    zero budget, budget >> capacity (everything saturates)."""
    _assert_matches(
        spark,
        f"token_budget_mix_{budget}",
        lambda s, d: token_budget_mix(_docs(s, d), WEIGHTS, budget),
        token_budget_mix_sql(WEIGHTS, budget),
    )


@pytest.mark.parametrize("budget", [50_000, 8_000, 104_585])
def test_selection_matches_duckdb(spark, budget):
    msql = token_budget_mix_sql(WEIGHTS, budget)
    _assert_matches(
        spark,
        f"fill_to_allocation_{budget}",
        lambda s, d: fill_to_allocation(
            _docs(s, d),
            token_budget_mix(_docs(s, d), WEIGHTS, budget),
            order_by=-F.col("n_chars"),
            n_buckets=7,
        ),
        fill_to_allocation_sql(msql, order_sql="n_chars DESC"),
    )


def test_prefix_sum_equals_naive_window(spark):
    """Spark-side equivalence: the distributed prefix-sum selection
    equals the direct per-stratum window cumsum for every bucket count
    probed — including n_buckets=1 (degenerates to one range bucket)
    and n_buckets far beyond the row count (empty buckets)."""
    docs = _docs(spark)
    plan = token_budget_mix(docs, WEIGHTS, 50_000)
    order = [(-F.col("n_chars")).asc_nulls_last(), F.col("doc_id").asc()]
    w = Window.partitionBy("lang").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = (
        docs.withColumn("_cum", F.sum("n_chars").over(w))
        .join(
            plan.select(F.col("stratum").alias("lang"), "allocation_tokens"),
            "lang",
        )
        .where(F.col("_cum") <= F.col("allocation_tokens"))
    )
    expect = sorted(r.doc_id for r in naive.select("doc_id").collect())
    for nb in (1, 7, 32, 4096):
        got = sorted(
            r.doc_id
            for r in fill_to_allocation(
                docs, plan, order_by=-F.col("n_chars"), n_buckets=nb
            )
            .select("doc_id")
            .collect()
        )
        assert got == expect, f"n_buckets={nb}: {len(got)} vs {len(expect)}"


def test_waterfilling_invariants(spark):
    """Saturated strata get exactly their capacity; unsaturated
    allocations are floor-proportional to weight; total allocation is
    min(budget, capacity) up to < 1 token flooring loss per
    unsaturated stratum; a stratum with no documents saturates at 0."""
    docs = _docs(spark)
    budget = 50_000
    rows = {
        r["stratum"]: r
        for r in token_budget_mix(docs, WEIGHTS, budget).collect()
    }
    assert set(rows) == set(WEIGHTS)
    assert rows["xx"]["capacity_tokens"] == 0
    assert rows["xx"]["saturated"] and rows["xx"]["allocation_tokens"] == 0

    total_cap = sum(r["capacity_tokens"] for r in rows.values())
    alloc_sum = sum(r["allocation_tokens"] for r in rows.values())
    n_unsat = sum(1 for r in rows.values() if not r["saturated"])
    target = min(budget, total_cap)
    assert alloc_sum <= target
    assert alloc_sum > target - max(n_unsat, 1)

    for r in rows.values():
        assert r["allocation_tokens"] <= r["capacity_tokens"]
        if r["saturated"]:
            assert r["allocation_tokens"] == r["capacity_tokens"]
    # exact redistribution: unsaturated allocations share the residual
    # budget in weight proportion (floored)
    satcap = sum(
        r["capacity_tokens"] for r in rows.values() if r["saturated"]
    )
    remw = sum(r["weight"] for r in rows.values() if not r["saturated"])
    for r in rows.values():
        if not r["saturated"]:
            assert (
                r["allocation_tokens"]
                == (budget - satcap) * r["weight"] // remw
            )


def test_validation_errors(spark):
    docs = _docs(spark)
    with pytest.raises(ValueError):
        token_budget_mix(docs, {}, 10)
    with pytest.raises(ValueError):
        token_budget_mix(docs, {"en": 0}, 10)
    with pytest.raises(ValueError):
        token_budget_mix(docs, {"en": -5}, 10)
    with pytest.raises(ValueError):
        token_budget_mix(docs, {"en": 1}, -1)


def test_raw_token_grain_weights_stay_exact(spark):
    """The review-found overflow scenario: raw token-count grain
    weights in the billions (the docstring invites 'any grain'). The
    decimal(19,0)x(16,0) cross-multiplication must neither overflow
    under ANSI mode nor diverge from the DuckDB HUGEINT twin."""
    big = {"en": 6_000_000_000, "de": 6_000_000_000, "fr": 1}
    _assert_matches(
        spark,
        "token_budget_mix_biggrain",
        lambda s, d: token_budget_mix(_docs(s, d), big, 50_000),
        token_budget_mix_sql(big, 50_000),
    )


def test_weight_total_bound_rejected(spark):
    """Weight sums past 1e15 would push the decimal product over
    (38,0) — rejected up front so the exactness guarantee is
    unconditional."""
    docs = _docs(spark)
    with pytest.raises(ValueError, match="sum of weights"):
        token_budget_mix(docs, {"en": 10**15, "de": 1}, 10)


def test_selection_on_shuffle_rooted_input(spark):
    """The checkpointed bucket assignment is frozen, so the offsets
    and cumsum branches agree even when the input lineage is rooted in
    a shuffle (join/aggregate upstream) rather than a deterministic
    scan. Equality vs the naive per-stratum window
    cumsum computed on the SAME shuffle-rooted frame."""
    docs = _docs(spark)
    # shuffle-rooted: aggregate per lang, join back (two exchanges)
    lang_sizes = docs.groupBy("lang").agg(F.count("*").alias("_n"))
    shuffled = docs.join(lang_sizes, "lang").drop("_n")
    plan = token_budget_mix(shuffled, WEIGHTS, 50_000)
    order = [(-F.col("n_chars")).asc_nulls_last(), F.col("doc_id").asc()]
    w = Window.partitionBy("lang").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = (
        shuffled.withColumn("_cum", F.sum("n_chars").over(w))
        .join(
            plan.select(F.col("stratum").alias("lang"), "allocation_tokens"),
            "lang",
        )
        .where(F.col("_cum") <= F.col("allocation_tokens"))
    )
    expect = sorted(r.doc_id for r in naive.select("doc_id").collect())
    got = sorted(
        r.doc_id
        for r in fill_to_allocation(
            shuffled, plan, order_by=-F.col("n_chars"), n_buckets=7
        )
        .select("doc_id")
        .collect()
    )
    assert got == expect


def test_selection_drops_unplanned_strata(spark):
    """Strata absent from the weight table contribute nothing."""
    docs = _docs(spark)
    plan = token_budget_mix(docs, {"en": 1}, 10**9)
    out = fill_to_allocation(docs, plan, order_by=-F.col("n_chars"))
    langs = {r.lang for r in out.select("lang").distinct().collect()}
    assert langs == {"en"}
    assert out.columns == docs.columns


def test_waterfilling_property_random_weights_budgets(spark):
    """Hypothesis sweep of the exact water-filling algebra over random
    weight grains (1..1e12), budgets (0..beyond capacity) and token
    distributions: every invariant the closed form promises must hold
    — saturated strata get exactly their capacity, unsaturated ones
    the floored proportional share of the residual, Σalloc ≤
    min(budget, capacity), and the selection keeps exactly the
    maximal in-order prefix within each allocation."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    strat = st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=10**12),   # weight
            st.lists(st.integers(min_value=0, max_value=5_000),
                     min_size=0, max_size=8),              # doc tokens
        ),
        min_size=1, max_size=5,
    )

    @given(entries=strat, budget=st.integers(min_value=0, max_value=60_000))
    @settings(max_examples=15, deadline=None)
    def check(entries, budget):
        weights = {f"s{i}": w for i, (w, _) in enumerate(entries)}
        rows = [
            (f"s{i}-d{j}", f"s{i}", t)
            for i, (_, toks) in enumerate(entries)
            for j, t in enumerate(toks)
        ]
        docs = spark.createDataFrame(
            rows or [("empty", "s0", 0)],
            "doc_id string, lang string, n_chars long",
        )
        if not rows:
            docs = docs.where(F.lit(False))
        plan = {
            r["stratum"]: r
            for r in token_budget_mix(docs, weights, budget).collect()
        }
        caps = {
            f"s{i}": sum(toks) for i, (_, toks) in enumerate(entries)
        }
        assert set(plan) == set(weights)
        satcap = sum(
            r["capacity_tokens"] for r in plan.values() if r["saturated"]
        )
        remw = sum(
            r["weight"] for r in plan.values() if not r["saturated"]
        )
        total_alloc = 0
        for s, r in plan.items():
            assert r["capacity_tokens"] == caps.get(s, 0)
            assert 0 <= r["allocation_tokens"] <= r["capacity_tokens"]
            if r["saturated"]:
                assert r["allocation_tokens"] == r["capacity_tokens"]
            else:
                assert (
                    r["allocation_tokens"]
                    == (budget - satcap) * r["weight"] // remw
                )
            total_alloc += r["allocation_tokens"]
        assert total_alloc <= min(budget, sum(caps.values()))

        # selection: exactly the maximal in-order prefix per stratum
        kept = {
            r.doc_id
            for r in fill_to_allocation(
                docs,
                token_budget_mix(docs, weights, budget),
                order_by=-F.col("n_chars"),
                n_buckets=3,
            ).select("doc_id").collect()
        }
        for i, (_, toks) in enumerate(entries):
            order = sorted(
                ((t, f"s{i}-d{j}") for j, t in enumerate(toks)),
                key=lambda p: (-p[0], p[1]),
            )
            alloc = plan[f"s{i}"]["allocation_tokens"]
            cum, expect = 0, set()
            for t, d in order:
                if cum + t > alloc:
                    break
                cum += t
                expect.add(d)
            assert {d for d in kept if d.startswith(f"s{i}-")} == expect

    check()


def test_floor_split_no_int64_overflow_at_max_weights(spark):
    """Round-6 advice (medium): with weight totals near the advertised
    MAX_WEIGHT_TOTAL (1e15), the unsaturated floor split's cross term
    (rem % remw) * weight reaches ~1e30 — the old int64 arithmetic
    overflowed inside the supported domain (ANSI throws; non-ANSI
    silently wraps to wrong allocations). The decimal quotient split
    must return the exact floor(budget * w / totw)."""
    from docling_pdf_spark.operators.mixer import token_budget_mix

    wa, wb = 4 * 10**14, 6 * 10**14 - 1
    budget = 10**12
    docs = spark.createDataFrame(
        [("a", 10**12), ("b", 10**12)], "lang string, n_chars long"
    )
    plan = {
        r["stratum"]: r
        for r in token_budget_mix(docs, {"a": wa, "b": wb}, budget).collect()
    }
    totw = wa + wb
    assert not plan["a"]["saturated"] and not plan["b"]["saturated"]
    assert plan["a"]["allocation_tokens"] == budget * wa // totw
    assert plan["b"]["allocation_tokens"] == budget * wb // totw
