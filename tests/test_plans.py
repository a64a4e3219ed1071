"""Physical-plan regression tests: the 100 TB story depends on these
plan shapes, not just on correct rows (SURVEY.md §4.2; driver mandate
'explain the plan and iterate until it's the plan you'd want')."""

from __future__ import annotations

import pytest

from docling_pdf_spark.queries import (
    q_dedup_exact,
    q_point_lookup,
    q_pricing_summary,
    q_resume_anti_join,
    q_top_orders,
)

SF_DIR = "/root/testdata/sf0.01"


def _plan(spark, fn) -> str:
    from docling_pdf_spark.plans import formatted_plan

    return formatted_plan(fn(spark, SF_DIR))


def test_plan_report_scorecard(spark):
    from docling_pdf_spark.plans import plan_report

    rep = plan_report(q_top_orders(spark, SF_DIR))
    assert rep["has_pushdown"]
    assert rep["broadcast_joins"] >= 1
    assert rep["python_stages"] == 0
    assert rep["scans"] >= 3  # 3 tables (tree + detail sections both count)


def test_point_lookup_pushes_predicate(spark):
    plan = _plan(spark, q_point_lookup)
    assert "EqualTo(doc_id,42)" in plan  # filter reaches the parquet scan
    # column pruning: text column never read
    assert "text" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_q1_pushes_date_filter_and_prunes(spark):
    plan = _plan(spark, q_pricing_summary)
    assert "LessThanOrEqual(l_shipdate" in plan
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read  # unused columns pruned from the scan


def test_top_orders_broadcasts_dimension(spark):
    plan = _plan(spark, q_top_orders)
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(c_mktsegment,BUILDING)" in plan  # dim filter pushed


def test_resume_anti_join_is_broadcast_anti(spark):
    plan = _plan(spark, q_resume_anti_join)
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_dedup_has_partial_aggregate(spark):
    plan = _plan(spark, q_dedup_exact)
    # partial+final hash aggregation (map-side combine before shuffle)
    assert plan.count("HashAggregate") >= 2


def test_aggregates_stay_in_codegen(spark):
    # AQE hides codegen spans until execution → inspect the executed plan
    df = q_pricing_summary(spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # '*(n)' prefixes mark whole-stage-codegen spans in plan toString
    assert "*(1)" in executed and "*(2)" in executed
    assert "partial_sum" in executed  # map-side combine before the shuffle


@pytest.mark.parametrize("fn", [q_pricing_summary, q_dedup_exact])
def test_no_python_in_relational_plans(spark, fn):
    plan = _plan(spark, fn)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan  # relational queries never enter Python


def test_narrow_ops_have_no_shuffle_or_python(spark):
    """deterministic_split is a pure per-row hash expression: its plan
    must be scan → project with no Exchange and no Python stage (at
    100 TB it runs at scan speed, embarrassingly parallel)."""
    from docling_pdf_spark.queries import q_deterministic_split
    from docling_pdf_spark.plans import formatted_plan

    plan = formatted_plan(q_deterministic_split(spark, SF_DIR))
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow"):
        assert marker not in plan


def test_winnow_is_one_narrow_arrow_stage(spark):
    """winnow_fingerprints (round 7): ONE MapInArrow batch stage
    computing the portable md5-low-60 gram kernel natively — the JVM
    expression form paid ~3-5 µs/gram inside an interpreted transform()
    lambda. Still embarrassingly parallel: no hash/range partitioning
    anywhere (the only Exchange permitted is the round-robin
    unsplittable-scan spread of guide §2.5), no row-at-a-time Python."""
    from docling_pdf_spark.queries import q_winnow_fingerprints
    from docling_pdf_spark.plans import formatted_plan

    plan = formatted_plan(q_winnow_fingerprints(spark, SF_DIR))
    assert "MapInArrow" in plan
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_portable_minhash_runs_signatures_once_per_join_side(spark):
    """minhash_lsh_dedup_portable feeds its Arrow signatures straight
    into the shared band-tuple bucket join (operators/dedup
    ._bucket_pairs), which carries each side's signature: one
    MapInArrow per join side, 2 in all. Joining the signature table
    back to the pairs for the Jaccard estimate ran the Python signature
    stage a third time."""
    from docling_pdf_spark.operators.dedup import minhash_lsh_dedup_portable
    from docling_pdf_spark.plans import formatted_plan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = formatted_plan(minhash_lsh_dedup_portable(docs, threshold=0.3))
    assert plan.count("MapInArrow (") < 3


def test_regional_revenue_broadcasts_all_dims(spark):
    """TPC-H Q5-style star join: region filter pushed to the scan, every
    dim join broadcast, no sort-merge join anywhere."""
    from docling_pdf_spark.queries import q_regional_revenue
    from docling_pdf_spark.plans import plan_report

    rep = plan_report(q_regional_revenue(spark, SF_DIR))
    assert rep["has_pushdown"]
    assert any("EqualTo(r_name,ASIA)" in f for f in rep["pushed_filters"])
    assert rep["broadcast_joins"] >= 4
    assert rep["sortmerge_joins"] == 0
    assert rep["python_stages"] == 0


def test_asof_join_is_single_shuffle(spark):
    """The union+window as-of formulation must cost exactly one
    hash-partition exchange (on the by-key) — no range-join explosion,
    no extra sort-merge join."""
    from docling_pdf_spark.queries import q_asof_last_purchase
    from docling_pdf_spark.plans import formatted_plan

    plan = formatted_plan(q_asof_last_purchase(spark, SF_DIR))
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan
    # exchanges: the window's hashpartitioning(user_id) plus the partial
    # aggregate for the right-side dedup — but never a join exchange pair
    assert plan.count("hashpartitioning(user_id") <= 4  # tree+detail dup
    assert "Window" in plan


def test_top_tokens_preaggregates_before_python(spark):
    """The two-level combine: token counts are a JVM partial+final hash
    aggregate (map-side combine) BEFORE the grouped-map pandas kernel,
    so the Python stage sees per-language vocabularies, never corpora."""
    from docling_pdf_spark.operators.textstats import top_tokens_per_language
    from docling_pdf_spark.plans import formatted_plan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = formatted_plan(top_tokens_per_language(docs, k=10))
    assert "FlatMapGroupsInPandas" in plan  # the grouped-map stage exists
    assert plan.count("HashAggregate") >= 2  # partial+final combine below it
    # the aggregate must be UPSTREAM of the pandas stage: in the
    # formatted tree, deeper nodes print after their parents
    tree = plan.split("==")[2] if "==" in plan else plan
    assert tree.find("FlatMapGroupsInPandas") < tree.find("HashAggregate")


def _sf0001_spans_docs(spark):
    """sf0.001 documents (500 rows, one file, one row group) as the
    extraction input: one text span per doc."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"), F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )


def test_extraction_plan_shape(spark):
    """The extraction pipeline's physical plan: exactly one Python stage
    (MapInArrow); without num_partitions there is no exchange at all,
    'heavy' adds exchanges only for the (tiny) heavy branch."""
    from docling_pdf_spark.pipeline import extract
    from docling_pdf_spark.plans import formatted_plan

    spans_docs = _sf0001_spans_docs(spark)
    # formatted explain names each node twice (tree + detail section)
    narrow = formatted_plan(extract(spans_docs, num_partitions=None))
    assert narrow.count("MapInArrow") == 2  # exactly ONE Python stage
    assert "Exchange" not in narrow  # fully narrow: scan → UDF

    heavy = formatted_plan(extract(spans_docs, num_partitions=8, salt_mode="heavy"))
    assert heavy.count("MapInArrow") == 2  # still one Python stage
    assert "Union" in heavy  # light passthrough ∪ shuffled heavy cohort


@pytest.mark.parametrize("num_partitions", [None, 8])
def test_extract_rejects_unknown_salt_mode(spark, num_partitions):
    from docling_pdf_spark.pipeline import extract
    from docling_pdf_spark.schemas import DOCUMENTS_SCHEMA

    docs = spark.createDataFrame([], DOCUMENTS_SCHEMA)
    # 'none' is no mode: num_partitions=None already keeps the input's
    for mode in ("bogus", "none"):
        with pytest.raises(ValueError, match="unknown salt_mode"):
            extract(docs, num_partitions=num_partitions, salt_mode=mode)


def _auto_verdict(df, num_partitions: int) -> str:
    """The 'auto' verdict both extraction entry points reach on df."""
    from docling_pdf_spark.pipeline import _planning_aggregate, resolve_salt_mode

    splits = _planning_aggregate(df, with_cost_moments=True)[2]
    return resolve_salt_mode(splits, num_partitions)


def test_auto_salt_mode_selection(spark):
    """salt_mode='auto' (the default) closes the documented heavy-only
    24× footgun: an unsorted layout keeps the heavy-only plan (light
    branch stays shuffle-free), a cost-sorted layout switches to the
    full uniform salt."""
    from pyspark.sql import functions as F

    from docling_pdf_spark.pipeline import extract
    from docling_pdf_spark.plans import formatted_plan

    spans_docs = _sf0001_spans_docs(spark)
    # explicit range partitioning (AQE would coalesce a tiny orderBy to
    # one partition, hiding the clustering from the per-split probe):
    # 8 partitions, each one cost band — the adversarial layout
    sorted_docs = (
        spans_docs.withColumn("_len", F.length(F.col("spans")[0]["text"]))
        .repartitionByRange(8, "_len")
        .drop("_len")
    )
    # well-mixed layout with adequate parallelism (hash-spread splits)
    mixed_docs = spans_docs.repartition(8, "doc_id")

    # the verdict itself, on the unsampled per-split moments
    assert _auto_verdict(mixed_docs, 8) == "heavy"
    assert _auto_verdict(sorted_docs, 8) == "full"
    # parallelism guard: a single-split light branch must trigger full
    # salt even with zero cost clustering (the sorted1file 42s-task case)
    assert _auto_verdict(spans_docs, 8) == "full"

    # auto == heavy on the mixed layout: light branch shuffle-free
    auto_plan = formatted_plan(extract(mixed_docs, num_partitions=8))
    heavy_plan = formatted_plan(
        extract(mixed_docs, num_partitions=8, salt_mode="heavy")
    )
    assert "Union" in auto_plan
    assert auto_plan.count("Exchange") == heavy_plan.count("Exchange")

    # auto == full on the cost-sorted layout: everything is salted
    auto_sorted = formatted_plan(extract(sorted_docs, num_partitions=8))
    assert "Union" not in auto_sorted  # no heavy/light split
    assert "_salt" in auto_sorted  # uniform salt repartition present


def test_auto_extract_runs_one_query(spark):
    """extract() in 'auto' mode runs exactly one eager query before it
    returns: the unsampled per-split aggregate, whatever the input size."""
    from docling_pdf_spark.pipeline import extract
    from tests.test_resume import _last_execution_id

    spans_docs = _sf0001_spans_docs(spark)
    before = _last_execution_id(spark)
    extract(spans_docs, num_partitions=8)
    assert _last_execution_id(spark) - before == 1


@pytest.mark.parametrize("g,num_partitions", [(8, 8), (11, 4)])
def test_heavy_cohort_spread_is_exact(spark, g, num_partitions):
    """Round-robin from many map tasks is not an exact spread: each task
    starts at its own offset, so giants from different scan splits
    collide. heavy_only_salting(exact=True) gathers the cohort first, so
    with g <= num_partitions every heavy partition holds exactly one
    giant, and with more giants the loads differ by at most 1."""
    from pyspark.sql import functions as F

    from docling_pdf_spark.conf import OVERSIZE_COST_BUCKET_BYTES
    from docling_pdf_spark.pipeline import heavy_only_salting

    # one giant per input split: g splits, one row each
    giants = spark.range(g, numPartitions=g).select(
        F.concat(F.lit("giant-"), F.col("id").cast("string")).alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.expr(f"repeat('x', {OVERSIZE_COST_BUCKET_BYTES})").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    loads = [
        r["n"]
        for r in heavy_only_salting(giants, num_partitions, exact=True)
        .where(F.col("_cost_bytes") >= OVERSIZE_COST_BUCKET_BYTES)
        .groupBy(F.spark_partition_id().alias("pid"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    assert sum(loads) == g
    assert len(loads) == min(g, num_partitions)
    assert max(loads) - min(loads) <= 1  # g <= num_partitions: all 1


def test_detector_survives_sparse_per_split_samples(spark):
    """Many small ordered splits: 200 splits × 100 docs, cost ascending
    with the split. The ANOVA correction must not cancel the
    between-split variance on this many-small-file sorted layout, and a
    hash-mixed control over the same docs must stay heavy."""
    from pyspark.sql import functions as F

    def spans(df):
        return df.select(
            F.col("id").cast("string").alias("doc_id"),
            F.array(
                F.struct(
                    F.lit("text").alias("kind"),
                    F.expr("repeat('x', 10 + cast(id / 50 as int))").alias("text"),
                    F.lit(None).cast("string").alias("media_ref"),
                    F.lit(0).alias("offset"),
                )
            ).alias("spans"),
        )

    base = spark.range(20000, numPartitions=200)  # cost ascending w/ id
    assert _auto_verdict(spans(base), 8) == "full"
    # hash-mixed control: same docs, same split count
    mixed = spark.range(20000, numPartitions=200).repartition(200, "id")
    assert _auto_verdict(spans(mixed), 8) == "heavy"


@pytest.mark.parametrize("dim", [32, 1024])
def test_text_embedding_is_one_narrow_arrow_stage(spark, dim):
    """Round 7: the embedder is ONE MapInArrow batch stage at every dim
    (bit-exact vectorized XXH64 twin; parity pinned in
    test_operators.test_text_embedding_arrow_matches_jvm_form) — the
    JVM map-rebuild form paid two shuffles of combined token-scale data
    plus an interpreted element_at rebuild evaluated dim times per doc.
    No hash/range partitioning anywhere; the only Exchange permitted is
    the round-robin unsplittable-scan spread (guide §2.5); no
    row-at-a-time Python."""
    from docling_pdf_spark.operators.similarity import text_embedding
    from docling_pdf_spark.plans import formatted_plan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = formatted_plan(text_embedding(docs, dim=dim))
    assert "MapInArrow" in plan
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_sequence_packing_window_is_sharded(spark):
    """The packing cumsum must be a window PARTITIONED BY the shard —
    one hash exchange on pmod(doc_id), never the single-partition
    global-order window a naive packer ships with (which serializes
    the corpus through one task at 100 TB)."""
    from docling_pdf_spark.queries import q_sequence_packing
    from docling_pdf_spark.plans import formatted_plan

    plan = formatted_plan(q_sequence_packing(spark, SF_DIR))
    assert "Window" in plan
    # the shard expression materializes as a _w window-partition column
    # hashed across 32 partitions
    assert "hashpartitioning(_w" in plan
    assert plan.count("Exchange (") == 1
    # the fatal shape: Exchange SinglePartition feeding the Window
    assert "SinglePartition" not in plan


def test_fill_to_allocation_plan_shape(spark):
    """The selection stage must NOT sort a whole stratum in one task:
    the docs path goes range-exchange -> bounded (stratum, bucket)
    window; bucket offsets and the per-stratum plan arrive by
    broadcast. The only SinglePartition window allowed is the
    water-filling one over the per-stratum AGGREGATE (bounded by the
    number of strata, not documents)."""
    from pyspark.sql import functions as F

    from docling_pdf_spark.operators.mixer import (
        fill_to_allocation,
        token_budget_mix,
    )
    from docling_pdf_spark.plans import formatted_plan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # round 7: the bucket assignment is ALWAYS localCheckpointed (the
    # former materialize=False lineage-exposing path was unsound —
    # round-6 advice), so the range-exchange lineage is pinned by
    # test_prefixsum_bucket_lineage_is_range_exchange instead.
    # End-to-end shape: both docs-side branches read ONE frozen bucket
    # assignment (a localCheckpoint scan that already carries _bucket),
    # the cumsum window hash-partitions on (lang, _bucket), and
    # offsets + plan arrive by broadcast
    pd_ = formatted_plan(fill_to_allocation(
        docs,
        token_budget_mix(docs, {"en": 5, "de": 2, "fr": 2}, 50_000),
        order_by=-F.col("n_chars"),
        n_buckets=8,
    ))
    assert "localCheckpoint" in pd_, "bucket assignment must be frozen"
    assert "_bucket" in pd_ and "hashpartitioning(lang" in pd_
    assert pd_.count("BroadcastExchange") >= 2
    assert "Python" not in pd_
    for i, line in enumerate(pd_.splitlines()):
        if "SinglePartition" in line:
            ctx = "\n".join(pd_.splitlines()[max(0, i - 12): i + 4])
            assert "doc_id" not in ctx, (
                f"SinglePartition exchange on the document path:\n{ctx}"
            )


def test_deterministic_shuffle_plan_shape(spark):
    """The rank stage must NOT sort the whole corpus in one task: docs
    go range-exchange -> bounded per-bucket window; the cumulative
    bucket offsets arrive by broadcast. The only SinglePartition window
    runs over the per-bucket COUNTS (<= n_buckets rows)."""
    from pyspark.sql import functions as F

    from docling_pdf_spark.operators.shuffle import deterministic_shuffle
    from docling_pdf_spark.plans import formatted_plan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # round 7: ONE frozen (always-localCheckpointed) bucket assignment
    # feeds both branches — the range-exchange lineage is pinned by
    # test_prefixsum_bucket_lineage_is_range_exchange; here we pin the
    # end-to-end boundedness guarantees
    pd_ = formatted_plan(deterministic_shuffle(docs, 42, n_buckets=8))
    assert "localCheckpoint" in pd_
    assert "hashpartitioning(_bucket" in pd_
    assert "BroadcastExchange" in pd_, "offsets must broadcast, not shuffle"
    for i, line in enumerate(pd_.splitlines()):
        if "SinglePartition" in line:
            ctx = "\n".join(pd_.splitlines()[max(0, i - 12): i + 4])
            assert "doc_id" not in ctx and "text" not in ctx, (
                f"SinglePartition on the document path:\n{ctx}"
            )
    assert "Python" not in pd_, "pure-JVM operator"
    assert "BroadcastExchange" in pd_
    assert "Python" not in pd_
    for i, line in enumerate(pd_.splitlines()):
        if "SinglePartition" in line:
            ctx = "\n".join(pd_.splitlines()[max(0, i - 12): i + 4])
            assert "doc_id" not in ctx and "text" not in ctx, (
                f"SinglePartition on the document path:\n{ctx}"
            )


def test_dsir_plan_shape(spark):
    """DSIR scoring: the corpus-sized side moves through exactly one
    aggregation shuffle (map-side combined); the ratio table joins by
    BROADCAST; the only unpartitioned windows run over the bounded
    (<= n_buckets) bucket table; no Python stage anywhere."""
    from pyspark.sql import functions as F

    from docling_pdf_spark.operators.dsir import dsir_log_ratios, dsir_weights
    from docling_pdf_spark.plans import formatted_plan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    target = docs.where(F.col("doc_id") % 17 == 0)
    p = formatted_plan(dsir_weights(docs, dsir_log_ratios(docs, target)))
    assert "BroadcastExchange" in p, "ratio table must broadcast"
    assert "Python" not in p, "pure-JVM operator"
    assert p.count("HashAggregate") >= 2, "map-side combine on the counts"
    for i, line in enumerate(p.splitlines()):
        if "SinglePartition" in line:
            ctx = "\n".join(p.splitlines()[max(0, i - 12): i + 4])
            assert "text" not in ctx and "grams" not in ctx, (
                f"SinglePartition on the corpus path:\n{ctx}"
            )


def test_prefixsum_bucket_lineage_is_range_exchange(spark):
    """The (always-checkpointed) bucket assignment's lineage must be a
    RANGE exchange on the total order — never a single-task global
    sort, never Python. Asserted on the pre-checkpoint frame, since
    the checkpoint hides it behind an ExistingRDD scan in the
    downstream plans."""
    from pyspark.sql import functions as F

    from docling_pdf_spark.operators.prefixsum import _ranged_bucketed
    from docling_pdf_spark.plans import formatted_plan

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = formatted_plan(
        _ranged_bucketed(docs, [F.col("lang"), F.col("doc_id")], 8)
    )
    assert "rangepartitioning(lang" in p
    assert "SinglePartition" not in p
    assert "Python" not in p
