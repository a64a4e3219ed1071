"""The distributed extraction pipeline (SURVEY.md §4.4 physical sketch).

run_extraction costs 1 + k Spark queries for k commit groups:

    plan:  scan documents → ONE aggregate by (bucket, spark_partition_id)
           → input counts (completeness guard), giant counts (heavy
             sizing), per-split light-cohort cost moments ('auto' verdict)
    each commit group, one query:
           scan documents (filtered to the group's buckets)
      → salted repartition on (cost_bucket, salt)     # skew-taming shuffle
      → mapInArrow(_chunked_extract_arrow)            # ONLY Python stage
      → observe per-bucket stats (same result stage as the write)
      → write documents_extracted partitioned by bucket (idempotent)
      → _progress manifest commit from the observed stats

extract(df, num_partitions=n) in 'auto' mode runs the same planning
aggregate, by spark_partition_id alone, and judges its moments with the
same resolve_salt_mode.

Spark-first notes:
  * All pre/post-UDF expressions are built-in pyspark.sql.functions
    (JVM, whole-stage codegen): payload-cost estimation uses
    F.aggregate over the spans array, never Python.
  * The skew story (north_star "explicit salted repartitioning to tame
    skew from oversized PDFs"): scan order would otherwise cluster the
    oversized cohort into the tasks that read their row groups. We
    repartition on a uniform salt derived from xxhash64(doc_id), with
    heavyweight docs (payload ≥ OVERSIZE_COST_BUCKET_BYTES) spread
    round-robin (run_extraction sizes that spread to each commit group's
    giant count, one task per giant up to num_partitions); Arrow batches are
    additionally re-chunked by cumulative payload bytes inside the UDF
    so one giant can't blow a batch (analog of the reference's 50 MB
    admission cap world, docling-pdf config.py:20).
  * Errors are rows (pdf_extractor.py:357-369) — a poisoned doc never
    kills a task, so speculative re-execution stays safe.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from docling_pdf_spark.checkpoint import BucketManifest, ProgressLog
from docling_pdf_spark.conf import OVERSIZE_COST_BUCKET_BYTES, SALT_BUCKETS
from docling_pdf_spark.schemas import EXTRACTED_SCHEMA

MAX_BATCH_PAYLOAD_BYTES = 8 * 1024 * 1024  # re-chunk bound inside the UDF


def _cost_expr():
    """Payload bytes per doc, computed JVM-side over the spans array
    (whole-stage codegen; no Python touches this). One SQL string: the
    same expression built from pyspark.sql.functions and a Python lambda
    costs ~30 ms of py4j round trips, and run_extraction builds it once
    per commit group and heavy branch."""
    return F.expr(
        "aggregate(coalesce(spans, array()), CAST(0 AS BIGINT),"
        " (acc, s) -> acc + CAST(coalesce(length(s.text), 0) AS BIGINT))"
    )


def with_cost(df: DataFrame) -> DataFrame:
    return df.withColumn("_cost_bytes", _cost_expr())


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Explicit skew-taming shuffle (SURVEY.md §4.3.1).

    Light docs: uniform hash salt over doc_id. Heavy docs (oversized
    cohort): a distinct per-doc salt stream so they scatter one-per-task
    instead of landing wherever the scan found them.
    """
    df = with_cost(df)
    salt = F.pmod(F.xxhash64("doc_id"), F.lit(num_partitions * SALT_BUCKETS))
    heavy_salt = F.pmod(F.xxhash64("doc_id", F.lit(1)), F.lit(num_partitions))
    df = df.withColumn(
        "_salt",
        F.when(F.col("_cost_bytes") >= OVERSIZE_COST_BUCKET_BYTES, heavy_salt)
        .otherwise(salt),
    )
    return df.repartition(num_partitions, "_salt")


def _chunked_extract_arrow(
    batches: Iterable["pa.RecordBatch"],
) -> Iterator["pa.RecordBatch"]:
    """mapInArrow body: re-chunk each Arrow batch so cumulative payload
    (the JVM-computed _cost_bytes column) stays under
    MAX_BATCH_PAYLOAD_BYTES (one oversized doc can't blow a batch),
    then run the shared semantics Arrow-native."""
    from docling_pdf_spark.core.batch import extract_arrow_batch

    for batch in batches:
        n = batch.num_rows
        if not n:
            continue
        cost = batch.column(batch.schema.get_field_index("_cost_bytes")).to_pylist()
        # version-safe projection: RecordBatch.drop_columns only
        # exists in pyarrow >= 16 (older installs are common on
        # managed clusters)
        batch = batch.select([c for c in batch.schema.names if c != "_cost_bytes"])
        start = 0
        run = 0
        for i, c in enumerate(cost):
            run += int(c or 0)
            if run >= MAX_BATCH_PAYLOAD_BYTES and i > start:
                yield extract_arrow_batch(batch.slice(start, i - start))
                start, run = i, int(c or 0)
        if start < n:
            yield extract_arrow_batch(batch.slice(start, n - start))


CLUSTER_CV_THRESHOLD = 0.25
SALT_MODES = ("auto", "heavy", "full")


def _check_salt_mode(salt_mode: str) -> None:
    if salt_mode not in SALT_MODES:
        raise ValueError(f"unknown salt_mode: {salt_mode!r} (one of {SALT_MODES})")


def _planning_aggregate(
    docs: DataFrame, with_cost_moments: bool
) -> tuple[dict, dict, list[tuple[int, float, float]]]:
    """The one planning query of both entry points: an unsampled
    aggregate of the whole input over spark_partition_id() — and bucket,
    when docs has that column (run_extraction) — grouped by the ACTUAL
    split assignment the UDF stage will inherit. Returns input docs per
    bucket (the completeness guard's count, taken on the input side)
    and, with_cost_moments, giants per bucket and the light cohort's
    per-split (docs, Σcost, Σcost²) for resolve_salt_mode. Without
    bucket, the counts sit under the key None. Without cost moments the
    scan reads only doc_id; with them it reads the payload once."""
    keys = ["_pid", "bucket"] if "bucket" in docs.columns else ["_pid"]
    cols = [F.spark_partition_id().alias("_pid"), *keys[1:]]
    aggs = [F.count("*").alias("n")]
    if with_cost_moments:
        cols.append(_cost_expr().cast("double").alias("_c"))
        light = F.col("_c") < OVERSIZE_COST_BUCKET_BYTES
        aggs += [
            F.count(F.when(~light, 1)).alias("g"),
            F.count(F.when(light, 1)).alias("nl"),
            F.sum(F.when(light, F.col("_c"))).alias("s1"),
            F.sum(F.when(light, F.col("_c") * F.col("_c"))).alias("s2"),
        ]
    in_counts: dict = {}
    giants: dict = {}
    splits: dict[int, list] = {}
    for r in docs.select(*cols).groupBy(*keys).agg(*aggs).collect():
        b = r["bucket"] if len(keys) > 1 else None
        in_counts[b] = in_counts.get(b, 0) + r["n"]
        if with_cost_moments:
            giants[b] = giants.get(b, 0) + r["g"]
            if r["nl"]:
                acc = splits.setdefault(r["_pid"], [0, 0.0, 0.0])
                acc[0] += r["nl"]
                acc[1] += r["s1"]
                acc[2] += r["s2"]
    return in_counts, giants, [tuple(s) for s in splits.values()]


def _cost_clustered(
    splits: Iterable[tuple[int, float, float]], min_effective_splits: int
) -> bool:
    """Is per-doc cost CLUSTERED by scan split? Heavy-only salting
    degrades to a 24× max/median straggler tail on cost-sorted layouts
    (BENCH/BASELINE.md skew table): the giants spread fine, but scan
    splits packed with just-below-threshold docs stay hot.

    Judged from per-split light-cohort moments: one (docs, Σcost, Σcost²)
    triple per scan split; splits without light docs are ignored. Pure
    Python over ≤ #splits rows. Per split, not in global order: the
    scan's size-descending file bin-packing reorders files while leaving
    each split internally cost-homogeneous — the pathology is split
    COMPOSITION. Light cohort only: the heavy cohort is
    round-robin-scattered in every mode, so it can't cause this tail.

    Verdict: CV of the per-split mean cost ≥ CLUSTER_CV_THRESHOLD, after
    a random-effects ANOVA correction. Even under a well-mixed layout the
    split means scatter by ≈ doc_var/n_i, and with few docs per split
    that alone can cross any fixed threshold; subtracting the expected
    E[Var(m_i)] = doc_var·k/N from the observed between-split variance
    leaves only REAL cost clustering.

    A second, independent trigger (min_effective_splits): the light
    branch inherits the scan partitioning, so if the light cohort's rows
    concentrate in too few splits — effective parallelism N²/Σn_i², the
    inverse Simpson index — heavy-only serializes the whole light corpus
    regardless of cost ORDER. (Found by the skew harness: a
    single-row-group sorted file put >50% of the docs in one 42 s task
    while the clustering CV was 0, because with one effective split
    there IS no between-split variance.)"""
    splits = [(n, float(s1), float(s2)) for n, s1, s2 in splits if n]
    n_tot = float(sum(n for n, _, _ in splits))
    if not n_tot:
        return False
    eff = n_tot * n_tot / sum(n * n for n, _, _ in splits)  # inverse Simpson
    if eff < min_effective_splits:
        return True  # light branch would serialize: full salt regardless
    k = len(splits)
    mean = sum(s1 for _, s1, _ in splits) / n_tot
    if k < 2 or mean <= 0:
        return False
    doc_var = max(0.0, sum(s2 for _, _, s2 in splits) / n_tot - mean * mean)
    # weighted between-split variance: Σ n_i (m_i − mean)² / N
    wms = sum(s1 * s1 / n for n, s1, _ in splits)
    var_between = max(0.0, wms / n_tot - mean * mean)
    adjusted = max(0.0, var_between - doc_var * k / n_tot)
    return (adjusted ** 0.5) / mean >= CLUSTER_CV_THRESHOLD


def resolve_salt_mode(
    splits: Iterable[tuple[int, float, float]], num_partitions: int
) -> str:
    """THE 'auto' policy, defined once: full salt when the layout is
    cost-clustered OR the light branch would have fewer than
    num_partitions/4 effective splits; heavy otherwise.

    splits: the light cohort's per-split (docs, Σcost, Σcost²) over the
    whole input, from _planning_aggregate. extract() and run_extraction
    both pass them, so the two entry points reach one verdict; judging
    them runs no Spark job."""
    clustered = _cost_clustered(splits, max(2, num_partitions // 4))
    return "full" if clustered else "heavy"


def heavy_only_salting(
    df: DataFrame, num_partitions: int, exact: bool = False
) -> DataFrame:
    """Skew taming without shuffling the world (the 100 TB-correct
    variant): only the oversized cohort (~0.5% of docs, but the entire
    stage tail if they cluster in one input split) is scattered across
    num_partitions; light docs keep the scan's narrow partitioning.
    Shuffle volume drops from |table| to |heavy cohort|, and the JVM
    ser/deser cost stops competing with the Python workers for cores.

    Each heavy partition is one more Python task, with a fixed cost even
    when empty (~0.09 s on a 4-core VM), so run_extraction passes
    num_partitions = min(cap, giants in the commit group) and skips this
    branch — and its second scan of the input — for groups with no
    giants.

    exact: gather the cohort into one task before the round-robin, so
    partition loads differ by at most 1. That task carries every giant's
    bytes, so run_extraction asks for it only when it has counted at
    most num_partitions giants (one per slot); a larger cohort gets the
    plain round-robin, whose per-map-task offsets cost little next to
    giants/num_partitions."""
    df = with_cost(df)
    is_heavy = F.col("_cost_bytes") >= OVERSIZE_COST_BUCKET_BYTES
    light = df.where(~is_heavy)
    # round-robin, not hash: with ~#partitions giants, hashing
    # birthday-collides several into one task (measured 25× max/median).
    # Round-robin is exact only within one map partition (each map task
    # starts at its own offset: 10 giants from 10 splits into 10 slots
    # measured [1,2,2,2,3]); the exact spread gathers the cohort into one
    # doc_id-sorted partition first. The sort also keeps
    # CollapseRepartition from folding the two repartitions into one.
    heavy = df.where(is_heavy)
    if exact and num_partitions > 1:
        heavy = heavy.repartition(1).sortWithinPartitions("doc_id")
    return light.unionByName(heavy.repartition(num_partitions))


def extract(
    df: DataFrame,
    num_partitions: int | None = None,
    salt_mode: str = "auto",
) -> DataFrame:
    """documents → documents_extracted as a DataFrame transform.

    num_partitions=None trusts the input partitioning: no mode shuffles.

    Laziness caveat: with salt_mode='auto' (the default) and a
    num_partitions, THIS CALL runs one eager query before returning —
    the unsampled per-split aggregate (_planning_aggregate) whose cost
    moments resolve_salt_mode judges; every other call is fully lazy.
    Callers composing plans without wanting execution — or calling
    extract() repeatedly on the same input — should pass an explicit
    mode. run_extraction resolves 'auto' once, from its own planning
    aggregate, and passes the verdict to every commit group.

    salt_mode (anything else raises ValueError, with or without
    num_partitions):
      'auto' (default)  — pick 'full' for cost-clustered or
                          under-parallel scan layouts, 'heavy'
                          otherwise (_cost_clustered); closes the
                          documented heavy-only 24× footgun without
                          manual mode selection;
      'heavy'           — shuffle only the oversized cohort (above);
      'full'            — shuffle everything on the uniform salt (for
                          adversarially cost-sorted inputs)."""
    _check_salt_mode(salt_mode)
    if num_partitions:
        if salt_mode == "auto":
            splits = _planning_aggregate(df, with_cost_moments=True)[2]
            salt_mode = resolve_salt_mode(splits, num_partitions)
        if salt_mode == "full":
            df = salted_repartition(df, num_partitions)
        elif salt_mode == "heavy":
            df = heavy_only_salting(df, num_partitions)
    if "_cost_bytes" not in df.columns:  # the salting paths add it
        df = with_cost(df)
    return df.select("doc_id", "spans", "_cost_bytes").mapInArrow(
        _chunked_extract_arrow, schema=EXTRACTED_SCHEMA
    )


# --------------------------------------------------------------------------
# checkpointed job (resume / lineage / metrics) — SURVEY.md §4.3.2
# --------------------------------------------------------------------------

# manifest stats observed per bucket: key → (aggregate, its argument)
_BUCKET_STATS = {
    "n_docs": ("count", "1"),
    "n_ok": ("sum", "CAST(extraction_successful AS BIGINT)"),
    "chars": ("sum", "n_chars"),
    "words": ("sum", "n_words"),
    "pages": ("sum", "CAST(n_pages AS BIGINT)"),
}


def _bucket_stats(group: list[int]) -> list:
    """The _BUCKET_STATS aggregates for DataFrame.observe: per key, one
    array with one element per bucket of the group, in group order, each
    aggregating only that bucket's rows (a sum is NULL for a bucket
    without rows). Each array is one SQL string: building the same
    columns through pyspark.sql.functions costs a few py4j round trips
    per call, ~0.2 s of driver time per commit group of four buckets."""
    return [
        F.expr(
            "array("
            + ", ".join(f"{agg}(IF(bucket = {b}, {arg}, NULL))" for b in group)
            + f") AS {key}"
        )
        for key, (agg, arg) in _BUCKET_STATS.items()
    ]


def run_extraction(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
    num_partitions: int | None = None,
    buckets_per_commit: int | None = None,
    input_snapshot: str | None = None,
    salt_mode: str = "auto",
) -> ProgressLog:
    """Checkpointed batch extraction with per-bucket resume.

    The unit of progress is a deterministic doc_id hash bucket (NOT a
    Spark partition id, which is plan-dependent). Completed buckets are
    skipped on re-run; bucket output directories are overwritten
    atomically via dynamic partition overwrite, so a re-run after a
    mid-job kill is idempotent (no dup/missing doc_ids).

    k commit groups cost 1 + k Spark queries: one planning aggregate
    (_planning_aggregate), then one observed write per group.
    """
    _check_salt_mode(salt_mode)
    log = ProgressLog(checkpoint_dir)
    done = log.done_buckets()

    from docling_pdf_spark.sources.io import file_fingerprint

    current_snapshot = input_snapshot or file_fingerprint(input_path)
    # lineage guard: a completed bucket whose manifest was produced from
    # a DIFFERENT input snapshot must not be silently skipped — the
    # resume would stitch outputs of two different inputs together
    stale = [
        m.partition_id
        for m in log.all_manifests()
        if m.status == "done"
        and m.lineage.get("input_snapshot") not in (None, current_snapshot)
    ]
    if stale:
        raise RuntimeError(
            f"input snapshot changed since buckets {sorted(stale)} were "
            f"committed (manifest lineage mismatch); clear {checkpoint_dir} "
            "or pass the original input"
        )

    docs = spark.read.parquet(input_path)
    docs = docs.withColumn("bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)))
    pending = [b for b in range(n_buckets) if b not in done]
    if not pending:
        return log

    # ONE planning scan for the whole job, over every bucket (so the
    # 'auto' verdict does not depend on what a resume left pending):
    # completeness-guard counts, plus — when a salt mode needs them —
    # giant counts and the per-split cost moments 'auto' is judged on
    need_cost = bool(num_partitions) and salt_mode in ("auto", "heavy")
    in_counts, giants, splits = _planning_aggregate(docs, need_cost)
    if salt_mode == "auto" and num_partitions:
        salt_mode = resolve_salt_mode(splits, num_partitions)

    # lineage token (file fingerprint of the input, or the caller's
    # snapshot id) — resume detects when the input changed underneath a
    # completed bucket (guard above)
    snapshot = current_snapshot
    group_size = buckets_per_commit or len(pending)
    groups = [pending[i : i + group_size] for i in range(0, len(pending), group_size)]
    heavy = salt_mode == "heavy" and bool(num_partitions)

    for group in groups:
        started = _utcnow_iso()
        sub = docs.where(F.col("bucket").isin(group)).drop("bucket")
        if heavy:
            # one round-robin slot per giant, capped at num_partitions;
            # a group without giants plans no heavy branch at all
            g = sum(giants.get(b, 0) for b in group)
            if g:
                sub = heavy_only_salting(
                    sub, min(num_partitions, g), exact=g <= num_partitions
                )
            out = extract(sub)  # no num_partitions: keeps sub's partitioning
        else:
            out = extract(sub, num_partitions=num_partitions, salt_mode=salt_mode)
        out = out.withColumn(
            "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets))
        )
        # the manifest stats ride on the write itself: observed right
        # after the mapInArrow, inside the write's result stage (no
        # Exchange in between), where a retried task's metrics count once
        stats = Observation()
        out = out.observe(stats, *_bucket_stats(group))
        # dynamic partition overwrite → only this group's bucket dirs
        # replaced (the shared overwrite-safe write pins the conf — a
        # default 'static' session would truncate the whole output path)
        from docling_pdf_spark.sources.io import idempotent_partition_overwrite

        idempotent_partition_overwrite(out, ["bucket"], output_path)
        observed = stats.get
        finished = _utcnow_iso()
        # completeness guard (reference main.py:232-236 analog: a task
        # marked completed with no result is a 500, not a success): a
        # bucket whose input slice is non-empty must never be committed
        # 'done' with zero output rows — that would make resume skip it
        # forever. Input counts come from the planning scan above.
        for i, b in enumerate(group):
            got = {key: int(observed[key][i] or 0) for key in _BUCKET_STATS}
            if got["n_docs"] == 0 and in_counts.get(b, 0) > 0:
                raise RuntimeError(
                    f"bucket {b}: output is empty but its input slice has "
                    f"{in_counts[b]} docs — refusing to commit 'done' "
                    "(completeness guard); the bucket stays pending for resume"
                )
            log.commit(
                BucketManifest(
                    partition_id=b,
                    status="done",
                    n_docs=got["n_docs"],
                    n_ok=got["n_ok"],
                    n_failed=got["n_docs"] - got["n_ok"],
                    metrics={key: got[key] for key in ("chars", "words", "pages")},
                    lineage={
                        "input_snapshot": snapshot,
                        "partition_key": f"bucket={b}",
                    },
                    started_at=started,
                    finished_at=finished,
                )
            )
    return log


def _utcnow_iso() -> str:
    """Real timestamps (deliberate improvement over the reference's
    always-null created_at/completed_at, redis_manager.py:57,122)."""
    import datetime

    return datetime.datetime.now(datetime.timezone.utc).isoformat()
