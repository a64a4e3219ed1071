"""SparkSession factory with the pipeline's tuned confs (SURVEY.md §4).

Every conf here is cluster-safe; `master` is only forced when the
caller asks for a specific local parallelism (tests / bench two-size
scaling runs). On a real cluster the job is launched via
`spark-submit --py-files dist/docling_pdf_spark.zip jobs/extract.py`
and inherits the site master/executor settings.

Local sessions (`local_cores` given) also run the Python workers under
`docling_pdf_spark.worker_daemon`, which stops every task from
re-reading the zip archives on the worker's `sys.path`. It is local-only
because only there does `_export_package_to_workers`'s PYTHONPATH reach
the daemon: on a cluster the package zip joins `sys.path` per task,
after the daemon has started, so the daemon module may not import.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from docling_pdf_spark.conf import ARROW_MAX_RECORDS_PER_BATCH, SHUFFLE_PARTITIONS


def _export_package_to_workers() -> None:
    """Make the package importable in executor Python workers.

    Local-mode equivalent of `spark-submit --py-files
    dist/docling_pdf_spark.zip` (SURVEY.md §4.4 launch recipe): the JVM
    inherits PYTHONPATH at launch and passes it to the python workers,
    so it must be set BEFORE getOrCreate()."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )


def get_spark(
    app_name: str = "docling-pdf-spark",
    local_cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    _export_package_to_workers()
    b = SparkSession.builder.appName(app_name)
    if local_cores is not None:
        b = b.master(f"local[{local_cores}]")
        # local mode defaults to a 1g driver heap — at 32 concurrent
        # tasks the shuffle buffers alone would thrash GC/spill and
        # wreck scaling — but a heap larger than the host lets G1 grow
        # the JVM until the machine runs out instead of collecting: a
        # third of physical memory bounds both. On a real cluster
        # executor memory comes from the site config instead.
        heap_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 3 >> 20
        b = b.config(
            "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", f"{heap_mb}m")
        )
        # MB-sized document payloads become humongous objects under
        # G1's default region size and GC time explodes at high task
        # concurrency (measured 306s GC/job at 32 cores → 18s with
        # 32m regions, >2× end-to-end throughput)
        b = b.config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GC_OPTS", "-XX:G1HeapRegionSize=32m"),
        )
        # skip re-reading unchanged zips before each Python task (~0.25 s CPU)
        b = b.config("spark.python.daemon.module", "docling_pdf_spark.worker_daemon")
    confs = {
        # AQE: runtime re-plan, post-shuffle coalescing, skew-join split
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # ...inside persisted plans too: without it a cached frame keeps
        # every post-shuffle partition (32 by default, near-empty on a
        # small corpus), and every job that reads it pays one task each
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        # coalescing floor: AQE packs a shuffle into partitions of
        # max(minPartitionSize, min(advisory, total / defaultParallelism)),
        # so the 1m default turns a shuffle small in bytes but heavy in
        # CPU (a few MB of documents feeding Python kernels and gram
        # explodes) into ONE task. 64k lets it spread to the core count;
        # at scale total / defaultParallelism is far above either floor,
        # so large shuffles coalesce as before
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
        # Arrow-batched Python boundary (the only Python stage)
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(
            ARROW_MAX_RECORDS_PER_BATCH
        ),
        # idempotent per-partition re-writes on resume (SURVEY.md §4.3.2)
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or SHUFFLE_PARTITIONS),
        # small-file world: split scans finer than the 128m default so
        # single-file inputs still fan out across all cores
        "spark.sql.files.maxPartitionBytes": os.environ.get(
            "SPARK_MAX_PARTITION_BYTES", "16m"
        ),
        # scan-split floor: each file is charged openCostInBytes before
        # packing into splits, so the 4m default caps a small table at
        # totalBytes/4m tasks (a 6 MB parquet scans 2-way on 32 cores
        # and every downstream narrow stage inherits that). 256k lets
        # split sizing follow max(openCost, bytes/minPartitionNum) —
        # scale-adaptive: large inputs still split at maxPartitionBytes,
        # small inputs fan out to the core count. Production clusters
        # with remote storage can raise it back via env.
        "spark.sql.files.openCostInBytes": os.environ.get(
            "SPARK_OPEN_COST_BYTES", str(256 * 1024)
        ),
        # shuffle spill dir: tmpfs when available (single-node stand-in
        # for the per-node NVMe a real cluster gives each executor)
        "spark.local.dir": os.environ.get(
            "SPARK_LOCAL_DIRS",
            "/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp",
        ),
        "spark.sql.session.timeZone": "UTC",
        # on (the default), every Column/DataFrame call records its Python
        # call site in extra py4j round trips: ~half the driver's commands.
        # Cost: analysis errors no longer name the Python file and line
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # keep driver logs usable in CI
        "spark.ui.showConsoleProgress": "false",
    }
    for k, v in confs.items():
        b = b.config(k, v)
    return b.getOrCreate()
