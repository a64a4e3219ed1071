"""Scale-adaptive spread for unsplittable scans (guide §2.5).

Parquet scans parallelize at ROW-GROUP granularity: Spark plans byte-
range splits, but a row group is read entirely by the split holding its
midpoint, so a single-row-group file executes as ONE task no matter
what maxPartitionBytes/openCostInBytes say — every split but one is
empty. The driver's corpus tables arrive exactly like that (sf1.0
documents.parquet: 1 row group, 50k rows → every text-heavy operator
ran single-threaded on a 32-core machine).

`spread_unsplittable(df)` is the guide's "one huge unsplittable file →
repartition immediately after the read", made scale-adaptive:

  * probe the scan's REAL parallelism (row groups across its local
    parquet footers, early-exit once ≥ target);
  * round-robin repartition to defaultParallelism only when the input
    cannot fan out on its own;
  * no-op whenever the input already has ≥ target row groups, has at
    least target files, or is remote (non-file: URIs) — i.e. on any
    production-shaped layout the plan is untouched, so this is not a
    local-only tuning constant; it is a guard against degenerate
    layouts, and the repartition it inserts moves exactly the pruned
    columns once.

The probe reads only parquet FOOTERS of inputs (a metadata fact, not
data) and never caches results.

A persisted frame reports no input files, so the probe leaves it alone:
its width is whatever the shuffle under the cache coalesced to, which
session.get_spark's coalescing floor (minPartitionSize 64k) keeps at
the core count for a shuffle of a few hundred KiB. Spread the scan
itself before persisting (jobs/curate.py does, ahead of extraction).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def _local_paths(files: list[str]) -> list[str] | None:
    """file:-scheme inputs as local paths, or None when any input is
    remote (assume a real cluster layout: do not interfere)."""
    out = []
    for f in files:
        if f.startswith("file:"):
            p = f[5:]
            while p.startswith("//"):  # file:///x -> /x
                p = p[1:]
            out.append(p)
        elif f.startswith("/") and os.path.exists(f):
            out.append(f)
        else:
            return None
    return out


def scan_row_groups(df: DataFrame, cap: int) -> int | None:
    """Total parquet row groups feeding df's scan, early-exiting at cap.
    None = unknown (remote input, no files, non-parquet)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    if len(files) >= cap:
        return cap
    paths = _local_paths(files)
    if paths is None:
        return None
    try:
        import pyarrow.parquet as pq

        n = 0
        for p in paths:
            # identify parquet by its footer, not its name (part files
            # need not carry a .parquet suffix); a non-parquet file
            # raises here -> None
            n += pq.ParquetFile(p).num_row_groups
            if n >= cap:
                return cap
        return n
    except Exception:
        return None


def spread_unsplittable(df: DataFrame) -> DataFrame:
    """Round-robin repartition df to defaultParallelism iff its scan
    cannot reach defaultParallelism concurrent tasks on its own."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n = scan_row_groups(df, cap=target)
    if n is not None and n < target:
        return df.repartition(target)
    return df
