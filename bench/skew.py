#!/usr/bin/env python
"""Skew evidence harness (BENCH/BASELINE.md skew table; r2 VERDICT #4).

Adversarial input: the fixture corpus SORTED BY DOCUMENT COST, so scan
splits inherit the cost gradient. For each salt mode, the extraction
UDF stage runs with a per-partition timing probe and the report is the
task-time max/median ratio — the straggler-tail metric the round-1
measurement used. `auto` must match `full` here (its per-split verdict
picks full), and must match `heavy` on the unsorted layout. `none` is
the unsalted baseline: the scan's own partitioning, as extract() keeps
it without num_partitions.

    python bench/skew.py [--docs 40000] [--cores 16] [--modes auto full heavy none]

Prints one JSON line per (layout, mode):
    {"layout": "sorted", "mode": "auto", "resolved": "full",
     "max_over_median": 1.7, "tasks": 48, "sec": 12.3}
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def timed_partition_probe(df):
    """Wrap the extraction Arrow kernel with a per-partition stopwatch:
    each task yields one (rows, sec) row, so max/median task compute
    time is measurable without JVM listener plumbing."""
    import pyarrow as pa

    def probe(batches):
        from docling_pdf_spark.pipeline import _chunked_extract_arrow

        t0 = time.perf_counter()
        n = 0
        for out in _chunked_extract_arrow(batches):
            n += out.num_rows
        yield pa.RecordBatch.from_pydict(
            {"rows": [n], "sec": [time.perf_counter() - t0]}
        )

    return df.mapInArrow(probe, schema="rows long, sec double")


def run_mode(spark, docs, mode: str, num_partitions: int):
    """One (layout, mode) measurement; returns the report dict."""
    from docling_pdf_spark.pipeline import (
        _planning_aggregate,
        heavy_only_salting,
        resolve_salt_mode,
        salted_repartition,
        with_cost,
    )

    resolved = mode
    if mode == "auto":
        splits = _planning_aggregate(docs, with_cost_moments=True)[2]
        resolved = resolve_salt_mode(splits, num_partitions)
    if resolved == "full":
        staged = salted_repartition(docs, num_partitions)
    elif resolved == "heavy":
        staged = heavy_only_salting(docs, num_partitions)
    elif resolved == "none":
        staged = with_cost(docs)  # unsalted baseline; the kernel re-chunks by _cost_bytes
    else:
        raise ValueError(mode)

    t0 = time.perf_counter()
    rows = timed_partition_probe(
        staged.select("doc_id", "spans", "_cost_bytes")
    ).collect()
    wall = time.perf_counter() - t0
    busy = sorted((r["sec"], r["rows"]) for r in rows if r["rows"] > 0)
    total_rows = sum(n for _s, n in busy)
    # ROWS-WEIGHTED median task time — "the task time the median document
    # experiences". An unweighted median is distorted by near-empty
    # partitions (round-robin heavy slots, small scan splits) that carry
    # no work and no straggler risk.
    acc, med = 0, 0.0
    for s, n in busy:
        acc += n
        if acc * 2 >= total_rows:
            med = s
            break
    mx = max((s for s, _n in busy), default=0.0)
    return {
        "mode": mode,
        "resolved": resolved,
        "tasks": len(busy),
        "max_over_median": round(mx / med, 2) if med else None,
        "task_max_sec": round(mx, 3),
        "task_median_sec": round(med, 3),
        "wall_sec": round(wall, 3),
        "n_docs": int(total_rows),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--docs", type=int, default=40_000)
    ap.add_argument("--cores", type=int, default=16)
    ap.add_argument("--modes", nargs="+", default=["auto", "full", "heavy"])
    ap.add_argument("--layouts", nargs="+", default=["sorted", "mixed"])
    ap.add_argument("--trials", type=int, default=1,
                    help="runs per (layout, mode); the row with the "
                         "MEDIAN max/median ratio is printed (damps "
                         "single-straggler host noise — r3 VERDICT #2: "
                         "one-sample cells produced contradictory rows)")
    args = ap.parse_args()

    from bench import ensure_corpus  # bench.py's generator-hash-keyed cache

    from docling_pdf_spark.pipeline import with_cost
    from docling_pdf_spark.session import get_spark

    spark = get_spark("skew-bench", local_cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    corpus_path = ensure_corpus(
        os.path.join(repo, ".bench", f"corpus_{args.docs}.parquet"), args.docs
    )
    base = spark.read.parquet(corpus_path)

    tmp = os.path.join(repo, ".bench", "skew_layouts")
    # cache key includes the corpus filename, which itself embeds the
    # fixtures generator hash — a regenerated corpus must invalidate the
    # derived layouts too; prune dirs from older generations (each is a
    # multi-MB parquet dir nothing else deletes — second-review finding)
    corpus_tag = os.path.splitext(os.path.basename(corpus_path))[0]
    if os.path.isdir(tmp):
        import shutil

        for d in os.listdir(tmp):
            if corpus_tag not in d:
                shutil.rmtree(os.path.join(tmp, d), ignore_errors=True)
    for layout in args.layouts:
        path = os.path.join(tmp, f"{layout}_{corpus_tag}_{args.cores}")
        if not os.path.exists(path):
            if layout == "sorted":
                # global orderBy → range-partitioned output: every file
                # covers one cost band, so scan splits inherit the full
                # cost gradient (the adversarial layout)
                df = with_cost(base).orderBy("_cost_bytes").drop("_cost_bytes")
            elif layout == "sorted1file":
                # the round-1 24× measurement's layout: ONE globally
                # sorted file, scan splits = byte ranges of it — the
                # harshest cost clustering a scan can inherit
                df = (
                    with_cost(base)
                    .orderBy("_cost_bytes")
                    .drop("_cost_bytes")
                    .coalesce(1)
                )
            else:
                # hash-mixed across many files: the well-mixed layout
                # heavy-only salting is designed for
                df = base.repartition(args.cores * 2, "doc_id")
            df.write.mode("overwrite").parquet(path)
        docs = spark.read.parquet(path)
        # fault the layout's pages into the OS cache before ANY timed
        # mode: the first mode otherwise pays cold reads the later modes
        # don't (noop write decodes every column; count() alone would be
        # satisfied from parquet metadata)
        docs.write.format("noop").mode("overwrite").save()
        for mode in args.modes:
            reps = []
            for _ in range(args.trials):
                rep = run_mode(spark, docs, mode, num_partitions=args.cores * 3)
                rep["layout"] = layout
                reps.append(rep)
            # chronological ratios BEFORE sorting: run order is the
            # signal that separates a cold/steal-poisoned first trial
            # from random noise (review-found)
            run_order = [r["max_over_median"] for r in reps]
            reps.sort(key=lambda r: (r["max_over_median"] is None,
                                     r["max_over_median"]))
            rep = reps[len(reps) // 2]
            if args.trials > 1:
                rep["trials"] = args.trials
                rep["trial_ratios"] = run_order
            print(json.dumps(rep))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
