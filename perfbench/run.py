#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

Run it from the repository root. It starts Spark on local[<cores this
process may use>], and runs a closed loop: one driver, one job in flight.
Each run:

1. writes the workload's inputs from --seed under .perfbench_work/;
2. sets up: starts the JVM and a session, runs the first Python-worker
   job (worker spawn plus kernel import), then one full untimed
   repetition;
3. repeats the workload until the timed repetitions add up to --seconds,
   checking every repetition's output outside the timed region;
4. prints one JSON line of details, then the result line.

setup_s = JVM+session start + the worker warm-up + the untimed
repetition; each is a one-time cost of a fresh process, so each is timed
once per run. run_s is the median timed repetition. With --trace 1 the
repetitions run in blocks of four, untraced, traced, traced, untraced,
so that a drift across repetitions cancels out of the tracing overhead
(traced minus untraced run_s); traced repetitions run with driver-side
spans, Spark's metrics are read after each repetition, and the result
line holds the per-layer metrics of the traced repetitions.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "docs_per_s": "docs/s",
    "failed_frac": "ratio",
    "worker_peak_rss_mb": "MB",
}

CURATE_STAGES = ("read_input", "extract", "quality_gates", "exact_dedup",
                 "near_dup_drop", "decon_redact_write")

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.first_rep_s": "s",
    "trace.overhead_s": "s",
    "core.pdfparse.parse_ladder_ms_per_span": "ms",
    "core.pdfparse.strict_success_frac": "ratio",
    "core.htmlx.extract_html_ms_per_span": "ms",
    "core.extract.extract_document_ms_per_doc": "ms",
    "core.batch.extract_arrow_batch_ms_per_doc": "ms",
    "core.batch.python_run_s": "s",
    "core.batch.python_init_s": "s",
    "core.batch.python_start_s": "s",
    "core.batch.sent_mb": "MB",
    "core.batch.returned_mb": "MB",
    "functions.arrowhash.python_run_s": "s",
    "functions.arrowhash.sent_mb": "MB",
    "pipeline.self_s": "s",
    "pipeline.resolve_salt_mode_s": "s",
    "pipeline.salt_full": "count",
    "pipeline.input_scans": "count",
    "pipeline.shuffle_write_mb": "MB",
    "pipeline.task_s_max_over_median": "ratio",
    "sources.io.write_s": "s",
    "sources.io.written_mb": "MB",
    "sources.io.files_written": "count",
    "sources.io.job_commit_s": "s",
    "checkpoint.commits": "count",
    "checkpoint.commit_s": "s",
    "jobs.curate.self_s": "s",
    **{f"jobs.curate.stage.{s}_s": "s" for s in CURATE_STAGES},
    **{f"jobs.curate.stage.{s}_rows_out": "count" for s in CURATE_STAGES},
    "operators.dedup.near_dup_pairs": "count",
    "operators.components.connected_components_s": "s",
    "spark.sql_executions": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.scan_s": "s",
    "spark.shuffle_write_mb": "MB",
}

MB = 1024.0 * 1024.0


def _isolate(work: str) -> None:
    """Keep Spark's scratch space, temp files and JVM temp dir inside the
    checkout, and bound the driver heap for a shared host."""
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    os.environ["SPARK_GC_OPTS"] = (
        f"-XX:G1HeapRegionSize=32m -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _import_kernel(batches):
    import docling_pdf_spark.core.batch  # noqa: F401

    yield from batches


def warm_workers(spark, cores: int) -> None:
    """The first job that needs Python workers: one task per core, each
    spawning a worker that imports the extraction kernel."""
    spark.range(cores, numPartitions=cores).mapInArrow(_import_kernel, "id long") \
        .write.format("noop").mode("overwrite").save()


def start_session(cores: int):
    from docling_pdf_spark import session

    spark = session.get_spark("perfbench", local_cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    # display only: keep whole input paths in plan node descriptions,
    # which spark_layers matches scans against
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    return spark


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit (its
    Python workers go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # subprocess.TimeoutExpired
            proc.kill()
            proc.wait()


def spark_layers(metrics, input_name: str) -> dict[str, float]:
    """Per-layer numbers from one repetition's SQL node metrics."""
    out: dict[str, float] = {}
    # the extraction kernel's node names the pipeline's mapInArrow body
    extract_execs = {m.execution_id for m in metrics
                     if m.node == "MapInArrow" and "_chunked_extract_arrow" in m.desc}
    py = {"time to run Python workers": "python_run_s",
          "time to initialize Python workers": "python_init_s",
          "time to start Python workers": "python_start_s",
          "data sent to Python workers": "sent_mb",
          "data returned from Python workers": "returned_mb"}
    # every other MapInArrow body is one of functions.arrowhash's kernels
    arrowhash = {"python_run_s", "sent_mb"}
    ratio, ratio_total = 0.0, -1.0
    for m in metrics:
        if m.node != "MapInArrow" or m.metric not in py:
            continue
        if "_chunked_extract_arrow" in m.desc:
            key = "core.batch." + py[m.metric]
            if m.metric == "time to run Python workers" and m.total > ratio_total and m.median:
                ratio, ratio_total = m.max / m.median, m.total
        elif py[m.metric] in arrowhash:
            key = "functions.arrowhash." + py[m.metric]
        else:
            continue
        out[key] = out.get(key, 0.0) + (m.total / MB if key.endswith("_mb") else m.total)
    out["pipeline.task_s_max_over_median"] = ratio
    out["pipeline.input_scans"] = float(sum(
        1 for m in metrics if m.node.startswith("Scan parquet")
        and m.metric == "number of files read" and input_name in m.desc))
    # the salting exchanges: hash on _salt (full) or round-robin (heavy)
    out["pipeline.shuffle_write_mb"] = sum(
        m.total for m in metrics if m.metric == "shuffle bytes written"
        and m.execution_id in extract_execs
        and ("_salt" in m.desc or "RoundRobinPartitioning" in m.desc)) / MB
    out["spark.shuffle_write_mb"] = sum(
        m.total for m in metrics if m.metric == "shuffle bytes written") / MB
    out["spark.scan_s"] = sum(m.total for m in metrics if m.metric == "scan time")
    writes = [m for m in metrics if m.node.startswith("Execute InsertIntoHadoopFsRelationCommand")
              and "/extracted" in m.desc]
    out["sources.io.written_mb"] = sum(m.total for m in writes if m.metric == "written output") / MB
    out["sources.io.files_written"] = sum(
        m.total for m in writes if m.metric == "number of written files")
    out["sources.io.job_commit_s"] = sum(m.total for m in writes if m.metric == "job commit time")
    return out


def span_layers(tracer, rep: int, result) -> dict[str, float]:
    from perfbench.trace import self_times, totals

    spans = tracer.rep_spans(rep)
    selfs = self_times(spans)
    out = {
        "pipeline.self_s": selfs.get("pipeline", 0.0),
        "jobs.curate.self_s": selfs.get("jobs.curate", 0.0),
        "pipeline.resolve_salt_mode_s": totals(spans, "pipeline.resolve_salt_mode")[1],
        "sources.io.write_s": totals(spans, "sources.io.idempotent_partition_overwrite")[1],
        "operators.components.connected_components_s":
            totals(spans, "operators.components.connected_components")[1],
    }
    out["checkpoint.commits"], out["checkpoint.commit_s"] = totals(spans, "checkpoint.commit")
    modes = tracer.results.get("pipeline.resolve_salt_mode", [])
    out["pipeline.salt_full"] = float(bool(modes) and modes[-1] == "full")
    if isinstance(result, dict):
        for stage in result.get("stages", []):
            out[f"jobs.curate.stage.{stage['stage']}_s"] = stage["wall_s"]
            out[f"jobs.curate.stage.{stage['stage']}_rows_out"] = float(stage["rows_out"])
    return out


def timing(values: list[float]) -> dict:
    """Median and the highest percentile the sample supports (the max,
    below ten samples), with the sample count."""
    return {"median": statistics.median(values), "max": max(values), "n": len(values)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import docling_pdf_spark.session  # noqa: F401
        import jobs.curate  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is not in {ROOT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import host, kernels, sparkmetrics
    from perfbench.workloads import WORKLOADS, Mismatch, clear

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    clear(work)
    _isolate(work)
    wl = WORKLOADS[args.workload](ROOT, work, args.seed, cores)
    spark = None
    sampler = host.WorkerRssSampler()
    try:
        wl.prepare()
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer()
            tracer.install()
        cpu0, load0 = host.cpu_times(), os.getloadavg()

        # ---- set-up: JVM + session, worker warm-up, one full repetition
        t0 = time.perf_counter()
        spark = start_session(cores)
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm_workers(spark, cores)
        warm_s = time.perf_counter() - t0
        sampler.start()
        rep_dir = os.path.join(work, "rep")
        t0 = time.perf_counter()
        result = wl.run(spark, rep_dir)
        first_rep_s = time.perf_counter() - t0
        failed_docs = wl.check(rep_dir, result)
        clear(rep_dir)
        setup_s = start_s + warm_s + first_rep_s

        # ---- timed closed loop
        sc = spark.sparkContext
        reps: list[dict] = []
        while True:
            i = len(reps)
            traced = tracer is not None and i % 4 in (1, 2)
            if tracer is not None:
                tracer.enabled, tracer.rep = traced, i
                tracer.results.clear()
            sc.setJobGroup(f"perfbench-rep-{i}", f"{args.workload} repetition {i}")
            before = sparkmetrics.last_execution_id(spark)
            t0 = time.perf_counter()
            result = wl.run(spark, rep_dir)
            dt = time.perf_counter() - t0
            if tracer is not None:
                tracer.enabled = False
            rep = {"run_s": dt, "traced": traced,
                   "failed_docs": wl.check(rep_dir, result)}
            if tracer is not None:
                layers = spark_layers(sparkmetrics.node_metrics(spark, before),
                                      os.path.basename(wl.input))
                layers["spark.sql_executions"] = float(
                    sparkmetrics.last_execution_id(spark) - before)
                layers.update({f"spark.{k}": v for k, v in
                               sparkmetrics.job_stats(spark, f"perfbench-rep-{i}").items()})
                if traced:
                    layers.update(span_layers(tracer, i, result))
                    pairs = tracer.results.get("operators.dedup.minhash_lsh_dedup")
                    if pairs:
                        layers["operators.dedup.near_dup_pairs"] = float(pairs[-1].count())
                rep["layers"] = layers
            reps.append(rep)
            clear(rep_dir)
            timed = sum(r["run_s"] for r in reps)
            if timed >= args.seconds and (tracer is None or len(reps) % 4 == 0):
                break
        sc.setJobGroup("perfbench-after", "after the timed loop")
        peak_mb = sampler.stop()
        cpu1, load1 = host.cpu_times(), os.getloadavg()

        run_s = [r["run_s"] for r in reps]
        details = {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "n_docs": wl.n_docs, "trace": args.trace,
            "setup": {"start_s": start_s, "worker_warmup_s": warm_s, "first_rep_s": first_rep_s},
            "run_s": timing(run_s), "reps": reps,
            "host": {"steal_frac": host.steal_frac(cpu0, cpu1),
                     "loadavg_before": load0, "loadavg_after": load1},
        }
        if tracer is None:
            med = statistics.median(run_s)
            values = {
                "setup_s": setup_s,
                "run_s": med,
                "docs_per_s": wl.n_docs / med,
                "failed_frac": failed_docs / wl.n_docs,
                "worker_peak_rss_mb": peak_mb,
            }
            units = END_TO_END
        else:
            traced = [r for r in reps if r["traced"]]
            untraced = [r for r in reps if not r["traced"]]
            values = dict.fromkeys(PER_LAYER, 0.0)
            for key in {k for r in traced for k in r["layers"]}:
                values[key] = statistics.median(r["layers"].get(key, 0.0) for r in traced)
            values["session.start_s"] = start_s
            values["session.warmup_s"] = warm_s
            values["session.first_rep_s"] = first_rep_s
            values["trace.overhead_s"] = (statistics.median(r["run_s"] for r in traced)
                                          - statistics.median(r["run_s"] for r in untraced))
            values.update(kernels.microtrace(wl.documents, args.seed))
            values = {k: values[k] for k in PER_LAYER}
            units = PER_LAYER
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            trace_file = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            with open(trace_file, "w", encoding="utf-8") as f:
                json.dump({"details": details, "spans": tracer.dump()}, f)
            details["trace_file"] = os.path.relpath(trace_file, ROOT)
            tracer.restore()
        print(json.dumps(details, default=float))
        print(json.dumps({
            "correct": True,
            "attempted": len(reps) + 1,
            "failed": 0,
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }))
        return 0
    except Mismatch as exc:
        print(f"perfbench: correctness check failed: {exc}", file=sys.stderr)
        return 1
    finally:
        sampler.stop()
        if spark is not None:
            shutdown(spark)
        clear(work)


if __name__ == "__main__":
    sys.exit(main())
