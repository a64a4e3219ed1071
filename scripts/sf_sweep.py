"""Scale-factor sweep (r4 VERDICT next-round #6): prove no headline
query bends superlinearly between sf0.001 and an sf1-scale corpus.

The driver ships sf0.001/sf0.01/sf0.1 only, so sf1 is synthesized
deterministically at 10x the sf0.1 row counts into .bench/sf1/:

* relational facts (orders, lineitem, events) — 10 key-offset replicas
  (keys stay unique, foreign keys keep pointing at the original
  dimension space, group-by cardinalities stay realistic). Replication
  is fine here: no operator in the suite is sensitive to duplicate
  *content* on these tables.
* dimensions (region nation customer supplier part) — copied as-is
  (dimension size does not scale with fact volume).
* documents — 50k NEW docs via seeded sentence-resampling from the
  sf0.1 sentence pool (empirical per-doc sentence-count and lang/source
  distributions). Plain replication would plant 10-way exact-dup
  clusters and quadratic LSH buckets that the real corpus does not
  have; resampling keeps gram statistics realistic while leaving dup
  structure sparse, so the dedup-family queries measure their honest
  scale behavior.
* embeddings — 20k unit vectors: seeded Gaussian perturbations of
  random sf0.1 vectors (cos to the source ~0.7, far below near-dup
  range). The swept embedding queries (top-k, stats) are linear scans;
  the O(n^2) brute-force pair baseline is deliberately NOT in the
  sweep (its scale path is the IVF-bucketed variant).

Then every BENCH_QUERIES entry runs at all four scale points (noop
write, --trials trials at the small sfs and trials+2 at the sf0.1/sf1
verdict endpoints, min reported — the best estimate of true cost
on this noisy shared host) and the report flags any query whose
t(sf1) exceeds 2 x max(10 x t(sf0.1), 1s) — double the linear-scaled
expectation with a floor for fixed JVM overheads.

    python scripts/sf_sweep.py [--trials 2] [--out BENCH/sf_sweep.json]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20260817
TESTDATA = "/root/testdata"
KEY_OFFSET = 100_000_000
REPLICAS = 10
N_DOCS_SF1 = 50_000
N_VECS_SF1 = 20_000


def _build_replicated(src_dir: str, out_dir: str) -> None:
    con = duckdb.connect()
    plans = {
        "orders": "o_orderkey + r * {off} AS o_orderkey, o_custkey, o_orderstatus, "
                  "o_totalprice, o_orderdate, o_orderpriority",
        "lineitem": "l_orderkey + r * {off} AS l_orderkey, l_partkey, l_suppkey, "
                    "l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, "
                    "l_returnflag, l_linestatus, l_shipdate",
        "events": "event_id + r * {off} AS event_id, ts, user_id, event_type, "
                  "value, props",
    }
    for t, cols in plans.items():
        con.execute(
            f"COPY (SELECT {cols.format(off=KEY_OFFSET)} "
            f"FROM '{src_dir}/{t}.parquet', range({REPLICAS}) rep(r)) "
            f"TO '{out_dir}/{t}.parquet' (FORMAT PARQUET, ROW_GROUP_SIZE 262144)"
        )
    for t in ("region", "nation", "customer", "supplier", "part"):
        con.execute(
            f"COPY (SELECT * FROM '{src_dir}/{t}.parquet') "
            f"TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()


def _build_documents(src_dir: str, out_dir: str) -> None:
    rows = duckdb.sql(
        f"SELECT text, lang, source FROM '{src_dir}/documents.parquet'"
    ).fetchall()
    rng = random.Random(SEED)
    pool: list[str] = []
    counts: list[int] = []
    meta = [(r[1], r[2]) for r in rows]
    for text, _l, _s in rows:
        sents = [s.strip() for s in re.split(r"(?<=[.!?])\s+", text or "") if s.strip()]
        pool.extend(sents)
        counts.append(max(1, len(sents)))
    out = []
    for i in range(N_DOCS_SF1):
        k = rng.choice(counts)
        text = " ".join(rng.choice(pool) for _ in range(k))
        lang, source = rng.choice(meta)
        out.append(
            {"doc_id": i, "text": text, "lang": lang, "source": source,
             "n_chars": len(text)}
        )
    schema = pa.schema(
        [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
         ("source", pa.string()), ("n_chars", pa.int64())]
    )
    pq.write_table(pa.Table.from_pylist(out, schema=schema),
                   f"{out_dir}/documents.parquet", row_group_size=8192)


def _build_embeddings(src_dir: str, out_dir: str) -> None:
    src = duckdb.sql(
        f"SELECT embedding, label FROM '{src_dir}/embeddings.parquet'"
    ).fetchall()
    vecs = np.array([r[0] for r in src], dtype=np.float64)
    labels = [r[1] for r in src]
    d = vecs.shape[1]
    rng = np.random.default_rng(SEED)
    idx = rng.integers(0, len(vecs), size=N_VECS_SF1)
    sigma = (1.0 / d) ** 0.5  # ||noise|| ~ 1 -> cos to source ~ 0.7
    out = vecs[idx] + rng.normal(0.0, sigma, size=(N_VECS_SF1, d))
    out /= np.linalg.norm(out, axis=1, keepdims=True)
    # match the testdata schema exactly: embedding FLOAT[] (float32),
    # label INTEGER
    tbl = pa.table(
        {
            "vec_id": pa.array(range(N_VECS_SF1), pa.int64()),
            "embedding": pa.array([list(map(float, v)) for v in out],
                                  pa.list_(pa.float32())),
            "label": pa.array([int(labels[i]) for i in idx], pa.int32()),
        }
    )
    pq.write_table(tbl, f"{out_dir}/embeddings.parquet", row_group_size=8192)


def ensure_sf1(repo: str) -> str:
    out_dir = os.path.join(repo, ".bench", "sf1")
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    src = f"{TESTDATA}/sf0.1"
    _build_replicated(src, out_dir)
    _build_documents(src, out_dir)
    _build_embeddings(src, out_dir)
    with open(marker, "w") as f:
        f.write("ok\n")
    return out_dir


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--full", action="store_true",
                    help="sweep the ENTIRE driver registry (all 50 "
                         "queries incl. extraction, streaming, dedup "
                         "families, multimodal) instead of the 22 "
                         "headline bench queries; excludes only the "
                         "documented O(n^2)-by-design brute-force pair "
                         "baseline")
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--out", default=None)
    args = ap.parse_args(argv)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf1 = ensure_sf1(repo)
    points = [
        ("0.001", f"{TESTDATA}/sf0.001"),
        ("0.01", f"{TESTDATA}/sf0.01"),
        ("0.1", f"{TESTDATA}/sf0.1"),
        ("1", sf1),
    ]

    # load repo-root bench.py by explicit path: `import bench` would be
    # one bench/__init__.py away from resolving to the bench/ directory
    # instead (review-found latent collision)
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_root", os.path.join(repo, "bench.py")
    )
    bench_root = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench_root)
    BENCH_QUERIES = bench_root.BENCH_QUERIES

    excluded = {}
    if args.full:
        import __spark_entry__ as se

        q_all = se.queries()
        # the one documented exclusion: the exact all-pairs cosine
        # baseline is O(n^2) BY DESIGN (it exists as the correctness
        # anchor for the bucketed variant, which IS swept) — flagging
        # it superlinear would only restate its contract. Retired from
        # the driver registry in round 6 3rd wave, so this is a no-op
        # on the current registry; kept for sweeps of older registries.
        excluded = {"embedding_near_dups": "O(n^2) brute-force baseline by design"}
        BENCH_QUERIES = [n for n in q_all if n not in excluded]
    from docling_pdf_spark.queries import spark_queries
    from docling_pdf_spark.session import get_spark

    spark = get_spark("sf-sweep", local_cores=args.cpus,
                      shuffle_partitions=max(args.cpus, 32))
    spark.sparkContext.setLogLevel("ERROR")
    if args.full:
        q = q_all
        # the extraction/multimodal entries run mapInArrow/mapInPandas —
        # spin the Python worker pool outside the timed region
        import pandas as pd

        def _touch(batches):
            from docling_pdf_spark.core.batch import extract_arrow_batch  # noqa: F401

            for b in batches:
                yield pd.DataFrame({"id": b["id"][:1]})

        spark.range(args.cpus * 4, numPartitions=args.cpus * 4).mapInPandas(
            _touch, schema="id long"
        ).write.format("noop").mode("overwrite").save()
    else:
        q = spark_queries()
    # warm the Python-free path + JIT
    spark.range(1 << 20).selectExpr("sum(id)").collect()

    results: dict[str, dict[str, float]] = {name: {} for name in BENCH_QUERIES}
    rows_per_sf: dict[str, int] = {}
    for sf, sf_dir in points:
        rows_per_sf[sf] = duckdb.sql(
            f"SELECT count(*) FROM '{sf_dir}/lineitem.parquet'"
        ).fetchone()[0]
        # the verdict is computed from the sf0.1/sf1 endpoints, and a
        # steal episode inflating the sf0.1 BASELINE would silently
        # mask real superlinearity (review-found: the flagged-only
        # retry can only flip verdicts toward PASS) — so both verdict
        # endpoints get extra trials for every query, symmetrically
        n_trials = args.trials + 2 if sf in ("0.1", "1") else args.trials
        for name in BENCH_QUERIES:
            times = []
            for _ in range(n_trials):
                t0 = time.perf_counter()
                q[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
            results[name][sf] = round(min(times), 3)
        print(f"# sf{sf} done", file=sys.stderr, flush=True)

    def _flags():
        flagged, ratios = [], {}
        for name, by_sf in results.items():
            lin = max(10 * by_sf["0.1"], 1.0)
            ratios[name] = round(by_sf["1"] / lin, 2)
            if by_sf["1"] > 2 * lin:
                flagged.append(name)
        return flagged, ratios

    flagged, ratios = _flags()
    # this host's steal episodes can poison every trial of one query
    # (measured: ann_cosine_topk 0.62s clean vs 10.3s mid-episode on
    # identical data); flagged queries additionally get a 5-trial
    # re-measure of BOTH verdict endpoints before a superlinear
    # verdict is recorded
    retried = sorted(flagged)
    for name in retried:
        for sf, sf_dir in points:
            if sf not in ("0.1", "1"):
                continue
            times = []
            for _ in range(5):
                t0 = time.perf_counter()
                q[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
            # merge, never overwrite: a noisier retry must not discard a
            # cleaner first-pass measurement (round-5 ADVICE)
            results[name][sf] = round(min(results[name][sf], min(times)), 3)
    flagged, ratios = _flags()
    rec = {
        "metric": "sf_sweep_superlinear_flags",
        "value": len(flagged),
        "unit": "queries",
        "flagged": flagged,
        "ratio_vs_linear_sf1": ratios,
        "secs": results,
        "lineitem_rows": rows_per_sf,
        "trials": args.trials,
        # the verdict endpoints run extra trials (see the sweep loop) —
        # record the actual protocol so the artifact is reproducible
        "trials_endpoint": args.trials + 2,
        "trials_retry": 5,
        "mode": "full_registry" if args.full else "headline_bench",
        "excluded": excluded,
        "retried_after_flag": retried,
        "cpus": args.cpus,
        "criterion": "t(sf1) <= 2 * max(10*t(sf0.1), 1s)",
    }
    line = json.dumps(rec)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
