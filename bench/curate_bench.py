"""Curation-funnel throughput bench (r4 VERDICT next-round #5).

jobs/curate.py is the 100 TB showcase — extract → quality gates →
exact dedup → MinHash near-dup drop → n-gram decontamination — but
until round 5 it only had correctness tests, no recorded docs/s. This
driver synthesizes a deterministic dup-heavy corpus (default 20k base
docs + 40% planted one-word-edit near-dups, the crawl-realistic rate
the no-forced-broadcast test pins), a small eval set that genuinely
shares 8-grams with the corpus, runs the full funnel end-to-end
(including the curated-parquet sink) for --trials trials, and emits
ONE JSON line with median/min wall-time, docs/s and the funnel counts.

    python bench/curate_bench.py [--base-docs 20000] [--dup-rate 0.4]
        [--trials 3] [--cpus 32] [--out BENCH/curate.json]

Benchmark hygiene: this host shares hardware — run in the foreground
on an otherwise idle machine (see BENCH/BASELINE.md protocol notes).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20260817


def gen_dup_corpus(path: str, n_base: int, dup_rate: float, seed: int = SEED) -> int:
    """Base corpus (no adversarial cohort — this is a throughput run)
    plus deterministic planted near-dups: for dup_rate of the base docs
    that carry a text span, append a copy whose first text span has one
    word swapped for a nonce token. MinHash at the funnel's default
    Jaccard 0.8 collapses each planted pair. Returns total doc count."""
    from docling_pdf_spark.fixtures import gen_documents
    from docling_pdf_spark.schemas import DOCUMENTS_PA

    base = gen_documents(n_base, seed=seed, adversarial=False).to_pylist()
    rng = random.Random(seed + 1)
    docs = list(base)
    planted = 0
    want = int(n_base * dup_rate)
    for d in base:
        if planted >= want:
            break
        ti = next(
            (i for i, s in enumerate(d["spans"])
             if s["kind"] == "text" and s["text"] and len(s["text"].split()) > 3),
            None,
        )
        if ti is None:
            continue
        spans = [dict(s) for s in d["spans"]]
        words = spans[ti]["text"].split()
        words[rng.randrange(len(words))] = f"nonce{planted}"
        spans[ti] = {**spans[ti], "text": " ".join(words)}
        docs.append({"doc_id": f"dup-{d['doc_id']}", "spans": spans})
        planted += 1
    pq.write_table(
        pa.Table.from_pylist(docs, schema=DOCUMENTS_PA), path, row_group_size=2048
    )
    return len(docs)


def gen_eval_set(path: str, n_base: int, n_eval: int = 50, seed: int = SEED) -> int:
    """Eval docs are verbatim text spans lifted from every (n_base //
    n_eval)-th base doc, so the corpus genuinely shares word-8-grams
    with them and the decon stage does real dropping, not a no-op."""
    from docling_pdf_spark.fixtures import gen_documents

    base = gen_documents(n_base, seed=seed, adversarial=False).to_pylist()
    rows, step = [], max(1, n_base // n_eval)
    for d in base[::step]:
        t = next(
            (s["text"] for s in d["spans"]
             if s["kind"] == "text" and s["text"] and len(s["text"].split()) >= 8),
            None,
        )
        if t is not None:
            rows.append({"doc_id": f"eval-{d['doc_id']}", "text": t})
        if len(rows) >= n_eval:
            break
    pq.write_table(pa.Table.from_pylist(rows), path)
    return len(rows)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--base-docs", type=int, default=20_000)
    ap.add_argument("--dup-rate", type=float, default=0.4)
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--out", default=None, help="also write the JSON here")
    args = ap.parse_args(argv)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    work = os.path.join(repo, ".bench")
    os.makedirs(work, exist_ok=True)
    corpus = os.path.join(work, f"curate_corpus_{args.base_docs}_{args.dup_rate}.parquet")
    evalp = os.path.join(work, f"curate_eval_{args.base_docs}.parquet")
    if not os.path.exists(corpus):
        gen_dup_corpus(corpus, args.base_docs, args.dup_rate)
    if not os.path.exists(evalp):
        gen_eval_set(evalp, args.base_docs)
    n_docs = pq.read_metadata(corpus).num_rows

    from jobs.curate import curate
    from docling_pdf_spark.session import get_spark

    spark = get_spark("curate-bench", local_cores=args.cpus,
                      shuffle_partitions=max(args.cpus, 32))
    spark.sparkContext.setLogLevel("ERROR")

    # spin up the Python worker pool + kernel imports outside the timed
    # region (a JVM-only warm-up leaves trial 1 paying worker spawn +
    # imports; same shape as bench.py's warm_up)
    import pandas as pd

    def _touch(batches):
        from docling_pdf_spark.core.batch import extract_arrow_batch  # noqa: F401

        for b in batches:
            yield pd.DataFrame({"id": b["id"][:1]})

    spark.range(args.cpus * 4, numPartitions=args.cpus * 4).mapInPandas(
        _touch, schema="id long"
    ).write.format("noop").mode("overwrite").save()
    spark.read.parquet(corpus).limit(256).count()

    times, funnel = [], {}
    for t in range(args.trials):
        out = os.path.join(work, f"curate_out_{t}")
        t0 = time.perf_counter()
        funnel = curate(
            spark, corpus, out,
            near_dup="minhash", jaccard=0.8,
            decon_eval=evalp, decon_gram_words=8,
        )
        times.append(time.perf_counter() - t0)
        # stage accounting sanity (r5 VERDICT #6): every stage timing
        # in the funnel must be a real action wall — their sum can't
        # exceed the trial wall, and the actions dominate it (the gap
        # is driver-side planning/unpersist)
        stage_sum = sum(s["wall_s"] for s in funnel["stages"])
        assert stage_sum <= times[-1] + 0.05, (stage_sum, times[-1])
        assert stage_sum >= 0.6 * times[-1], (stage_sum, times[-1])
    med, mn = statistics.median(times), min(times)
    rec = {
        "metric": "curate_funnel_docs_per_sec",
        "value": round(n_docs / med, 1),
        "unit": "docs/sec",
        "docs_per_sec_best": round(n_docs / mn, 1),
        "wall_sec_median": round(med, 3),
        "wall_sec_min": round(mn, 3),
        "trials": args.trials,
        "trial_secs": [round(x, 3) for x in times],
        "n_docs": n_docs,
        "base_docs": args.base_docs,
        "dup_rate": args.dup_rate,
        "cpus": args.cpus,
        "stages": "extract>quality>exact>minhash(j0.8)>decon(8gram)",
        "funnel": funnel,
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
