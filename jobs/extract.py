"""spark-submit entrypoint for the checkpointed extraction job.

Cluster launch (SURVEY.md §4.4):

    spark-submit --py-files dist/docling_pdf_spark.zip jobs/extract.py \
        --input  <documents parquet/iceberg path> \
        --output <documents_extracted path> \
        --checkpoint <progress-manifest dir> \
        [--n-buckets 256] [--num-partitions <cores*2>] \
        [--gen-docs N]   # synthesize a corpus at --input first (demo/bench)

Local two-size scaling evidence (north_rule): run twice with
``--local-cores 8`` and ``--local-cores 32`` on the same input and
compare docs/sec (see bench.py, which automates this).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--num-partitions", type=int, default=None)
    ap.add_argument("--buckets-per-commit", type=int, default=None)
    ap.add_argument("--local-cores", type=int, default=None,
                    help="force local[N] master (omit on a real cluster)")
    ap.add_argument("--salt-mode", choices=("auto", "heavy", "full"),
                    default="auto",
                    help="skew taming with --num-partitions: auto=pick full "
                         "for cost-clustered inputs, heavy otherwise "
                         "(default); heavy=shuffle only oversized docs; "
                         "full=uniform salt shuffle. Without "
                         "--num-partitions the input partitioning is kept")
    ap.add_argument("--gen-docs", type=int, default=None,
                    help="synthesize a deterministic corpus at --input first")
    args = ap.parse_args(argv)

    from docling_pdf_spark.fixtures import write_corpus
    from docling_pdf_spark.pipeline import run_extraction
    from docling_pdf_spark.session import get_spark

    if args.gen_docs:
        os.makedirs(os.path.dirname(args.input) or ".", exist_ok=True)
        write_corpus(args.input, args.gen_docs)

    spark = get_spark("docling-pdf-spark-extract", local_cores=args.local_cores)
    t0 = time.perf_counter()
    log = run_extraction(
        spark,
        args.input,
        args.output,
        args.checkpoint,
        n_buckets=args.n_buckets,
        num_partitions=args.num_partitions,
        buckets_per_commit=args.buckets_per_commit,
        salt_mode=args.salt_mode,
    )
    elapsed = time.perf_counter() - t0
    manifests = log.all_manifests()
    n_docs = sum(m.n_docs for m in manifests)
    n_ok = sum(m.n_ok for m in manifests)
    print(
        json.dumps(
            {
                "status": "done",
                "buckets": len(manifests),
                "n_docs": n_docs,
                "n_ok": n_ok,
                "n_failed": n_docs - n_ok,
                "elapsed_sec": round(elapsed, 3),
                "docs_per_sec": round(n_docs / elapsed, 2) if elapsed else None,
                "output": args.output,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
