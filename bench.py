#!/usr/bin/env python
"""Per-round benchmark driver.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit": "sec", "queries": {name: sec}, "sf"}.

Timing uses a noop-format write so every column is actually computed
(a bare .count() would let Catalyst prune the work away). One warm-up
job first spins up the JVM stages and the Python worker pool so the
measured numbers are steady-state.

Every timing is the MEDIAN of k trials (default 3, $SPARK_GRAFT_TRIALS):
this host is shared and single-trial numbers occasionally absorb a
multi-second steal burst (round 1 recorded a 39.6s phantom for a 0.6s
query); the median of 3 is robust to one bad window per query.

The extraction headline runs the real mapInPandas pipeline over the
deterministic fixture corpus (cached under .bench/, gitignored),
replicated JVM-side to reach a meaningful task count. Two-cluster-size
scaling evidence is produced separately by bench/scaling.py →
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from docling_pdf_spark.queries import q_winnow_fingerprints  # noqa: E402

BENCH_QUERIES = [
    "pricing_summary",
    "top_orders",
    "top_customers_window",
    "events_hourly",
    "status_scan",
    "pagination_50",
    "dedup_exact",
    "ngram_jaccard_pairs",
    "ann_cosine_topk",
    "text_quality",
    "doc_fingerprint",
    "lang_id_heuristic",
    "sessionization",
    "set_ops_purchasers",
    "embedding_stats",
    "parts_by_type",
    "asof_last_purchase",
    "rollup_lineitem",
    "event_value_percentiles",
    "pivot_event_matrix",
    "bpe_token_counts",
    "winnow_fingerprints",
]

CORPUS_DOCS = 10_000
REPLICATE = 4  # JVM-side copies of the corpus for the extraction headline


def _minhash_lsh(spark, sf_dir):
    """MinHash-LSH near-dup pairs, pure pipeline (no oracle detour)."""
    from docling_pdf_spark.operators.dedup import minhash_lsh_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_lsh_dedup(docs, threshold=0.3)


def _simhash(spark, sf_dir):
    """SimHash near-dup pairs, pure pipeline."""
    from docling_pdf_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_dups,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_near_dups(simhash_fingerprints(docs), max_hamming=8)


def _text_embedding_d1024(spark, sf_dir):
    # the embedder at a model-like dim (real models use 768–4096); the
    # same single Arrow kernel serves every dim
    # (functions/arrowhash.text_embedding_arrow)
    from docling_pdf_spark.operators.similarity import text_embedding

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return text_embedding(docs, dim=1024)


def _repetition_stats(spark, sf_dir):
    # Gopher-style repetition signals — dup-line/dup-para/top-{2,3,4}-gram,
    # all five in one narrow Arrow kernel
    # (functions/arrowhash.repetition_stats_arrow)
    from docling_pdf_spark.operators.quality import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_stats(docs)


def _line_shape_stats(spark, sf_dir):
    # Gopher line-shape gates (round 6): symbol/word ratio + bullet/
    # ellipsis line fractions — pure row expressions, zero shuffle
    from docling_pdf_spark.operators.quality import line_shape_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return line_shape_stats(docs)


def _pii_redact(spark, sf_dir):
    # email/phone/IPv4 typed-token scrub over the corpus (round 5). The
    # (doc_id, text) projection is spread when the scan is unsplittable
    # (a 1-row-group file is one task), as the text kernels do, so the
    # row times the operator rather than a single-task scan
    from docling_pdf_spark.functions.pii import redact_pii
    from docling_pdf_spark.functions.scanspread import spread_unsplittable

    docs = spread_unsplittable(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    )
    return docs.select("doc_id", redact_pii("text").alias("text"))


def _dup_cluster_resolve(spark, sf_dir):
    # pairs → connected components (alternating star contraction) →
    # one survivor per duplicate cluster (round 6): the full dedup
    # endgame over the corpus's n-gram Jaccard pairs. Iterative —
    # per-round cost is two hash shuffles over the (tiny vs corpus)
    # edge list; the dominant cost is the pair generation itself.
    from docling_pdf_spark.operators.components import resolve_duplicates
    from docling_pdf_spark.queries import q_ngram_jaccard_pairs
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = q_ngram_jaccard_pairs(spark, sf_dir).where(F.col("jaccard") >= 0.5)
    return resolve_duplicates(docs, pairs)


def _strip_boilerplate(spark, sf_dir):
    # corpus-frequency line dedup (round 6): explode → distinct-doc
    # count → join back → ordered reassembly; two partial-agg shuffles
    # plus the AQE-decided join. The synthetic corpus has no repeated
    # lines, so this times the full identity round-trip (the dominant
    # explode/reassemble cost is corpus-shaped, not hit-shaped).
    from docling_pdf_spark.operators.boilerplate import strip_boilerplate_lines

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return strip_boilerplate_lines(docs, min_docs=3)


def _token_budget_mix(spark, sf_dir):
    # water-filling mixture plan + distributed prefix-sum selection
    # (round 6): budget = 50% of corpus tokens, lang-stratified. The
    # plan is one hash agg + a strata-bounded window; the selection is
    # a range shuffle + bounded (lang, bucket) window + two broadcast
    # joins — no per-stratum single-task sort.
    from docling_pdf_spark.operators.mixer import (
        fill_to_allocation,
        token_budget_mix,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tot = docs.agg(F.sum("n_chars")).first()[0] or 0
    # NULL langs would break the sort (None vs str) — and NULL strata
    # are dropped by the mixer's contract anyway (review-found)
    langs = sorted(
        r[0]
        for r in docs.select("lang").distinct().collect()
        if r[0] is not None
    )
    weights = {l: 100_000 + 50_000 * i for i, l in enumerate(langs)}
    plan = token_budget_mix(docs, weights, int(tot * 0.5))
    return fill_to_allocation(docs, plan, order_by=-F.col("n_chars"))


def _corpus_shuffle(spark, sf_dir):
    # seeded training-order shuffle (round 6): dense global ranks via
    # range repartition + per-bucket offsets + bounded window — the
    # one-window naive form would single-task-sort the corpus.
    from docling_pdf_spark.operators.shuffle import deterministic_shuffle

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return deterministic_shuffle(docs, 42)


def _dsir_weights(spark, sf_dir):
    # DSIR importance weights (round 6): two hashed-bigram distribution
    # passes + one broadcast-join scoring shuffle, all JVM. Delegates
    # to the REGISTERED entry so the benched computation can never
    # drift from the scoreboard one (review-found)
    import __spark_entry__ as se

    return se._dsir_weights(spark, sf_dir)


def _quality_classifier(spark, sf_dir):
    # learned quality filter (round 6): train LR on a doc_id-sliced
    # pseudo-labeled exemplar set (lang=='en' as the positive class —
    # deterministic, label-balance irrelevant for a throughput row),
    # then score the whole corpus. Scoring is the measured surface;
    # training rides inside (small by construction).
    from pyspark.sql import functions as F

    from docling_pdf_spark.operators.classifier import (
        score_quality,
        train_quality_classifier,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    labeled = docs.where(F.col("doc_id") % 10 == 0).withColumn(
        "label", (F.col("lang") == "en").cast("int")
    )
    model = train_quality_classifier(labeled)
    return score_quality(docs, model)


# bench-only extras: timed like BENCH_QUERIES but not part of the
# driver's queries()/oracle_sql() contract. Winnow, MinHash and SimHash
# have one hash path each (md5-low-60, DuckDB-checkable), so
# winnow_fingerprints_fast times the winnow_fingerprints query again and
# the *_fast and *_portable keys time the SAME callable; the keys stay
# so the JSON keeps every key it had.
EXTRA_BENCH = {
    "winnow_fingerprints_fast": q_winnow_fingerprints,
    "minhash_lsh_fast": _minhash_lsh,
    "minhash_lsh_portable": _minhash_lsh,
    "simhash_fast": _simhash,
    "simhash_portable": _simhash,
    "text_embedding_d1024": _text_embedding_d1024,
    "repetition_stats": _repetition_stats,
    "line_shape_stats": _line_shape_stats,
    "pii_redact": _pii_redact,
    "dup_cluster_resolve": _dup_cluster_resolve,
    "strip_boilerplate": _strip_boilerplate,
    "token_budget_mix": _token_budget_mix,
    "corpus_shuffle": _corpus_shuffle,
    "dsir_weights": _dsir_weights,
    "quality_classifier": _quality_classifier,
}


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_trials(make_df, trials: int) -> tuple[float, float]:
    """(median, min) wall-clock of `trials` noop-write runs of make_df().
    Median is the headline; min is reported alongside because this host
    shares hardware and a steal burst can poison 2 of 3 trials — for
    deterministic work the min is the best estimate of true cost."""
    import statistics

    times = []
    for _ in range(trials):
        t0 = time.perf_counter()
        _noop_write(make_df())
        times.append(time.perf_counter() - t0)
    return statistics.median(times), min(times)


def _fixtures_version() -> str:
    """Content hash of the corpus generator: a cached corpus built by an
    OLDER generator must not be benchmarked as if it were current (the
    round-1 cache lacked producer metadata entirely, so benches never
    exercised the producer-sniff path)."""
    import hashlib

    import docling_pdf_spark.core.pdfgen as pdfgen
    import docling_pdf_spark.fixtures as fixtures
    import docling_pdf_spark.schemas as schemas  # DOCUMENTS_PA shapes the corpus

    h = hashlib.sha256()
    for mod in (fixtures, pdfgen, schemas):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:10]


def ensure_corpus(path: str, n_docs: int) -> str:
    import glob

    base, ext = os.path.splitext(path)
    path = f"{base}_{_fixtures_version()}{ext}"
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        from docling_pdf_spark.fixtures import write_corpus

        write_corpus(path, n_docs)
        # prune caches orphaned by older generator versions (each is a
        # full multi-MB corpus; nothing else ever deletes them)
        for stale in glob.glob(f"{base}_*{ext}") + glob.glob(f"{base}{ext}"):
            if stale != path and os.path.isfile(stale):
                os.remove(stale)
    return path


def replicated_corpus(spark, path: str, replicate: int):
    """Replicate the corpus JVM-side with distinct doc_ids (cheap scale
    without Python-side generation cost)."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    if replicate <= 1:
        return df
    # spread the (single-file) corpus across all cores BEFORE the
    # explode, otherwise the replicate runs on however few input
    # splits the file yields (an Amdahl serial fraction). Fine-grained
    # (6× cores): these partitions feed the UDF stage's light branch
    # directly in heavy-only salt mode, and coarse tasks there turn
    # into last-wave stragglers.
    n = spark.sparkContext.defaultParallelism * 6
    return (
        df.repartition(n)
        .withColumn("_i", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1))))
        .withColumn("doc_id", F.concat_ws("#", "doc_id", F.col("_i").cast("string")))
        .drop("_i")
    )


def warm_up(spark, cpus: int) -> None:
    import pandas as pd

    def touch(batches):
        from docling_pdf_spark.core.batch import extract_arrow_batch  # noqa: F401

        for b in batches:
            yield pd.DataFrame({"id": b["id"][:1]})

    spark.range(cpus * 4, numPartitions=cpus * 4).mapInPandas(
        touch, schema="id long"
    ).write.format("noop").mode("overwrite").save()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])

    from docling_pdf_spark.pipeline import extract
    from docling_pdf_spark.queries import spark_queries
    from docling_pdf_spark.session import get_spark

    repo = os.path.dirname(os.path.abspath(__file__))
    corpus = ensure_corpus(os.path.join(repo, ".bench", f"corpus_{CORPUS_DOCS}.parquet"), CORPUS_DOCS)

    spark = get_spark("bench", local_cores=cpus, shuffle_partitions=max(cpus, 32))
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, cpus)

    trials = int(os.environ.get("SPARK_GRAFT_TRIALS", "3"))
    timings: dict[str, float] = {}
    best: dict[str, float] = {}

    # headline: the extraction pipeline itself
    docs = replicated_corpus(spark, corpus, REPLICATE)
    n_docs = docs.count()
    # salt_mode pinned to 'heavy' (not the 'auto' default): the bench
    # corpus is well-mixed, so auto resolves to heavy anyway, and the
    # explicit pin keeps the headline comparable across rounds (r1/r2
    # measured heavy) instead of folding auto's probe job into the timing
    extract_sec, extract_min = _timed_trials(
        lambda: extract(docs, num_partitions=cpus * 3, salt_mode="heavy"), trials
    )
    timings["extract_pipeline"] = round(extract_sec, 3)
    best["extract_pipeline"] = round(extract_min, 3)

    q = spark_queries()
    for name in BENCH_QUERIES:
        med, mn = _timed_trials(lambda: q[name](spark, sf_dir), trials)
        timings[name] = round(med, 3)
        best[name] = round(mn, 3)

    # headline total EXCLUDES the extras (keeps round-over-round suite
    # numbers comparable); extras are reported alongside
    total = round(sum(timings.values()), 3)
    extras: dict[str, float] = {}
    for name, fn in EXTRA_BENCH.items():
        med, _mn = _timed_trials(lambda: fn(spark, sf_dir), trials)
        extras[name] = round(med, 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "queries_min": best,
                "queries_extra": extras,
                "trials": trials,
                "sf": sf,
                "extract_docs": n_docs,
                "extract_docs_per_sec": round(n_docs / extract_sec, 1),
                "extract_docs_per_sec_best": round(n_docs / extract_min, 1),
                "cpus": cpus,
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
