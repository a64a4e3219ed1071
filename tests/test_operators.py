"""Operator tests: MinHash-LSH / SimHash dedup, IVF ANN, multimodal
plumbing (driver-mandated training-data pipeline components)."""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from docling_pdf_spark.fixtures import gen_media_assets
from docling_pdf_spark.operators.dedup import (
    minhash_lsh_dedup,
    simhash_fingerprints,
    simhash_near_dups,
)
from docling_pdf_spark.operators.multimodal import media_features
from docling_pdf_spark.operators.similarity import ivf_assign, ivf_cosine_topk

SF_DIR = "/root/testdata/sf0.001"

BASE = (
    "the quick brown fox jumps over the lazy dog while the spark engine "
    "shuffles partitions across the cluster and the arrow batches flow "
    "through vectorized pipelines without touching python at all"
)


@pytest.fixture()
def dup_docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),                                    # exact dup of 1
        (3, BASE.replace("lazy", "sleepy")),          # near dup of 1
        (4, "completely different text about nothing much at all here body"),
        (5, "another unrelated document mentioning entirely other things okay"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


# ------------------------------------------------------------- minhash


def test_minhash_lsh_finds_exact_and_near_dups(dup_docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_lsh_dedup(dup_docs, threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0  # exact dup: all minhashes agree
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.3  # near dup caught
    assert (4, 5) not in pairs  # unrelated docs not paired


def test_minhash_estimate_tracks_true_jaccard(dup_docs):
    from docling_pdf_spark.operators.dedup import SHINGLE_WORDS

    def shingle_set(text: str) -> set[str]:
        w = text.split(" ")
        return {
            " ".join(w[i : i + SHINGLE_WORDS])
            for i in range(len(w) - SHINGLE_WORDS + 1)
        }

    a, b = shingle_set(BASE), shingle_set(BASE.replace("lazy", "sleepy"))
    true_j = len(a & b) / len(a | b)
    est = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_lsh_dedup(dup_docs, threshold=0.0).collect()
    }[(1, 3)]
    assert abs(est - true_j) < 0.25  # 32 hashes → ±~2σ tolerance


def test_minhash_portable_signature_chunking_is_exact():
    """The portable MinHash kernel folds its hashes x grams matrix in
    _CHUNK-gram chunks (bounded transient memory); on a doc with more
    than two chunks of distinct grams the signature must equal the
    unchunked min((a*base+b) % M31) formula."""
    import numpy as np

    from docling_pdf_spark.functions.arrowhash import _CHUNK, _minhash_doc, md5_low60
    from docling_pdf_spark.operators.dedup import (
        MERSENNE31,
        SHINGLE_WORDS,
        affine_params,
    )

    words = [f"w{i}" for i in range(2 * _CHUNK + 1000)]
    text = " ".join(words)
    grams = {
        " ".join(words[i : i + SHINGLE_WORDS])
        for i in range(len(words) - SHINGLE_WORDS + 1)
    }
    assert len(grams) > 2 * _CHUNK
    params = affine_params(32)
    a = np.array([p for p, _ in params], dtype=np.int64).reshape(-1, 1)
    b = np.array([q for _, q in params], dtype=np.int64).reshape(-1, 1)
    base = np.array(
        [md5_low60(g.encode("utf-8")) % MERSENNE31 for g in grams], dtype=np.int64
    )
    want = ((a * base + b) % MERSENNE31).min(axis=1)
    got = _minhash_doc(text, SHINGLE_WORDS, a, b, MERSENNE31)
    assert got.tolist() == want.tolist()


# ------------------------------------------------------------- simhash


def test_simhash_deterministic_and_orders_by_similarity(spark, dup_docs):
    fps = simhash_fingerprints(dup_docs)
    vals = {r["doc_id"]: r["simhash"] for r in fps.collect()}
    assert vals[1] == vals[2]  # identical text → identical fingerprint
    ham = lambda x, y: bin((x ^ y) & (2**64 - 1)).count("1")  # noqa: E731
    assert ham(vals[1], vals[3]) < ham(vals[1], vals[4])
    # determinism across runs
    vals2 = {r["doc_id"]: r["simhash"] for r in simhash_fingerprints(dup_docs).collect()}
    assert vals == vals2


def test_simhash_near_dups_pairs(dup_docs):
    fps = simhash_fingerprints(dup_docs)
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in simhash_near_dups(fps, max_hamming=8).collect()}
    assert got[(1, 2)] == 0
    assert (4, 5) not in got


# ---------------------------------------------------------------- ANN


def test_ivf_recall_vs_brute_force(spark):
    from docling_pdf_spark.operators.similarity import kmeans_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    cents = kmeans_centroids(emb, n=16, iters=3)
    assigned = ivf_assign(emb, cents)
    # probing all 16 buckets is the exact brute-force top-k (the
    # ivf_ann_topk_exhaustive registry oracle pins that equality)
    exact = [
        r["vec_id"]
        for r in ivf_cosine_topk(assigned, cents, list(qv), k=10, nprobe=16).collect()
    ]
    approx = [
        r["vec_id"]
        for r in ivf_cosine_topk(assigned, cents, list(qv), k=10, nprobe=6).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    # measured 0.7 stable across reruns (nprobe=4 sat exactly on 0.5 —
    # too fragile a margin for a gate)
    assert recall >= 0.5
    # every vector lands in exactly one bucket
    assert assigned.count() == emb.count()
    assert assigned.select("bucket").distinct().count() <= 16


def test_kmeans_training_reads_only_the_sample(spark):
    """With max_train_vectors set below the corpus size, the Lloyd loop
    must aggregate ONLY the deterministic hash-residue sample: training
    the full corpus under the cap yields exactly the centroids of
    training the pre-filtered sample with no cap. If any iteration
    touched a non-sample vector the means (and so the output) would
    differ."""
    from docling_pdf_spark.operators.similarity import (
        _SAMPLE_MOD,
        kmeans_centroids,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    total = emb.count()
    cap = 120
    num = max(1, (_SAMPLE_MOD * cap) // total)
    pre = emb.where(
        F.pmod(F.xxhash64(F.col("vec_id")), F.lit(_SAMPLE_MOD)) < F.lit(num)
    )
    n_sample = pre.count()
    assert 0 < n_sample < total  # the cap actually bit
    assert n_sample <= 2 * cap  # and bounded near the cap

    capped = kmeans_centroids(emb, n=8, iters=2, max_train_vectors=cap)
    manual = kmeans_centroids(pre, n=8, iters=2, max_train_vectors=None)
    a = {r["centroid_id"]: r["centroid"] for r in capped.collect()}
    b = {r["centroid_id"]: r["centroid"] for r in manual.collect()}
    assert a.keys() == b.keys()
    for cid in a:
        assert a[cid] == pytest.approx(b[cid], abs=1e-12)


def test_kmeans_sample_is_narrow_scan_predicate(spark):
    """The training sample is a filter pushed at the scan — no shuffle,
    no Python — so at 100 TB it is one narrow pass, not a stage."""
    from docling_pdf_spark.operators.similarity import _train_sample

    v = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    s, sampled = _train_sample(v, 100, "_id")
    assert sampled
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan
    assert "Exchange" not in plan and "Python" not in plan
    # under the cap nothing changes: input passes through untouched
    same, hit = _train_sample(v, 10_000, "_id")
    assert not hit and same is v


def test_ivf_recall_with_sampled_centroids(spark):
    """The recall gate must hold when centroids come from a forced
    training sample — the 100 TB configuration."""
    from docling_pdf_spark.operators.similarity import kmeans_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qv = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    cents = kmeans_centroids(emb, n=16, iters=3, max_train_vectors=150)
    assigned = ivf_assign(emb, cents)
    exact = [
        r["vec_id"]
        for r in ivf_cosine_topk(assigned, cents, list(qv), k=10, nprobe=16).collect()
    ]
    approx = [
        r["vec_id"]
        for r in ivf_cosine_topk(assigned, cents, list(qv), k=10, nprobe=6).collect()
    ]
    assert len(set(exact) & set(approx)) / 10 >= 0.5
    assert assigned.count() == emb.count()


# --------------------------------------------------------- multimodal


def test_media_features_plumbing(spark, tmp_path):
    path = str(tmp_path / "assets.parquet")
    pq.write_table(gen_media_assets(200), path)
    assets = spark.read.parquet(path)
    feats = media_features(assets).collect()
    assert len(feats) == 200
    for r in feats[:20]:
        assert abs(sum(r["byte_hist"]) - 1.0) < 1e-4  # normalized histogram
        assert 0.0 <= r["byte_entropy"] <= 4.0 + 1e-6  # 16 bins → ≤ 4 bits
        assert r["n_bytes"] > 0
        # integer counts are exact and size-independent (r3 ADVICE):
        # they sum to n_bytes and agree with the rounded probabilities
        assert sum(r["byte_hist_counts"]) == r["n_bytes"]
        for p, c in zip(r["byte_hist"], r["byte_hist_counts"]):
            assert abs(p - c / r["n_bytes"]) < 1e-6


def test_fake_decode_thumbnails_and_frames(spark, tmp_path):
    """The deterministic fake codec drives the FULL Spark plumbing:
    decode→resize thumbnails (fixed shape, deterministic pixels) and
    one-row-in/many-out frame sampling."""
    from docling_pdf_spark.operators.multimodal import (
        image_thumbnails,
        video_frame_index,
    )

    path = str(tmp_path / "assets.parquet")
    pq.write_table(gen_media_assets(120), path)
    assets = spark.read.parquet(path)

    thumbs = image_thumbnails(assets, out_h=8, out_w=8).collect()
    n_images = assets.where(F.col("media_kind") == "image").count()
    assert len(thumbs) == n_images
    for r in thumbs[:10]:
        assert (r["thumb_h"], r["thumb_w"]) == (8, 8)
        assert len(r["pixels"]) == 64
        assert all(0 <= p <= 255 for p in r["pixels"])
    # determinism: same input → same pixels
    again = image_thumbnails(assets, out_h=8, out_w=8).collect()
    assert {r["media_ref"]: r["pixels"] for r in thumbs} == {
        r["media_ref"]: r["pixels"] for r in again
    }

    frames = video_frame_index(assets, every_ms=500).collect()
    vids = {r["media_ref"]: int(r["nb"]) for r in
            assets.where(F.col("media_kind") == "video")
            .select("media_ref", F.length("data").alias("nb")).collect()}
    assert vids  # fixture generates some videos
    by_ref: dict[str, list] = {}
    for r in frames:
        by_ref.setdefault(r["media_ref"], []).append(r)
    for ref, rs in by_ref.items():
        # every_ms=500 → every 5th 1KiB chunk
        expected = len(range(0, (vids[ref] + 1023) // 1024, 5))
        assert len(rs) == expected


# ---------------------------------------------------------- textstats


def test_top_tokens_per_language_grouped_map(spark):
    from docling_pdf_spark.operators.textstats import top_tokens_per_language

    docs = spark.createDataFrame(
        [("en", "a a a b b c"), ("en", "b d"), ("de", "x y x")],
        ["lang", "text"],
    )
    rows = {(r["lang"], r["rank"]): (r["token"], r["freq"])
            for r in top_tokens_per_language(docs, k=2).collect()}
    # a=3 and b=3 tie → broken lexicographically (a before b)
    assert rows[("en", 1)] == ("a", 3)
    assert rows[("en", 2)] == ("b", 3)
    assert rows[("de", 1)] == ("x", 2)
    assert rows[("de", 2)] == ("y", 1)


# ------------------------------------------------- embedding near-dups


def test_embedding_near_dups_bucketed_recall(spark):
    """The IVF-bucketed near-dup pass must recover most of the exact
    pairs (pairs above a high threshold usually share a bucket)."""
    from docling_pdf_spark.operators.dedup import (
        embedding_near_dups,
        embedding_near_dups_bucketed,
    )
    from docling_pdf_spark.operators.similarity import kmeans_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {(r["id_a"], r["id_b"]) for r in embedding_near_dups(emb, 0.3).collect()}
    cents = kmeans_centroids(emb, n=16, iters=3)
    bucketed = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups_bucketed(emb, cents, 0.3, nprobe=2).collect()
    }
    assert bucketed <= exact  # bucketing can only lose pairs, never invent
    if exact:
        recall = len(bucketed) / len(exact)
        # this synthetic corpus has no true near-dups (max cosine ≈0.37),
        # so the 0.3-threshold pairs are WEAK — the hardest case for
        # bucketing. k-means centroids + nprobe=2 measured 0.63 here
        # (round-1 first-n centroids, single-probe: 0.20).
        assert recall >= 0.5


def test_exhaustive_near_dups_is_exact(spark):
    """nprobe = n_centroids collapses the bucketed pass to the exact
    O(n²) result (every vector probes every bucket, cap unbounded).
    This pins the machinery the retired embedding_near_dups_exhaustive
    driver entry proved before it was consolidated out of the 50-entry
    registry in round 5 (r4 VERDICT next-round #1)."""
    from docling_pdf_spark.operators.dedup import (
        embedding_near_dups,
        embedding_near_dups_bucketed,
    )
    from docling_pdf_spark.operators.similarity import kmeans_centroids

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in embedding_near_dups(emb, 0.3).collect()
    }
    exhaustive = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in embedding_near_dups_bucketed(
            emb, kmeans_centroids(emb, n=16, iters=3),
            threshold=0.3, nprobe=16, max_bucket=1_000_000_000,
        ).collect()
    }
    assert exact and exhaustive == exact


def test_embedding_near_dups_bucketed_planted_recall(spark):
    """TRUE near-dups (planted cos≥0.9 perturbed copies) must be
    recovered at high recall — the case the operator exists for."""
    import numpy as np

    from docling_pdf_spark.operators.dedup import (
        embedding_near_dups,
        embedding_near_dups_bucketed,
    )
    from docling_pdf_spark.operators.similarity import kmeans_centroids

    rng = np.random.default_rng(7)
    base = rng.normal(size=(60, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    for j in range(40):  # 40 perturbed copies of the first 40 bases
        noise = rng.normal(size=64)
        noise /= np.linalg.norm(noise)
        pert = base[j] + 0.25 * noise
        pert /= np.linalg.norm(pert)
        rows.append((100 + j, [float(x) for x in pert]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    exact = {(r["id_a"], r["id_b"]) for r in embedding_near_dups(emb, 0.9).collect()}
    assert len(exact) >= 35  # the plant worked
    cents = kmeans_centroids(emb, n=8, iters=4)
    bucketed = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups_bucketed(emb, cents, 0.9, nprobe=2).collect()
    }
    assert bucketed <= exact
    assert len(bucketed) / len(exact) >= 0.8  # measured 1.0


# ------------------------------------------------- approx sketches


def test_approx_count_distinct_within_tolerance(spark):
    """HLL sketch coverage: approx_count_distinct per group lands within
    its documented relative error of the exact count (rsd=0.05 → assert
    a loose 3σ bound). Sketches cannot be value-oracled against DuckDB
    (different HLL implementations), hence pytest-tolerance instead of a
    driver hash row."""
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.05).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r["approx"] - r["exact"]) <= max(3, 0.15 * r["exact"]), r


# -------------------------------------------------------- winnowing


def test_winnowing_guarantee_and_pairs(spark):
    """SIGMOD'03 guarantee: a shared substring of length ≥ w+k−1
    (= 11 here) produces ≥1 shared fingerprint; disjoint texts share
    none; the pair consumer finds the overlapping pair only."""
    from docling_pdf_spark.operators.winnow import (
        winnow_fingerprints,
        winnow_near_dup_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, f"intro text before {shared} and an ending one"),
        (2, f"totally other opening {shared} different closing words"),
        (3, "no overlap whatsoever in this completely unrelated document text"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = winnow_fingerprints(docs)
    by_doc: dict[int, set] = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[1] & by_doc[2]          # shared passage → shared fingerprint
    assert not (by_doc[1] & by_doc[3])    # disjoint text → disjoint sets

    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in winnow_near_dup_pairs(docs, min_shared=3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 3
    assert not any(3 in p for p in pairs)


# ------------------------------------------------- text functions


def test_bpe_token_count_and_punct_ratio(spark):
    """The pretokenizer must split contractions, letter runs, digit runs
    and punctuation runs the way the GPT-2-family regex does (the
    documents corpus is punctuation-free, so the oracle parity test
    alone would not exercise these branches)."""
    from docling_pdf_spark.functions.text import bpe_token_count, punct_ratio

    rows = [
        (1, "hello world"),        # 2 pretokens
        (2, "it's 2024, folks!"),  # it|'s| 2024|,| folks|! = 6
        (3, "abc"),                # 1
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    got = {
        r["id"]: (r["n"], r["p"])
        for r in df.select(
            "id",
            bpe_token_count("t").alias("n"),
            F.round(punct_ratio("t"), 4).alias("p"),
        ).collect()
    }
    assert got[1] == (2, 0.0)
    assert got[2][0] == 6
    assert got[2][1] == round(3 / len("it's 2024, folks!"), 4)  # ' , !
    assert got[3] == (1, 0.0)


# ------------------------------------------------------- as-of join


def test_asof_join_semantics(spark):
    """ASOF >= semantics: greatest right.ts <= left.ts per key; equal
    timestamps match; no prior right row -> null; later rows ignored."""
    import datetime as dt

    from docling_pdf_spark.operators.asof import asof_join

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, "u1", t(10)), (2, "u1", t(20)), (3, "u2", t(5)), (4, "u3", t(30))],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [("u1", t(10), 100.0), ("u1", t(15), 150.0), ("u2", t(6), 60.0)],
        ["user_id", "ts", "pval"],
    )
    got = {
        r["event_id"]: r["v"]
        for r in asof_join(left, right, on="ts", by="user_id",
                           value_col="pval", out_col="v").collect()
    }
    assert got[1] == 100.0   # equal ts matches (>= semantics)
    assert got[2] == 150.0   # greatest ts <= 20
    assert got[3] is None    # u2's only right row is LATER -> no match
    assert got[4] is None    # u3 has no right rows at all


def test_asof_join_matched_null_value_is_null(spark):
    """A matched right row whose value is NULL must yield NULL — not a
    staler non-null value (DuckDB ASOF semantics; the naive
    last(ignorenulls) over bare values gets this wrong)."""
    import datetime as dt

    from docling_pdf_spark.operators.asof import asof_join

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame([(1, "u1", t(12))], ["event_id", "user_id", "ts"])
    right = spark.createDataFrame(
        [("u1", t(5), 100.0), ("u1", t(10), None)], ["user_id", "ts", "pval"]
    )
    [row] = asof_join(left, right, on="ts", by="user_id",
                      value_col="pval", out_col="v").collect()
    assert row["v"] is None  # the ts=10 row IS the match; its NULL wins


def test_asof_join_matches_pandas_merge_asof_randomized(spark):
    """Property check against an independent reference implementation:
    asof_join == pandas.merge_asof(direction='backward',
    allow_exact_matches=True) on seeded random inputs (ties excluded by
    construction: right side unique per (key, ts) as documented)."""
    import datetime as dt
    import random

    import pandas as pd

    from docling_pdf_spark.operators.asof import asof_join

    rng = random.Random(99)
    base = dt.datetime(2026, 1, 1)
    for trial in range(4):
        users = [f"u{i}" for i in range(rng.randint(2, 6))]
        left_rows = [
            (i, rng.choice(users), base + dt.timedelta(seconds=rng.randint(0, 500)))
            for i in range(rng.randint(5, 40))
        ]
        right_set = set()
        right_rows = []
        for _ in range(rng.randint(3, 30)):
            k = (rng.choice(users), base + dt.timedelta(seconds=rng.randint(0, 500)))
            if k in right_set:
                continue  # unique per (key, ts) precondition
            right_set.add(k)
            right_rows.append((*k, round(rng.uniform(0, 100), 3)))

        out_rows = asof_join(
            spark.createDataFrame(left_rows, ["event_id", "user_id", "ts"]),
            spark.createDataFrame(right_rows, ["user_id", "ts", "pval"]),
            on="ts", by="user_id", value_col="pval", out_col="v",
        ).collect()
        assert len(out_rows) == len(left_rows)  # exactly one row per left row
        got = {r["event_id"]: r["v"] for r in out_rows}

        lp = pd.DataFrame(left_rows, columns=["event_id", "user_id", "ts"]).sort_values("ts")
        rp = pd.DataFrame(right_rows, columns=["user_id", "ts", "pval"]).sort_values("ts")
        ref = pd.merge_asof(lp, rp, on="ts", by="user_id",
                            direction="backward", allow_exact_matches=True)
        for row in ref.itertuples(index=False):
            want = None if pd.isna(row.pval) else row.pval
            assert got[row.event_id] == want, (trial, row)


# ------------------------------------------------- mega-bucket caps


def test_lsh_mega_bucket_cap_bounds_pairs(spark):
    """An adversarial corpus where every doc shares one boilerplate
    passage: without the cap the shared band bucket emits O(n²) pairs;
    with it the bucket is dropped and unique near-dup pairs survive.
    The sf0.01 oracle never makes the cap bind, so this is its test."""
    from docling_pdf_spark.functions.arrowhash import minhash_arrow
    from docling_pdf_spark.operators.dedup import (
        SHINGLE_WORDS,
        affine_params,
        bucket_cap_stats,
        lsh_candidate_pairs,
        shingles,
    )

    boiler = " ".join(f"boilerword{k}" for k in range(30))
    rows = [(i, f"{boiler} unique{i}") for i in range(300)]
    rows.append((900, "a genuinely distinct document about mountain weather today"))
    rows.append((901, "a genuinely distinct document about mountain weather today"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_arrow(docs, affine_params(32), SHINGLE_WORDS, "doc_id", "text")

    capped = lsh_candidate_pairs(sigs, max_bucket=50)
    n_capped = capped.count()
    n_uncapped = lsh_candidate_pairs(sigs, max_bucket=100_000).count()
    # the 300-doc boilerplate cohort emits exactly C(300,2) = 44,850
    # candidates uncapped; capping at 50 drops its mega buckets wholesale
    # (measured: 1 surviving pair — the true dup below)
    assert n_uncapped > 40_000
    assert n_capped < 100
    got = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    assert (900, 901) in got  # the true exact dup still found

    # dropped mass is observable, not silent
    stats = bucket_cap_stats(shingles(docs), ["shingle"], max_bucket=50).collect()[0]
    assert stats["n_dropped_buckets"] > 0
    assert stats["pairs_avoided"] > 10_000


def test_simhash_pigeonhole_guarantee(spark):
    """A pair at hamming=8 with 2 differing bits in EVERY 16-bit chunk
    defeats the fixed-4-chunk scheme (no shared chunk) but MUST be found
    with n_chunks = max_hamming + 1 (pigeonhole: 8 errors cannot touch
    all 9 chunks)."""
    base = 0x0123456789ABCDEF
    flip = 0
    for bit in (0, 8, 16, 24, 32, 40, 48, 56):  # 2 per 16-bit chunk
        flip |= 1 << bit
    other = base ^ flip

    def to_i64(x: int) -> int:
        return x - (1 << 64) if x >= (1 << 63) else x

    fps = spark.createDataFrame(
        [(1, to_i64(base)), (2, to_i64(other))], ["doc_id", "simhash"]
    )
    old_scheme = simhash_near_dups(fps, max_hamming=8, n_chunks=4).collect()
    assert old_scheme == []  # the round-1 fixed-4-chunk miss, demonstrated
    found = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in simhash_near_dups(fps, max_hamming=8).collect()}
    assert found == {(1, 2): 8}


def test_simhash_rejects_chunkings_that_break_the_search(spark):
    """More than 21 default chunks leaves chunks under 3 bits, and
    n_chunks outside [1, 64] makes zero-bit chunks that put every
    fingerprint in one bucket: both are refused before any Spark job."""
    fps = spark.createDataFrame([(1, 0), (2, 1)], ["doc_id", "simhash"])
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dups(fps, max_hamming=21)
    for n in (0, 65):
        with pytest.raises(ValueError, match="n_chunks must be in"):
            simhash_near_dups(fps, max_hamming=3, n_chunks=n)
    assert simhash_near_dups(fps, max_hamming=20).columns == ["doc_a", "doc_b", "hamming"]


def test_simhash_chunk_cap(spark):
    from docling_pdf_spark.operators.dedup import (
        simhash_fingerprints,
        simhash_near_dups,
    )

    # 200 identical docs → identical fingerprints → one mega chunk bucket
    rows = [(i, "same text everywhere in this adversarial corpus") for i in range(200)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = simhash_fingerprints(docs)
    capped = simhash_near_dups(fps, max_hamming=3, max_bucket=50)
    assert capped.count() == 0  # mega bucket dropped entirely, bounded work
    uncapped = simhash_near_dups(fps, max_hamming=3, max_bucket=500)
    assert uncapped.count() == 200 * 199 // 2  # semantics unchanged below cap


def test_ngram_query_cap_is_inert_at_oracle_sf(spark):
    """The MAX_LSH_BUCKET cap must not change the driver-oracle results:
    assert the largest shingle bucket at sf0.01 is far below the cap."""
    from docling_pdf_spark.conf import MAX_LSH_BUCKET
    from docling_pdf_spark.operators.dedup import shingles

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    max_bucket = (
        shingles(docs).groupBy("shingle").count().agg(F.max("count")).collect()[0][0]
    )
    assert max_bucket < MAX_LSH_BUCKET / 10  # observed 3 vs cap 512


def test_text_embedding_excludes_zero_vectors(spark):
    """Review-found: a doc whose bucket votes fully cancel embeds to
    the exact zero vector, and every downstream cosine divides by its
    zero norm (ANSI mode -> DIVIDE_BY_ZERO aborts the job). Such docs
    are excluded at the source; the pipeline must run clean on a corpus
    containing one."""
    from docling_pdf_spark.operators.dedup import embedding_near_dups
    from docling_pdf_spark.operators.similarity import text_embedding

    # find two tokens sharing a hash bucket with opposite signs, using
    # the embedder's own hash expressions
    toks = spark.createDataFrame([(f"tok{i}",) for i in range(400)], ["w"])
    info = toks.select(
        "w",
        F.pmod(F.xxhash64("w"), F.lit(32)).cast("int").alias("b"),
        (F.pmod(F.xxhash64("w", F.lit(1)), F.lit(2)) * 2 - 1).alias("s"),
    ).collect()
    seen: dict = {}
    pair = None
    for r in info:
        if (r["b"], -r["s"]) in seen:
            pair = (seen[(r["b"], -r["s"])], r["w"])
            break
        seen[(r["b"], r["s"])] = r["w"]
    assert pair is not None, "no cancelling token pair in 400 candidates"
    cancelling = " ".join([pair[0], pair[1]] * 6)  # 12 tokens, net-zero votes

    docs = spark.createDataFrame(
        [("zero", cancelling), ("a", BASE), ("b", BASE.replace("lazy", "sleepy"))],
        ["doc_id", "text"],
    )
    emb = text_embedding(docs, dim=32)
    assert {r["doc_id"] for r in emb.select("doc_id").collect()} == {"a", "b"}
    # downstream cosine runs clean and still finds the planted pair
    pairs = embedding_near_dups(emb, threshold=0.9, id_col="doc_id").collect()
    assert {(p["id_a"], p["id_b"]) for p in pairs} == {("a", "b")}


def test_text_embedding_large_dim_path_consistent(spark):
    """dim > 64 takes the two-shuffle map-rebuild plan (per-token work
    stays O(1) at model-scale dims); it must produce the same kind of
    output as the small-dim path: unit vectors, near-dup pair closest,
    deterministic."""
    from docling_pdf_spark.operators.similarity import text_embedding

    docs = spark.createDataFrame(
        [("a", BASE), ("b", BASE.replace("lazy", "sleepy")),
         ("c", "an entirely different long document about mountain "
               "weather patterns and seasonal snowfall records")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r["embedding"]
            for r in text_embedding(docs, dim=80).collect()}
    assert set(rows) == {"a", "b", "c"} and all(len(v) == 80 for v in rows.values())
    for v in rows.values():
        assert sum(x * x for x in v) == pytest.approx(1.0, abs=1e-9)
    cos = lambda x, y: sum(p * q for p, q in zip(x, y))  # noqa: E731
    assert cos(rows["a"], rows["b"]) > 0.9 > cos(rows["a"], rows["c"])
    rows2 = {r["doc_id"]: r["embedding"]
             for r in text_embedding(docs, dim=80).collect()}
    assert rows == rows2


def test_xxh64_kernel_matches_spark(spark):
    """Round 7: the fast-mode kernels compute F.xxhash64 in numpy
    (functions/arrowhash.py). The length-classed xxh64_strings and the
    vectorized 8-byte-lane path must be bit-identical to the JVM
    expression on ASCII, unicode, empty, and >32-byte inputs."""
    import random

    import numpy as np

    from docling_pdf_spark.functions.arrowhash import (
        _xxh64_lanes8,
        xxh64_strings,
    )

    random.seed(20260822)
    samples = ["abcdefgh", "", "a", "abcd", "héllo wö", "日本語テキスト",
               "x" * 31, "y" * 32, "z" * 45, " " * 8]
    samples += ["".join(random.choice("abcdefgh ") for _ in range(random.randint(0, 60)))
                for _ in range(40)]
    df = spark.createDataFrame([(s,) for s in samples], "s string")
    jvm = [r[0] for r in df.select(F.xxhash64("s")).collect()]
    assert xxh64_strings(samples).view(np.int64).tolist() == jvm
    eight = [(s, h) for s, h in zip(samples, jvm) if len(s.encode()) == 8]
    lanes = np.array(
        [int.from_bytes(s.encode(), "little") for s, _ in eight], dtype=np.uint64
    )
    assert len(eight) >= 2
    assert _xxh64_lanes8(lanes).tolist() == [h for _, h in eight]


def test_winnow_fast_arrow_matches_jvm_form(spark):
    """The fast-mode Arrow kernel must reproduce the JVM interpreted-
    transform form (_winnow_fingerprints_jvm) fingerprint-for-
    fingerprint, including non-ASCII and sub-window-length documents.
    Any hash_mode other than 'portable' or 'fast' is rejected."""
    from docling_pdf_spark.operators.winnow import (
        _winnow_fingerprints_jvm,
        winnow_fingerprints,
    )

    rows = [(1, "héllo wörld ünïcode ça va très bien"), (2, ""), (3, "short"),
            (4, None), (5, "a  b   c    d     e      f"), (6, "12345678"),
            (7, "12345678901"), (8, "日本語のテキストです。これはテスト。")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    jvm = set(map(tuple, _winnow_fingerprints_jvm(docs).collect()))
    arrow = set(map(tuple, winnow_fingerprints(docs, hash_mode="fast").collect()))
    assert jvm == arrow and len(arrow) > 0
    with pytest.raises(ValueError, match="hash_mode"):
        winnow_fingerprints(docs, hash_mode="jvm-fast")


def test_text_embedding_arrow_matches_jvm_form(spark):
    """Round 7: the embedder's Arrow kernel (vectorized XXH64 bucket +
    chained int-lane sign hash) must be bit-identical to the JVM
    map-rebuild form at several dims, including non-power-of-two dims
    (where pmod of the SIGNED hash matters), unicode tokens, and
    zero-token docs."""
    from docling_pdf_spark.operators.similarity import (
        _text_embedding_jvm,
        text_embedding,
    )

    rows = [(1, "héllo wörld ünïcode tokens"), (2, ""), (3, None),
            (4, "   \t "), (5, "a b a b a b"),
            (6, "日本語 トークン mixed words here"),
            (7, "x" * 40 + " " + "y" * 40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for dim in (16, 80):
        jvm = {r[0]: tuple(r[1]) for r in _text_embedding_jvm(docs, dim=dim).collect()}
        arrow = {r[0]: tuple(r[1]) for r in text_embedding(docs, dim=dim).collect()}
        assert jvm == arrow and len(arrow) > 0, dim
