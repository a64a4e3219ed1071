"""Similarity search over an embedding column (array<float>).

Baseline: exact brute-force cosine top-k (queries.q_ann_cosine_topk,
checked against its DuckDB oracle). Scale path: IVF-style bucketing — assign
every vector to its nearest coarse centroid once (one shuffle), then
answer queries by scanning only the nprobe closest buckets. At 100 TB
the bucket assignment is the write-time partitioning of the vector
table, and a query touches nprobe partitions instead of all of them
(classic IVF-Flat from the FAISS/ANN literature).

Everything is JVM-side: dot products via zip_with + aggregate over
array<double>; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docling_pdf_spark.functions.vectors import cosine_similarity


def _centroid_array(centroids: DataFrame) -> DataFrame:
    """One row, `cents`: every (centroid_id, c array<double>) struct —
    broadcast-crossJoined onto the vectors by the assigners."""
    return centroids.select(
        F.array_agg(
            F.struct(
                F.col("centroid_id"), F.col("centroid").cast("array<double>").alias("c")
            )
        ).alias("cents")
    )


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine).

    centroids: (centroid_id, centroid) — small, broadcast. The argmax
    is a JVM-side array_max over a transformed centroid array after a
    broadcast crossJoin with the collected centroid list."""
    v = F.col(vec_col).cast("array<double>")
    scored = vectors.crossJoin(F.broadcast(_centroid_array(centroids))).select(
        F.col(id_col),
        F.col(vec_col),
        F.array_max(
            F.transform(
                F.col("cents"),
                lambda s: F.struct(
                    cosine_similarity(v, s["c"]).alias("sim"),
                    s["centroid_id"].alias("centroid_id"),
                ),
            )
        ).alias("best"),
    )
    return scored.select(
        id_col, vec_col, F.col("best.centroid_id").alias("bucket")
    )


_SAMPLE_MOD = 1_000_003  # prime modulus: xxhash64 residues spread ~uniformly


def _train_sample(
    v: DataFrame, cap: int, id_col: str = "_id"
) -> tuple[DataFrame, bool]:
    """Deterministic hash-residue sample of ~cap rows (no RNG, no seed
    drift across runs/partitionings): keep rows whose
    pmod(xxhash64(id), M) falls below M*cap/total. One column-pruned
    count() sizes the fraction; the filter is a narrow scan predicate.
    Returns (df, sampled?) — the input unchanged when total <= cap."""
    # bounded probe first: corpora at/below the cap (the common test
    # and per-bucket case) pay one early-stopping CollectLimit job
    # instead of a full-corpus count
    if v.limit(cap + 1).count() <= cap:
        return v, False
    total = v.count()
    num = max(1, (_SAMPLE_MOD * cap) // total)
    return (
        v.where(F.pmod(F.xxhash64(F.col(id_col)), F.lit(_SAMPLE_MOD)) < F.lit(num)),
        True,
    )


def kmeans_centroids(
    vectors: DataFrame,
    n: int = 16,
    iters: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_vectors: int | None = 100_000,
) -> DataFrame:
    """Spherical k-means (Lloyd) trained with DataFrame ops — the
    public k-means recipe (MacQueen/Lloyd; spherical variant for cosine
    space). Replaces round-1's untrained seed centroids.

    Training reads at most max_train_vectors rows: a deterministic
    hash-residue sample (xxhash64(id) mod M < threshold — see
    _train_sample) is taken ONCE before the Lloyd loop and persisted,
    so each iteration aggregates the bounded sample, never the full
    corpus. Coarse IVF centroids only need a representative sample
    (FAISS trains IVF on ~max(10^5, 50·k) points regardless of corpus
    size); without this cap each iteration would shuffle
    n_vectors × dim scalar rows — the one stage that previously did
    not survive a 100× scale-up. Pass max_train_vectors=None to train
    on everything (small corpora are unaffected either way: the cap
    only bites past 100k vectors).

    Per iteration: broadcast-assign every sampled vector to its best
    centroid (one scan of the cached sample, no shuffle of the
    vectors), then the centroid update is a posexplode →
    groupBy(bucket, pos) mean — partial+final hash agg with map-side
    combine over sample-sized input. The n×dim centroid table is
    collected driver-side each iteration by design (centroids are
    small by definition; this is the standard broadcast-k-means
    shape).

    Deterministic init (hash-spread seeds from the sample); means are
    float64. Empty buckets keep their previous centroid. Returns
    (centroid_id int, centroid array<double>) with centroid_id in
    [0, n)."""
    spark = vectors.sparkSession
    v = vectors.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    sampled = False
    if max_train_vectors is not None:
        v, sampled = _train_sample(v, max_train_vectors, "_id")
    if sampled:
        # cache the bounded sample: 4 iterations re-read ~cap rows from
        # memory instead of re-scanning + re-filtering the full corpus
        v = v.persist()
    try:
        return _lloyd(spark, v, n, iters)
    finally:
        # unpersist even when seeding/iteration raises — a failed call
        # must not leak the cached sample for the session
        if sampled:
            v.unpersist()


def _lloyd(spark, v: DataFrame, n: int, iters: int) -> DataFrame:
    seeds = (
        v.orderBy(F.xxhash64(F.col("_id")), F.asc("_id")).limit(n).collect()
    )
    cents: list[tuple[int, list[float]]] = [
        (i, list(r["v"])) for i, r in enumerate(seeds)
    ]
    for _ in range(iters):
        cdf = spark.createDataFrame(cents, ["centroid_id", "centroid"])
        assigned = ivf_assign(v, cdf, id_col="_id", vec_col="v")
        means = (
            assigned.select("bucket", F.posexplode("v").alias("pos", "x"))
            .groupBy("bucket", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("bucket")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("mean_vec")
            )
            .collect()
        )
        by_bucket = {r["bucket"]: r["mean_vec"] for r in means}
        new_cents = []
        for cid, old in cents:
            m = by_bucket.get(cid)
            if m is None:
                new_cents.append((cid, old))  # empty bucket keeps its centroid
                continue
            norm = sum(x * x for x in m) ** 0.5 or 1.0
            new_cents.append((cid, [x / norm for x in m]))
        cents = new_cents
    return spark.createDataFrame(cents, ["centroid_id", "centroid"])


def text_embedding(
    docs: DataFrame,
    dim: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Feature-hashing text embedding (the 'hashing trick', Weinberger
    et al. ICML'09): every token adds ±1 (sign from a second hash) to
    bucket xxhash64(token) mod dim; the vector is L2-normalized.
    Deterministic. This is the stand-in embedder that lets
    embedding-space operators (IVF bucketing, cosine near-dup) run
    end-to-end where no model service exists; a real pipeline swaps in
    model vectors by replacing this single stage.

    Round 7: computed as ONE narrow Arrow stage
    (functions/arrowhash.py) using the bit-exact vectorized XXH64 twin
    of F.xxhash64 (incl. the chained int-lane sign hash) — the JVM
    map-rebuild form below (_text_embedding_jvm, kept for the parity
    pin) paid two shuffles of combined token-scale data plus an
    interpreted element_at lambda evaluated dim times per doc. Values
    are bit-identical (exact ±1 integer votes, exact squared norms,
    same IEEE element-wise division)."""
    from docling_pdf_spark.functions.arrowhash import text_embedding_arrow

    return text_embedding_arrow(docs, dim, id_col, text_col)


def _text_embedding_jvm(
    docs: DataFrame,
    dim: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Reference JVM form of text_embedding (two-shuffle map-rebuild) —
    retained for the Arrow-vs-JVM parity test."""
    from docling_pdf_spark.functions.scanspread import spread_unsplittable

    docs = spread_unsplittable(docs.select(F.col(id_col), F.col(text_col)))
    tok = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), r"\s+")).alias("w")
    ).where(F.col("w") != "")
    bucket = F.pmod(F.xxhash64("w"), F.lit(dim)).cast("int")
    sign = (F.pmod(F.xxhash64("w", F.lit(1)), F.lit(2)) * 2 - 1).cast("double")
    per = tok.select(F.col(id_col), bucket.alias("b"), sign.alias("s"))
    # ONE plan for every dim (round 7): the two-shuffle map-rebuild,
    # whose per-token work is O(1) — groupBy(id, bucket) partial agg,
    # then one map per doc. The former dim<=64 branch (a single
    # shuffle carrying dim conditional-sum aggregates) evaluated dim
    # CASEs per token row and measured 4× SLOWER at dim=64 on the sf1.0
    # corpus (4.7 s vs 1.1 s) — the per-token work, not the extra tiny
    # exchange, dominates at every dim. Outputs are bit-identical:
    # the ±1 votes sum to exact integers in double (< 2^53), so
    # bucket-grouped and streamed summation agree exactly, as do the
    # squared norms. The L2 norm is computed IN the aggregate
    # (norm² = Σ v² over the bucket sums — identical to the
    # dense-vector norm since absent buckets contribute 0): deriving
    # it from the dense rebuild instead looks equivalent but is a
    # measured O(dim²)-per-row trap — CollapseProject inlines the
    # aggregate-over-dense norm into the normalize lambda,
    # re-evaluating it per ELEMENT (500 docs at dim=1024: 209 s; this
    # shape: ~2 s).
    m = (
        per.groupBy(id_col, "b")
        .agg(F.sum("s").alias("v"))
        .groupBy(id_col)
        .agg(
            F.map_from_entries(F.collect_list(F.struct("b", "v"))).alias("mm"),
            F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("_n"),
        )
    )
    # build the dense array ONCE, already normalized (_n is a real
    # aggregate output column — nothing to inline)
    dense_over_norm = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("mm"), i), F.lit(0.0))
        / F.col("_n"),
    )
    # a doc whose bucket votes fully cancel embeds to the zero
    # vector; it carries no signal AND every downstream cosine
    # would divide by its zero norm (ANSI mode → DIVIDE_BY_ZERO
    # aborts the job), so such docs are excluded here at the source
    return (
        m.where(F.col("_n") > 0)
        .select(F.col(id_col), dense_over_norm.alias("embedding"))
    )


def ivf_assign_multi(
    vectors: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe assignment: each vector lands in its nprobe nearest
    buckets (one output row per (vector, bucket)). Raises near-dup
    recall for pairs that straddle a bucket boundary at the cost of an
    nprobe× row expansion — the standard IVF multi-probe trade."""
    v = F.col(vec_col).cast("array<double>")
    # sort ascending on -sim → top-nprobe by similarity; ties by id
    ranked = F.slice(
        F.array_sort(
            F.transform(
                F.col("cents"),
                lambda s: F.struct(
                    (-cosine_similarity(v, s["c"])).alias("neg_sim"),
                    s["centroid_id"].alias("centroid_id"),
                ),
            )
        ),
        1,
        nprobe,
    )
    return (
        vectors.crossJoin(F.broadcast(_centroid_array(centroids)))
        .select(F.col(id_col), F.col(vec_col), F.explode(ranked).alias("p"))
        .select(id_col, vec_col, F.col("p.centroid_id").alias("bucket"))
    )


def rank_probes(
    centroids: DataFrame, query_vec: list[float], nprobe: int
) -> list[int]:
    """The nprobe centroid ids nearest the query (cosine, ties by id) —
    the driver-side probe choice ivf_cosine_topk scans. Exposed so the
    oracled driver entry can materialize the chosen probes alongside
    the assignment table."""
    q = F.lit(query_vec).cast("array<double>")
    c = F.col("centroid").cast("array<double>")
    return [
        r["centroid_id"]
        for r in centroids.select(
            "centroid_id", cosine_similarity(c, q).alias("sim")
        )
        .orderBy(F.desc("sim"), F.asc("centroid_id"))
        .limit(nprobe)
        .collect()
    ]


def ivf_cosine_topk(
    assigned: DataFrame,
    centroids: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_round: int = 6,
    probe_ids: list[int] | None = None,
) -> DataFrame:
    """ANN query: rank centroids vs the query, scan only the nprobe
    best buckets (partition pruning at scale), exact top-k inside.
    Pass probe_ids to reuse an already-computed rank_probes() result
    (one driver-side collect instead of two when the caller also
    materializes the probes, and caller + query are then guaranteed to
    scan the same buckets).

    With nprobe >= n_centroids every bucket is scanned, so the result
    is EXACTLY the brute-force top-k (every vector sits in exactly one
    bucket) — the exhaustive-probe equivalence the oracled driver entry
    uses to prove the IVF machinery (assignment, pruning, ranking)
    correct, leaving only the approximation itself unoracled."""
    if probe_ids is None:
        probe_ids = rank_probes(centroids, query_vec, nprobe)
    q = F.lit(query_vec).cast("array<double>")
    v = F.col(vec_col).cast("array<double>")
    sim = cosine_similarity(v, q)
    return (
        assigned.where(F.col("bucket").isin(probe_ids))
        .select(F.col(id_col), F.round(sim, sim_round).alias("sim"))
        .orderBy(F.desc("sim"), F.asc(id_col))
        .limit(k)
    )
