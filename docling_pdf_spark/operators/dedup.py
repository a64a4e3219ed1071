"""Near-duplicate detection at scale: MinHash+LSH and SimHash.

Both operators hash with the engine-portable md5-low-60 base hash
(functions/hashing.py), which DuckDB reproduces bit for bit, so each
has one exact generated SQL oracle (minhash_lsh_portable_oracle_sql,
simhash_portable_oracle_sql). Signatures and fingerprints are one
narrow mapInArrow stage per document batch (functions/arrowhash.py);
everything after them is DataFrame expressions.

Scale shape (100 TB story):
  * MinHash: K signature values per doc computed in Python with no
    shuffle, then a band self-join that shuffles on the exact band
    tuple — the LSH bucket join from the MinHash/LSH literature
    (Broder 1997; Leskovec-Rajaraman-Ullman ch.3), shared with
    SimHash, IVF-embedding and winnow pairs (_bucket_pairs).
  * SimHash (Charikar 2002; Manku et al. WWW'07 for the Hamming-
    chunk trick): per-doc bit votes, then candidate pairs via
    equality on any of max_hamming+1 fingerprint chunks — the
    standard way to make Hamming-distance search joinable.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from docling_pdf_spark.conf import MAX_LSH_BUCKET

SHINGLE_WORDS = 5


def _bucket_pairs(
    melted: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket: int,
    carry: tuple[str, ...] | list[str] = (),
) -> DataFrame:
    """THE LSH bucket join every near-dup operator shares: (doc_a,
    doc_b, n_shared, <c>_a, <c>_b for c in carry) — one row per id pair
    with doc_a < doc_b that shares at least one bucket, n_shared = the
    number of buckets it shares.

    Buckets with more than max_bucket members are dropped first (the
    mega-bucket guard: a feature shared by millions of docs emits O(b²)
    pairs from one bucket — boilerplate, not similarity; measure the
    dropped mass with bucket_cap_stats). The window count shuffles on
    the same key as the self-join, so the exchange is reused, and the
    (doc_a, doc_b) grouping is the plan dropDuplicates produces.

    Preconditions: (id, bucket) rows are distinct (a repeated row
    inflates the bucket's size and n_shared), and every carried column
    is constant per id (first() picks one row's value per side)."""
    w = Window.partitionBy(*bucket_cols)
    capped = (
        melted.withColumn("_bsz", F.count("*").over(w))
        .where(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )
    a, b = capped.alias("a"), capped.alias("b")
    on = reduce(
        lambda x, y: x & y,
        [F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket_cols],
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
    )
    return (
        a.join(b, on)
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(
            F.count("*").alias("n_shared"),
            *[F.first(f"{s}.{c}").alias(f"{c}_{s}") for c in carry for s in "ab"],
        )
    )


def bucket_cap_stats(
    melted: DataFrame, bucket_cols: list[str], max_bucket: int = MAX_LSH_BUCKET
) -> DataFrame:
    """Observability for the cap (no silent truncation): one row with
    total buckets, dropped buckets, dropped member rows, and the number
    of candidate pairs the cap avoided (Σ b·(b−1)/2 over dropped)."""
    sizes = melted.groupBy(*bucket_cols).agg(F.count("*").alias("b"))
    dropped = F.col("b") > max_bucket
    return sizes.agg(
        F.count("*").alias("n_buckets"),
        F.sum(dropped.cast("long")).alias("n_dropped_buckets"),
        F.sum(F.when(dropped, F.col("b")).otherwise(0)).alias("dropped_rows"),
        F.sum(
            F.when(dropped, F.col("b") * (F.col("b") - 1) / 2).otherwise(0.0)
        ).cast("long").alias("pairs_avoided"),
    )


def _gram_arrays(
    docs: DataFrame, id_col: str, text_col: str, n: int = SHINGLE_WORDS
) -> DataFrame:
    """(id, grams array<string>) — THE one word-n-gram kernel every
    shingling consumer derives from (the hash-distinct shingles()
    below and the decontamination/DSIR gram passes must never drift
    apart).

    Built with slice + arrays_zip, NOT element_at(toks, i+k) lambdas:
    each slice references the token array exactly once per row, so
    even when CollapseProject inlines the split (and whatever computed
    expression produced the text — a span join, a regex normalize)
    into this projection, the inlined expression evaluates O(n) times
    per DOCUMENT. The element_at form re-evaluated it per element —
    O(tokens) evaluations of an O(doc_len) expression, a quadratic
    execution trap measured at 100× (40.9 s → 0.4 s for a 400-doc
    corpus with one 12.6k-token doc) when the input text was computed
    rather than scanned. Same lesson class as the d1024 embedder fix:
    a plan test pins shuffle structure, not expression-evaluation
    cost.

    Round 7: the pruned (id, text) projection is spread when the scan
    is unsplittable (guide §2.5 — the driver corpus is single-row-group
    parquet, which executes every gram pass as ONE task regardless of
    split config; scanspread.py no-ops on any layout that can fan out
    by itself)."""
    from docling_pdf_spark.functions.scanspread import spread_unsplittable

    docs = spread_unsplittable(docs.select(F.col(id_col), F.col(text_col)))
    toks = F.split(F.col(text_col), " ")
    sz = F.size(toks)
    cnt = F.greatest(sz - (n - 1), F.lit(0))
    parts = [F.slice(toks, k + 1, cnt).alias(f"t{k}") for k in range(n)]
    gram = F.transform(
        F.arrays_zip(*parts),
        lambda s: F.concat_ws(" ", *[s[f"t{k}"] for k in range(n)]),
    )
    # NULL text propagates NULL through slice/zip/transform — coalesce
    # back to the empty array so the kernel keeps its historical
    # contract (the element_at form returned [] via the size() guard)
    empty = F.array().cast("array<string>")
    return docs.select(F.col(id_col), F.coalesce(gram, empty).alias("grams"))


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, shingle_hash) — distinct word-5-gram xxhash64 shingles per
    doc (matching the ngram oracle's `SELECT DISTINCT doc_id,
    hash(gram)`). Round 7: the distinct applies to the gram STRINGS
    array-side and the hash runs codegen'd on the exploded rows — the
    former `transform(grams, xxhash64)` evaluated the hash inside an
    interpreted lambda (~35% slower end-to-end). String-distinct and
    hash-distinct only diverge if two distinct grams of one doc collide
    in xxhash64 (2^-64-scale; in that regime the Spark and DuckDB hash
    functions already disagree with each other)."""
    return (
        _gram_arrays(docs, id_col, text_col)
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(F.col("grams"))).alias("_g"),
        )
        .select(F.col(id_col), F.xxhash64("_g").alias("shingle"))
    )


# ---------------------------------------------------------------- minhash
# Every minhash derives from ONE engine-portable base hash per shingle
# (low 60 bits of md5, the same base operators/winnow.py uses) via the
# textbook universal affine family h_i(x) = (a_i·x + b_i) mod p over
# the Mersenne prime 2^31−1 (Carter–Wegman) — every value fits in
# BIGINT on both engines (a, x < 2^31 → a·x < 2^62), so DuckDB
# reproduces the signatures bit-for-bit and the whole LSH pipeline has
# an exact oracle (minhash_lsh_portable_oracle_sql).

MERSENNE31 = (1 << 31) - 1


def _hash_sql(expr: str) -> str:
    from docling_pdf_spark.functions.hashing import PORTABLE_HASH60_SQL

    return PORTABLE_HASH60_SQL.format(x=expr)


def affine_params(num_hashes: int = 32) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the universal hash family — seeded,
    no wall clock; the SQL oracle embeds the same constants."""
    import random

    rng = random.Random(20250816)
    return [
        (rng.randrange(1, MERSENNE31), rng.randrange(0, MERSENNE31))
        for _ in range(num_hashes)
    ]


def lsh_candidate_pairs(
    sigs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    max_bucket: int = MAX_LSH_BUCKET,
) -> DataFrame:
    """Band the signature matrix (bands × rows), bucket-join on the
    band tuple, return candidate pairs with the minhash-estimated Jaccard.

    Each (doc, band) row is keyed by the EXACT band tuple (no band
    hash, so two different bands can never share a bucket). Buckets
    above max_bucket are excluded from the join (mega-bucket guard;
    measure dropped mass with bucket_cap_stats)."""
    rows = num_hashes // bands
    # SQL strings, not Column builders: one py4j call per expression
    # instead of one per struct field and lambda
    bands_sql = ", ".join(
        "named_struct('band', {b}, {vs})".format(
            b=b,
            vs=", ".join(f"'v{r}', mh_{b * rows + r}" for r in range(rows)),
        )
        for b in range(bands)
    )
    sig_sql = ", ".join(f"mh_{i}" for i in range(num_hashes))
    melted = sigs.select(
        id_col,
        F.expr(f"array({sig_sql}) AS sig"),
        F.expr(f"explode(array({bands_sql})) AS bk"),
    )
    pairs = _bucket_pairs(melted, ["bk"], id_col, max_bucket, carry=["sig"])
    return pairs.select(
        "doc_a",
        "doc_b",
        F.expr(
            "round(CAST(size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y),"
            f" e -> e)) AS DOUBLE) / {float(num_hashes)}D, 4) AS est_jaccard"
        ),
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """End-to-end MinHash-LSH near-dup pairs above a Jaccard estimate:
    the signature matrix is ONE narrow mapInArrow stage
    (functions/arrowhash.minhash_arrow) feeding the band-tuple bucket
    join with the mega-bucket cap.

    Precondition: `id_col` is unique. The signature kernel emits one
    row per input row, so a duplicated id would land twice in its band
    buckets and inflate their sizes against the cap."""
    from docling_pdf_spark.functions.arrowhash import minhash_arrow

    sigs = minhash_arrow(
        docs, affine_params(num_hashes), SHINGLE_WORDS, id_col, text_col
    )
    pairs = lsh_candidate_pairs(sigs, num_hashes, bands, id_col)
    return pairs.where(F.col("est_jaccard") >= threshold)


def minhash_lsh_portable_oracle_sql(
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int = MAX_LSH_BUCKET,
) -> str:
    """The DuckDB oracle for minhash_lsh_dedup — generated so
    the affine constants AND the mega-bucket cap are shared with the
    Spark plan by construction (an uncapped oracle would diverge on any
    corpus where a band bucket exceeds the cap)."""
    rows = num_hashes // bands
    params = affine_params(num_hashes)
    m = MERSENNE31
    mins = ",\n         ".join(
        f"min(({a} * h + {b}) % {m}) AS m{i}" for i, (a, b) in enumerate(params)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, {vs} FROM sig".format(
            b=bi,
            vs=", ".join(f"m{bi * rows + r} AS v{r}" for r in range(rows)),
        )
        for bi in range(bands)
    )
    veq = " AND ".join(f"a.v{r} = b.v{r}" for r in range(rows))
    matches = " + ".join(f"CAST(sa.m{i} = sb.m{i} AS INT)" for i in range(num_hashes))
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), grams AS (
  SELECT DISTINCT doc_id,
         ws[gs] || ' ' || ws[gs+1] || ' ' || ws[gs+2] || ' ' || ws[gs+3] || ' ' || ws[gs+4] AS g
  FROM toks, LATERAL (SELECT unnest(range(1, len(ws) - 3)) AS gs) u
), hashes AS (
  SELECT doc_id,
         {_hash_sql("g")} % {m} AS h
  FROM grams
), sig AS (
  SELECT doc_id,
         {mins}
  FROM hashes GROUP BY doc_id
), melted AS (
{band_rows}
), capped AS (
  SELECT * FROM melted
  QUALIFY count(*) OVER (PARTITION BY band, {", ".join(f"v{r}" for r in range(rows))}) <= {max_bucket}
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b
    ON a.band = b.band AND {veq} AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       round(({matches}) / {float(num_hashes)}, 4) AS est_jaccard
FROM pairs
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b
WHERE round(({matches}) / {float(num_hashes)}, 4) >= {threshold}
"""


# ------------------------------------------------------- embedding cosine


def embedding_near_dups(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: all (a, b) with
    cosine ≥ threshold, a < b.

    Exact O(n²) self-join — the correctness baseline. The scale path is
    the IVF variant below: bucket by coarse centroid first so the
    quadratic join runs per-bucket (near-dups above a high threshold
    land in the same bucket with high probability), turning n² into
    Σ b_i². Dot products in float64, JVM-side."""
    from docling_pdf_spark.functions.vectors import cosine_similarity

    v = vectors.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    a, b = v.alias("a"), v.alias("b")
    sim = cosine_similarity(F.col("a.v"), F.col("b.v"))
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(sim, 4).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def embedding_near_dups_bucketed(
    vectors: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 2,
    max_bucket: int = MAX_LSH_BUCKET,
) -> DataFrame:
    """IVF-bucketed near-dup variant (the 100 TB shape): assign every
    vector to its nprobe nearest coarse buckets (multi-probe), self-join
    only within a bucket, dedupe pairs found via more than one shared
    bucket. Similarities are computed exactly, so the output is always a
    SUBSET of the exact O(n²) pass — bucketing only loses pairs (recall
    measured in tests; k-means centroids + nprobe=2 recover planted
    cos≥0.9 dup pairs at ≥0.8 recall). Buckets above max_bucket are
    excluded from the join (mega-bucket guard)."""
    from docling_pdf_spark.operators.similarity import ivf_assign_multi

    assigned = ivf_assign_multi(vectors, centroids, nprobe, id_col, vec_col)
    return embedding_pairs_from_assigned(
        assigned, threshold, id_col, vec_col, max_bucket
    )


def embedding_pairs_from_assigned(
    assigned: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int = MAX_LSH_BUCKET,
) -> DataFrame:
    """Everything downstream of the centroid assignment: the shared
    bucket join (mega-bucket cap, per-bucket quadratic join,
    cross-bucket pair dedupe), exact float64 cosine, threshold. Split
    out so the registry entry (__spark_entry__) can materialize the
    (id, vector, bucket) assignment to parquet and oracle this whole
    stage in DuckDB."""
    from docling_pdf_spark.functions.vectors import cosine_similarity

    assigned = assigned.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"), "bucket"
    )
    pairs = _bucket_pairs(assigned, ["bucket"], id_col, max_bucket, carry=["v"])
    return (
        pairs.select(
            F.col("doc_a").alias("id_a"),
            F.col("doc_b").alias("id_b"),
            F.round(cosine_similarity(F.col("v_a"), F.col("v_b")), 4).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------- simhash
# Fingerprints hash each token with the 60-bit md5-low base hash
# (functions/hashing.py, the same base MinHash uses), which DuckDB
# reproduces bit-for-bit, so the whole fingerprint→chunk→bucket→hamming
# pipeline has an EXACT oracle (simhash_portable_oracle_sql). A 60-bit
# fingerprint in the 64-bit chunker is sound: the top 4 bits are 0 for
# every doc, so chunk equality and bit_count(xor) are unaffected and
# the pigeonhole recall guarantee still holds.

SIMHASH_BITS = 60


def simhash_fingerprints(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """60-bit SimHash per doc: per-token md5-low-60 hash, each bit votes
    ±1, fingerprint bit b = 1 iff the vote sum is positive. ONE narrow
    mapInArrow stage (functions/arrowhash.simhash_fingerprints_arrow),
    so no row leaves its partition (guide §4.2)."""
    from docling_pdf_spark.functions.arrowhash import simhash_fingerprints_arrow

    return simhash_fingerprints_arrow(docs, id_col, text_col)


def simhash_portable_oracle_sql(
    max_hamming: int = 8,
    max_bucket: int = MAX_LSH_BUCKET,
) -> str:
    """DuckDB oracle for simhash_near_dups(simhash_fingerprints) —
    generated so the bit width, chunk layout and the mega-bucket cap
    are shared with the Spark plan by construction (mirror of
    minhash_lsh_portable_oracle_sql)."""
    from docling_pdf_spark.functions.hashing import PORTABLE_HASH60_SQL

    nb = SIMHASH_BITS
    b = max_hamming + 1  # simhash_near_dups default chunk count
    width = 64 // b
    mask = (1 << width) - 1
    last_mask = (1 << (64 - width * (b - 1))) - 1
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(nb)
    )
    fp_expr = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST(1 AS BIGINT) << {i} ELSE 0 END)"
        for i in range(nb)
    )
    h_sql = PORTABLE_HASH60_SQL.format(x="w")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w FROM documents
), hashes AS (
  SELECT doc_id, {h_sql} AS h FROM toks WHERE w <> ''
), votes AS (
  SELECT doc_id,
         {votes}
  FROM hashes GROUP BY doc_id
), fp AS (
  SELECT doc_id, {fp_expr} AS simhash FROM votes
), melted AS (
  SELECT doc_id, simhash, c AS chunk_idx,
         (simhash >> ({width} * c)) &
           (CASE WHEN c = {b - 1} THEN {last_mask} ELSE {mask} END) AS chunk
  FROM fp, LATERAL (SELECT unnest(range(0, {b})) AS c) u
), capped AS (
  SELECT * FROM melted
  QUALIFY count(*) OVER (PARTITION BY chunk_idx, chunk) <= {max_bucket}
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS fa, b.simhash AS fb
  FROM capped a JOIN capped b
    ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(fa, fb)) AS hamming
FROM pairs
WHERE bit_count(xor(fa, fb)) <= {max_hamming}
"""


def simhash_near_dups(
    fps: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    max_bucket: int = MAX_LSH_BUCKET,
    n_chunks: int | None = None,
) -> DataFrame:
    """Candidate pairs via equality on any bit-chunk of the fingerprint
    (Manku et al. WWW'07), verified with bit_count(xor) ≤ max_hamming.

    Pigeonhole guarantee: with n_chunks = max_hamming + 1 (the default),
    ≤ max_hamming differing bits cannot touch every chunk, so every
    true near-dup pair shares at least one chunk bucket — round 1 used
    a fixed 4 chunks, which silently broke the guarantee for
    max_hamming > 3. More chunks = shorter chunks = fuller buckets (the
    recall/candidate-volume dial Manku's multi-table split turns).

    Chunk buckets above max_bucket are excluded (a w-bit chunk space has
    only 2^w values, so at corpus scale every bucket is b²-quadratic
    without the cap; dropped mass via bucket_cap_stats on the
    (chunk_idx, chunk) table)."""
    if n_chunks is None:
        if max_hamming > 20:  # 64 bits / 21 chunks = 3-bit chunks, the floor
            raise ValueError(
                f"max_hamming={max_hamming}: the pigeonhole guarantee needs "
                "max_hamming+1 chunks and 64-bit fingerprints support at "
                "most 21; use longer fingerprints or pass n_chunks "
                "explicitly to accept probabilistic recall"
            )
        b = max_hamming + 1
    else:
        # n_chunks > 64 would make width = 64 // b == 0: zero-bit chunks
        # put every fingerprint in one bucket per chunk index — silent
        # all-pairs blowup (or zero recall under the mega-bucket cap)
        if not 1 <= n_chunks <= 64:
            raise ValueError(f"n_chunks must be in [1, 64], got {n_chunks}")
        b = n_chunks
    width = 64 // b
    mask = (1 << width) - 1
    last_width = 64 - width * (b - 1)
    last_mask = -1 if last_width >= 64 else (1 << last_width) - 1  # -1 = all bits

    def chunk(c: int):
        m = last_mask if c == b - 1 else mask
        return F.shiftrightunsigned(F.col("simhash"), width * c).bitwiseAND(F.lit(m))

    chunks = F.array(*[chunk(c).alias(f"c{c}") for c in range(b)])
    melted = fps.select(
        id_col, "simhash", F.posexplode(chunks).alias("chunk_idx", "chunk")
    )
    pairs = _bucket_pairs(
        melted, ["chunk_idx", "chunk"], id_col, max_bucket, carry=["simhash"]
    )
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return pairs.select("doc_a", "doc_b", hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )
