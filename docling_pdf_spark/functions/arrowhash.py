"""Arrow-batch execution of the portable-hash gram kernels.

The engine-portable 60-bit hash (functions/hashing.py: low 15 hex chars
of md5 as BIGINT) is the oracle contract for winnowing,
MinHash/SimHash, and DSIR bucketing — DuckDB computes the identical
value, so those operators are exactly SQL-checkable. The JVM evaluation
of that contract is expensive in exactly the places it is needed most:
per-gram hashing lives inside `F.transform(...)` higher-order lambdas,
which Spark evaluates INTERPRETED (no whole-stage codegen), and each
evaluation walks md5 → hex string → substring → conv(16,10) → cast,
allocating at every step. Measured ~3–5 µs per gram single-threaded
(winnow_fingerprints at sf1.0: ~40 s for ~14.5M grams on a 2-split
scan).

This module computes the IDENTICAL values through `mapInArrow`
(guide §4.2: let Spark do distribution and I/O, hand whole batches to
native code): hashlib's C md5 plus numpy for window-min / distinct /
vote loops runs the same gram kernel at ~0.5 µs per gram, and the
operators keep their zero-Exchange, embarrassingly-parallel shape (one
narrow Python stage over the pruned (id, text) projection — the
repo-sanctioned Arrow surface, no row-at-a-time UDFs).

Exactness: `_md5_low60(b)` == conv(substring(md5(x),18,15),16,10)
by construction — md5 hex chars 18..32 (1-indexed) are the low nibble
of digest byte 8 plus bytes 9..15, i.e. int.from_bytes(digest[8:16],
"big") & (2^60-1). Token/gram semantics replicate the JVM expressions
they replace exactly (single-space split keeps empty tokens; the
Java-regex "\\s+" tokenizer is ASCII-whitespace [ \\t\\n\\x0b\\f\\r],
NOT Python's Unicode \\s; substr counts code points — Python slicing
matches because both count code points). Every kernel is pinned
against its DuckDB twin by the existing oracle tests.

All seven kernels share one scaffold, `_doc_kernel`: it owns the
unsplittable-scan spread, the output schema, the NULL-text skip, the
id `take`, the optional explode and the single `mapInArrow` call, so
each public kernel is just its per-document function.
"""

from __future__ import annotations

import re
from hashlib import md5 as _md5

import numpy as np

from docling_pdf_spark.functions.scanspread import spread_unsplittable

_MASK60 = (1 << 60) - 1

# Java's default (non-UNICODE_CHARACTER_CLASS) \s — Python's re \s would
# additionally match U+00A0 etc. and diverge from F.split(col, "\\s+")
_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def md5_low60(data: bytes) -> int:
    """Exact Python twin of functions.hashing.portable_hash60 (and the
    DuckDB PORTABLE_HASH60_SQL expression) over raw bytes."""
    return int.from_bytes(_md5(data).digest()[8:16], "big") & _MASK60


def md5_low60_strings(strs: list[str]):
    """uint64 md5_low60 of each string's UTF-8 bytes."""
    return np.fromiter(
        (md5_low60(s.encode("utf-8")) for s in strs), dtype=np.uint64, count=len(strs)
    )


_CHUNK = 65536  # rows per transient matrix in _bit_votes / _minhash_doc


def _doc_kernel(docs, id_col, text_col, fields, fn, explode=False):
    """(id, *fields) via ONE narrow mapInArrow stage over the pruned
    (id, text) projection. `fn(text)` returns None (the doc emits no
    row) or one value per field; NULL texts emit no row. With
    `explode`, each value is a 1-D array of equal length and the doc
    emits one row per element."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    sel = spread_unsplittable(docs.select(id_col, text_col))
    schema = T.StructType([sel.schema.fields[0], *fields])
    names = schema.names
    types = [to_arrow_type(f.dataType) for f in fields]

    def gen(batches):
        import pyarrow as pa

        for b in batches:
            keep, rows = [], []
            for j, t in enumerate(b.column(1).to_pylist()):
                if t is not None and (r := fn(t)) is not None:
                    keep.append(j)
                    rows.append(r)
            ids = np.asarray(keep, dtype=np.int64)
            if not rows:
                cols = [[]] * len(types)
            elif explode:
                ids = np.repeat(ids, [len(r[0]) for r in rows])
                cols = [np.concatenate(c) for c in zip(*rows)]
            else:
                cols = list(zip(*rows))
            arrays = [pa.array(c, type=t) for c, t in zip(cols, types)]
            yield pa.RecordBatch.from_arrays(
                [b.column(0).take(pa.array(ids)), *arrays], names=names
            )

    return sel.mapInArrow(gen, schema)


def _long(name):
    from pyspark.sql import types as T

    return T.StructField(name, T.LongType(), False)


def _winnow_doc(t: str, k: int, w: int):
    """(distinct winnowed fingerprints,) of one document, or None when
    the JVM plan would produce no rows (len < k, or fewer hashes than
    w)."""
    n = len(t)
    m = n - k + 1
    if m < w:
        return None
    hs = np.empty(m, dtype=np.int64)
    from_bytes = int.from_bytes
    h = _md5
    tb = t.encode("utf-8")
    if len(tb) == n:  # ASCII: byte slices == code-point slices
        for i in range(m):
            hs[i] = from_bytes(h(tb[i : i + k]).digest()[8:16], "big") & _MASK60
    else:
        for i in range(m):
            hs[i] = (
                from_bytes(h(t[i : i + k].encode("utf-8")).digest()[8:16], "big")
                & _MASK60
            )
    # min over each length-w window of consecutive gram hashes
    wm = np.minimum.reduce([hs[i : m - w + 1 + i] for i in range(w)])
    return (np.unique(wm),)


def winnow_fingerprints_arrow(docs, k, w, id_col, text_col):
    """(id, fingerprint) — bit-identical to the JVM expression form of
    operators.winnow.winnow_fingerprints(hash_mode='portable')."""
    return _doc_kernel(
        docs, id_col, text_col, [_long("fingerprint")],
        lambda t: _winnow_doc(t, k, w), explode=True,
    )


def _doc_grams(t: str, n: int) -> list[str]:
    """Word-n-grams WITH multiplicity — twin of operators.dedup
    ._gram_arrays (split on single space keeps empty tokens; join with
    single space == concat_ws)."""
    toks = t.split(" ")
    g = len(toks) - n + 1
    if g <= 0:
        return []
    join = " ".join
    return [join(toks[i : i + n]) for i in range(g)]


def bucketed_grams_arrow(docs, n, n_buckets, id_col, text_col):
    """(id, bucket) one row per gram occurrence — twin of operators.dsir
    ._bucketed_grams(hash_mode='portable')."""

    def doc(t):
        grams = _doc_grams(t, n)
        if not grams:
            return None
        return (
            np.fromiter(
                (md5_low60(g.encode("utf-8")) % n_buckets for g in grams),
                dtype=np.int64,
                count=len(grams),
            ),
        )

    return _doc_kernel(
        docs, id_col, text_col, [_long("bucket")], doc, explode=True
    )


def _minhash_doc(t: str, n: int, a, b, p: int):
    """min((a_i*base+b_i) % p) over the doc's DISTINCT word-n-grams
    (base = md5_low60(gram) % p), or None when it has no grams. The
    hashes x grams matrix is built _CHUNK grams at a time: the whole
    matrix is ~256 MB for a 1M-gram doc at 32 hashes."""
    grams = set(_doc_grams(t, n))
    if not grams:
        return None
    base = np.fromiter(
        (md5_low60(g.encode("utf-8")) % p for g in grams),
        dtype=np.int64,
        count=len(grams),
    )
    sig = np.full(len(a), p, dtype=np.int64)
    for s in range(0, len(base), _CHUNK):
        # a*base < 2^31 * 2^31 = 2^62: no int64 overflow
        chunk = (a * base[s : s + _CHUNK] + b) % p
        np.minimum(sig, chunk.min(axis=1), out=sig)
    return sig


def minhash_arrow(docs, params, n, id_col, text_col):
    """(id, mh_0..mh_{K-1}) — the MinHash signature matrix of
    operators.dedup.minhash_lsh_dedup: base = md5_low60(gram) % M31 over
    DISTINCT word-n-grams, mh_i = min((a_i*base+b_i) % M31). Docs with
    no grams emit no row (as the oracle's GROUP BY over zero grams)."""
    from docling_pdf_spark.operators.dedup import MERSENNE31

    a = np.array([p for p, _ in params], dtype=np.int64).reshape(-1, 1)
    b = np.array([q for _, q in params], dtype=np.int64).reshape(-1, 1)
    return _doc_kernel(
        docs, id_col, text_col, [_long(f"mh_{i}") for i in range(len(params))],
        lambda t: _minhash_doc(t, n, a, b, MERSENNE31),
    )


def _bit_votes(hs, bit_idx):
    """Per-bit one-counts of a uint64 hash array, accumulated in
    _CHUNK-hash chunks: the obvious `(hs[:, None] >> bits) & 1` expands
    to a tokens x n_bits int64 matrix — ~0.5 GB transient for a single
    1M-token document, times one per concurrent Arrow worker (review-
    found). Chunking caps the transient at ~32 MB while keeping the
    vectorized inner loop."""
    ones = np.zeros(len(bit_idx), dtype=np.int64)
    for s in range(0, len(hs), _CHUNK):
        chunk = hs[s : s + _CHUNK]
        ones += ((chunk[:, None] >> bit_idx) & np.uint64(1)).sum(
            axis=0, dtype=np.int64
        )
    return ones


def _tokens(t: str) -> list[str]:
    """Non-empty tokens of F.split(text, "\\s+") (Java whitespace)."""
    return [w for w in _JAVA_WS.split(t) if w != ""]


def simhash_fingerprints_arrow(docs, id_col, text_col):
    """(id, simhash) — one narrow Arrow stage for
    operators.dedup.simhash_fingerprints: each token's md5_low60 hash
    votes ±1 on each of its SIMHASH_BITS bits (multiplicity kept), bit
    set iff vote sum > 0. Docs whose tokenization yields only empty
    strings emit no row."""
    from docling_pdf_spark.operators.dedup import SIMHASH_BITS

    bit_idx = np.arange(SIMHASH_BITS, dtype=np.uint64)

    def doc(t):
        toks = _tokens(t)
        if not toks:
            return None
        votes = 2 * _bit_votes(md5_low60_strings(toks), bit_idx) - len(toks)
        fp = ((votes > 0).astype(np.uint64) << bit_idx).sum(dtype=np.uint64)
        return (int(fp.view(np.int64)),)

    return _doc_kernel(docs, id_col, text_col, [_long("simhash")], doc)


# ---------------- repetition signals (operators/quality.py) ----------

_RE_LINE = re.compile(r"\n")
_RE_PARA = re.compile(r"\n{2,}")


def _dup_frac_py(units):
    """Python twin of the per-doc dup-line/dup-para aggregate in
    quality.repetition_stats_sql: share of non-blank units (Spark trim
    == strip of 0x20 only) whose value occurs 2+ times; None when no
    unit qualifies (the SQL groupBy emits no row → LEFT JOIN null →
    coalesce downstream)."""
    counts: dict[str, int] = {}
    for u in units:
        if u.strip(" ") != "":
            counts[u] = counts.get(u, 0) + 1
    if not counts:
        return None
    total = 0
    dup = 0
    for c in counts.values():
        total += c
        if c >= 2:
            dup += c
    return dup / total


def _top_gram_frac_py(toks, n):
    """Python twin of the top-n-gram fraction: max gram count / total
    gram slots over space-joined word n-grams; None when < n tokens."""
    g = len(toks) - n + 1
    if g <= 0:
        return None
    counts: dict[str, int] = {}
    join = " ".join
    for i in range(g):
        k = join(toks[i : i + n])
        counts[k] = counts.get(k, 0) + 1
    return max(counts.values()) / g


def repetition_stats_arrow(docs, id_col, text_col, signals, gram_n):
    """(id, <signal raw double...>) — one narrow Arrow stage computing
    every requested Gopher repetition signal per document. The JVM form
    ran one explode → groupBy(id, unit) → groupBy(id) shuffle pair PER
    SIGNAL plus a 5-way join — but every signal is a within-document
    statistic, so no row ever needed to leave its partition (guide
    §2.4). Values are the raw unrounded doubles (integer counts and one
    IEEE division — bit-identical to the JVM aggregate); rounding and
    the 0.0 coalesce stay in the caller's JVM projection. One row per
    input row: a NULL text is read as '', on which every signal is
    None."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    units = {"dup_line_frac": _RE_LINE, "dup_para_frac": _RE_PARA}
    want_toks = any(s in gram_n for s in signals)

    def doc(t):
        toks = _tokens(t.strip(" ")) if want_toks else None
        return tuple(
            _dup_frac_py(units[s].split(t)) if s in units
            else _top_gram_frac_py(toks, gram_n[s])
            for s in signals
        )

    return _doc_kernel(
        docs.withColumn(text_col, F.coalesce(F.col(text_col), F.lit(""))),
        id_col, text_col,
        [T.StructField(s, T.DoubleType(), True) for s in signals],
        doc,
    )


# ---------------- XXH64 (Spark F.xxhash64 twin, seed 42) -------------
#
# Public XXH64 spec (Collet; same algorithm Spark's XxHash64 expression
# implements over the UTF-8 bytes with seed 42). Used by the fast-mode
# winnow and embedding kernels: every message is hashed in a
# batch of equal-length messages, fully vectorized in numpy uint64
# (wrapping arithmetic == mod-2^64 by construction).

_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _xxh64_lanes8(lanes, seed: int = 42):
    """Vectorized XXH64 of many 8-byte messages given as a uint64 LE
    lane array — the small-input path (len=8 < 32) of the spec."""
    with np.errstate(over="ignore"):
        p1 = np.uint64(_XP1)
        p2 = np.uint64(_XP2)
        acc = np.full_like(lanes, np.uint64((seed + _XP5 + 8) & _M64))
        k1 = lanes * p2
        k1 = ((k1 << np.uint64(31)) | (k1 >> np.uint64(33))) * p1
        acc ^= k1
        acc = ((acc << np.uint64(27)) | (acc >> np.uint64(37))) * p1 + np.uint64(
            _XP4
        )
        acc ^= acc >> np.uint64(33)
        acc *= p2
        acc ^= acc >> np.uint64(29)
        acc *= np.uint64(_XP3)
        acc ^= acc >> np.uint64(32)
    return acc.view(np.int64)


def _winnow_doc_fast(t: str, k: int, w: int):
    """Fast-mode (xxhash64, seed 42 — F.xxhash64's default) twin of
    _winnow_doc. ASCII docs with k=8 vectorize (8-byte grams -> uint64
    lanes); others hash through the length-classed xxh64_strings."""
    n = len(t)
    m = n - k + 1
    if m < w:
        return None
    tb = t.encode("utf-8")
    if len(tb) == n and k == 8:
        a = np.frombuffer(tb, dtype=np.uint8).astype(np.uint64)
        lanes = np.zeros(m, dtype=np.uint64)
        with np.errstate(over="ignore"):
            for i in range(8):
                lanes |= a[i : i + m] << np.uint64(8 * i)
        hs = _xxh64_lanes8(lanes)
    else:
        # non-ASCII (or non-default k): grams are variable-length in
        # bytes, so hash them through the length-classed vectorized
        # path instead of a per-gram scalar loop (review-found cliff:
        # one 'é' in a 10k-char doc sent every gram through interpreted
        # Python at µs each)
        hs = xxh64_strings([t[i : i + k] for i in range(m)]).view(np.int64)
    wm = np.minimum.reduce([hs[i : m - w + 1 + i] for i in range(w)])
    return (np.unique(wm),)


def winnow_fingerprints_fast_arrow(docs, k, w, id_col, text_col):
    """(id, fingerprint) — bit-identical to the JVM expression form of
    operators.winnow.winnow_fingerprints(hash_mode='fast')."""
    return _doc_kernel(
        docs, id_col, text_col, [_long("fingerprint")],
        lambda t: _winnow_doc_fast(t, k, w), explode=True,
    )


def _xxh64_fixed_len(mat, seed: int = 42):
    """Vectorized XXH64 over m same-length byte messages (rows of a
    (m, L) uint8 matrix) — straight-line spec evaluation per length
    class; wrapping uint64 arithmetic == the spec's mod-2^64."""
    m, L = mat.shape
    u64 = np.uint64
    p1, p2, p3 = u64(_XP1), u64(_XP2), u64(_XP3)
    p4, p5 = u64(_XP4), u64(_XP5)

    def le64(cols):
        lane = np.zeros(m, dtype=np.uint64)
        for k in range(8):
            lane |= cols[:, k].astype(np.uint64) << u64(8 * k)
        return lane

    def rotl(x, r):
        return (x << u64(r)) | (x >> u64(64 - r))

    with np.errstate(over="ignore"):
        i = 0
        if L >= 32:
            v = [
                np.full(m, u64((seed + _XP1 + _XP2) & _M64)),
                np.full(m, u64((seed + _XP2) & _M64)),
                np.full(m, u64(seed)),
                np.full(m, u64((seed - _XP1) & _M64)),
            ]
            while i + 32 <= L:
                for k in range(4):
                    v[k] = rotl(v[k] + le64(mat[:, i + 8 * k : i + 8 * k + 8]) * p2, 31) * p1
                i += 32
            acc = rotl(v[0], 1) + rotl(v[1], 7) + rotl(v[2], 12) + rotl(v[3], 18)
            for k in range(4):
                acc = (acc ^ (rotl(v[k] * p2, 31) * p1)) * p1 + p4
        else:
            acc = np.full(m, u64((seed + _XP5) & _M64))
        acc = acc + u64(L)
        while i + 8 <= L:
            acc = rotl(acc ^ (rotl(le64(mat[:, i : i + 8]) * p2, 31) * p1), 27) * p1 + p4
            i += 8
        if i + 4 <= L:
            lane = np.zeros(m, dtype=np.uint64)
            for k in range(4):
                lane |= mat[:, i + k].astype(np.uint64) << u64(8 * k)
            acc = rotl(acc ^ (lane * p1), 23) * p2 + p3
            i += 4
        while i < L:
            acc = rotl(acc ^ (mat[:, i].astype(np.uint64) * p5), 11) * p1
            i += 1
        acc ^= acc >> u64(33)
        acc *= p2
        acc ^= acc >> u64(29)
        acc *= p3
        acc ^= acc >> u64(32)
    return acc


def xxh64_strings(strs: list[str], seed: int = 42):
    """uint64 XXH64 of each string's UTF-8 bytes, vectorized by length
    class (identical values to F.xxhash64 over one string column)."""
    out = np.empty(len(strs), dtype=np.uint64)
    by_len: dict[int, tuple[list[int], list[bytes]]] = {}
    for j, s in enumerate(strs):
        b = s.encode("utf-8")
        cls = by_len.setdefault(len(b), ([], []))
        cls[0].append(j)
        cls[1].append(b)
    for L, (idx, bs) in by_len.items():
        mat = np.frombuffer(b"".join(bs), dtype=np.uint8).reshape(len(bs), L)
        out[idx] = _xxh64_fixed_len(mat, seed)
    return out


def _xxh64_int_lane(seeds, i: int):
    """Vectorized XXH64 of a single 4-byte int lane with per-row seeds
    — Spark's multi-column xxhash64 chains exactly this: each later
    column is hashed with the running hash as the seed, and an
    IntegerType lane takes the 4-byte path (validated bit-exact against
    F.xxhash64(col, lit(i)))."""
    u64 = np.uint64
    with np.errstate(over="ignore"):
        acc = seeds + u64((_XP5 + 4) & _M64)
        acc = acc ^ u64(((i & 0xFFFFFFFF) * _XP1) & _M64)
        acc = ((acc << u64(23)) | (acc >> u64(41))) * u64(_XP2) + u64(_XP3)
        acc ^= acc >> u64(33)
        acc *= u64(_XP2)
        acc ^= acc >> u64(29)
        acc *= u64(_XP3)
        acc ^= acc >> u64(32)
    return acc


def text_embedding_arrow(docs, dim, id_col, text_col):
    """(id, embedding array<double>) — twin of the JVM map-rebuild
    text_embedding: bucket = pmod(xxhash64(w), dim), sign from the
    chained xxhash64(w, lit(1)) parity, ±1 votes accumulated per
    bucket, L2-normalized, zero-norm docs excluded. One narrow Arrow
    stage instead of explode → groupBy(id, bucket) → per-doc map
    rebuild (the rebuild evaluated an interpreted element_at lambda
    dim times per doc). Values are bit-identical: votes are exact
    integers in double, the squared norm is an exact integer sum, and
    the element-wise division is the same IEEE operation."""
    from pyspark.sql import types as T

    def doc(t):
        toks = _tokens(t)
        if not toks:
            return None
        hs = xxh64_strings(toks)
        buckets = hs.view(np.int64) % dim  # pmod: numpy % is nonneg
        signs = (
            (_xxh64_int_lane(hs, 1).view(np.int64) % 2) * 2 - 1
        ).astype(np.float64)
        v = np.bincount(buckets, weights=signs, minlength=dim)
        norm = float(np.sqrt((v * v).sum()))
        return None if norm == 0.0 else (v / norm,)

    return _doc_kernel(
        docs, id_col, text_col,
        [T.StructField("embedding", T.ArrayType(T.DoubleType(), False), False)],
        doc,
    )
