"""Duplicate-cluster resolution — connected components over near-dup
candidate pairs, the step every published dedup pipeline runs AFTER
pair generation (MinHash-LSH / SimHash / n-gram Jaccard all emit
PAIRS; the unit of removal is the CLUSTER: transitive closure of the
pairs, keep one canonical document per cluster. See e.g. the
MinHash-dedup recipe in Lee et al. 2022 "Deduplicating Training Data
Makes Language Models Better" §2.2).

Algorithm: alternating large-star / small-star (Kiveris et al. 2014,
"Connected Components in MapReduce and Beyond") — the standard
shared-nothing CC algorithm:

* large-star(u): connect every strictly-larger neighbor of u to
  min(N(u) ∪ {u})
* small-star(u): connect u and its smaller neighbors to their minimum

Each half-round is one hash-partitioned groupBy (neighborhood min) +
one shuffle join — no driver-side graph state, no collect(); the paper
proves convergence in O(log² n) rounds (O(log n) in practice; near-dup
clusters are LSH quasi-cliques with tiny diameter, which converge in
2-3 rounds — the path-graph worst case is exercised in tests). At the
fixpoint the edge set IS the star graph: every non-root node holds
exactly one edge to its component's minimum id.

Why not label propagation (repeat l(u) = min over neighbors)? Its
round count is the graph DIAMETER — a pathological chain of near-dup
pairs (a~b, b~c, ...) makes it O(n) rounds at 100 TB, while
star-contraction collapses the same chain logarithmically.

Why not both stars from ONE symmetric-adjacency groupBy per round
(connect every member of N(u) ∪ {u} to its minimum)? It converges, but
it keeps the smaller neighbors that large-star drops, so a chain's edge
set grows quadratically before it collapses (a 1,001-node path peaks at
316,928 edges against the alternating rounds' 1,000, and needs one more
round).

Driver-side per-round state is TWO scalars (edge count + an order- and
content-insensitive checksum for the convergence test), observed inside
the round's own localCheckpoint job, so a round is ONE query. Each
round's edge set is localCheckpoint()-ed to truncate lineage — an iterative
algorithm that keeps its full lineage re-executes every prior round on
any recompute and overflows the planner at scale. On a real cluster
prefer reliable checkpoints (spark.sparkContext.setCheckpointDir on
durable storage) for executor-loss tolerance; localCheckpoint is the
single-JVM sandbox equivalent.

The DuckDB twin (test scale only) computes min-reachable-id by
recursive-CTE transitive closure — O(n²) state, fine for oracle
corpora, which is exactly why the Spark side doesn't do it that way.

Reference tie-in: the reference processes one uploaded file at a time
(pdf_extractor.py) and has no corpus-level operators; this is part of
the §2-beyond curation family (dedup endgame) the graft adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _canonical(edges: DataFrame) -> DataFrame:
    """Undirected edge list as (u, v) with u > v, self-loops dropped,
    deduplicated."""
    return (
        edges.where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"),
            F.least("u", "v").alias("v"),
        )
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u}).
    One symmetric explode + neighborhood-min groupBy + join."""
    sym = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    return (
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect u and its smaller neighbors to their minimum. Input may
    have either orientation; processed on the (larger, smaller) key."""
    g = _canonical(edges)  # u > v on every row
    mins = g.groupBy("u").agg(F.min("v").alias("m"))
    to_small = (
        g.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
    )
    to_self = mins.select("u", F.col("m").alias("v"))
    return to_small.union(to_self).distinct()


def _checkpoint(edges: DataFrame) -> tuple[DataFrame, tuple]:
    """edges, localCheckpoint-ed, and its (count, additive hash): an
    order-insensitive fingerprint observed in the checkpoint's own job.
    The hash accumulates in decimal(38,0): summing raw xxhash64 longs
    overflows int64, which ANSI mode (correctly) refuses."""
    seen = Observation()
    edges = edges.observe(
        seen,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(28,0)")).alias("h"),
    ).localCheckpoint()
    return edges, (seen.get["n"], seen.get["h"])


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, component) for every node in `pairs`; component = minimum
    node id in the connected component (deterministic canonical label).
    Isolated docs never appear in `pairs` and so not here — callers
    treat absence as "own component" (see resolve_duplicates)."""
    edges, sig = _checkpoint(
        _canonical(pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    )
    for _ in range(max_iter):
        nxt, nsig = _checkpoint(_small_star(_large_star(edges)))
        edges.unpersist()
        edges = nxt
        if nsig == sig:
            break
        sig = nsig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    # fixpoint edge set is the star graph: (node, root) for every
    # non-root node; add the roots' self-assignments
    assign = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = assign.select(F.col("component").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    )
    return assign.union(roots)


def resolve_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Keep exactly one document per duplicate cluster (the minimum id
    — deterministic and oracle-reproducible); docs in no pair pass
    through untouched. One broadcast-or-shuffle anti-join against the
    loser set, which is at most |pairs| rows."""
    cc = connected_components(pairs, src=src, dst=dst, max_iter=max_iter)
    losers = cc.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def connected_components_sql(edges_table: str, src: str = "doc_a", dst: str = "doc_b") -> str:
    """DuckDB twin: min-reachable-id via recursive transitive closure.
    UNION (set) semantics bounds the recursion; O(n²) intermediate
    state — oracle-scale only, by design (see module docstring)."""
    return f"""
WITH RECURSIVE sym AS (
  SELECT {src} AS u, {dst} AS v FROM {edges_table} WHERE {src} <> {dst}
  UNION
  SELECT {dst} AS u, {src} AS v FROM {edges_table} WHERE {src} <> {dst}
), reach(id, r) AS (
  SELECT u, v FROM sym
  UNION
  SELECT reach.id, sym.v FROM reach JOIN sym ON reach.r = sym.u
)
SELECT id, min(r) AS component FROM (
  SELECT id, r FROM reach
  UNION ALL
  SELECT id, id AS r FROM (SELECT DISTINCT u AS id FROM sym)
) GROUP BY id
"""


def resolve_duplicates_sql(
    docs_table: str,
    edges_table: str,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> str:
    """DuckDB twin of resolve_duplicates: anti-join against the
    non-canonical members of each component."""
    cc = connected_components_sql(edges_table, src=src, dst=dst)
    return f"""
SELECT d.* FROM {docs_table} d
WHERE d.{id_col} NOT IN (
  SELECT id FROM ({cc}) WHERE id <> component
)
"""
