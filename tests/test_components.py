"""Connected components / duplicate-cluster resolution
(operators/components.py): hand graphs with known components, the
path-graph worst case (diameter n — the case that breaks label
propagation), random-graph parity vs the DuckDB recursive-closure
twin, and the full pairs→clusters→survivors pipeline over the sf0.01
documents table."""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from docling_pdf_spark.operators.components import (
    connected_components,
    connected_components_sql,
    resolve_duplicates,
    resolve_duplicates_sql,
)
from tests.test_queries_vs_duckdb import SF_DIR


def _cc_dict(df):
    return {r["id"]: r["component"] for r in df.collect()}


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def test_hand_graphs(spark):
    # two separate clusters + a chain joining into one of them
    edges = [(1, 2), (2, 3), (10, 11), (11, 10), (3, 1)]
    got = _cc_dict(connected_components(_edges_df(spark, edges)))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_self_loops_and_duplicates_ignored(spark):
    edges = [(5, 5), (1, 2), (2, 1), (1, 2)]
    got = _cc_dict(connected_components(_edges_df(spark, edges)))
    # 5 only self-loops → never a real pair → absent (isolated)
    assert got == {1: 1, 2: 1}


def test_path_graph_converges_logarithmically(spark):
    """A 64-node chain has diameter 63: label propagation would need
    ~63 rounds; star contraction must finish well inside max_iter."""
    edges = [(i, i + 1) for i in range(64)]
    got = _cc_dict(connected_components(_edges_df(spark, edges), max_iter=12))
    assert got == {i: 0 for i in range(65)}


def test_nonconvergence_raises(spark):
    edges = [(i, i + 1) for i in range(64)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_edges_df(spark, edges), max_iter=1)


def test_random_graph_matches_duckdb_closure(spark):
    """200 nodes, sparse random edges: component assignment equals the
    DuckDB recursive transitive closure on the identical edge list."""
    rng = random.Random(42)
    edges = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(120)
    ]
    edges = [e for e in edges if e[0] != e[1]]
    got = _cc_dict(connected_components(_edges_df(spark, edges)))

    con = duckdb.connect()
    con.execute("CREATE TABLE edges(doc_a BIGINT, doc_b BIGINT)")
    con.executemany("INSERT INTO edges VALUES (?, ?)", edges)
    oracle = dict(
        con.execute(connected_components_sql("edges")).fetchall()
    )
    assert got == oracle


def test_resolve_duplicates_hand_case(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = _edges_df(spark, [(0, 1), (1, 2), (4, 5)])
    kept = sorted(
        r["doc_id"] for r in resolve_duplicates(docs, pairs).collect()
    )
    # clusters {0,1,2} → keep 0; {4,5} → keep 4; 3 isolated → kept
    assert kept == [0, 3, 4]


def test_resolve_on_sf001_jaccard_pairs_matches_duckdb(spark, tmp_path):
    """End-to-end over real data: n-gram Jaccard pairs at sf0.01 →
    clusters → survivors, vs the DuckDB twin over the SAME
    materialized pair list (the hash-materialization oracle pattern)."""
    from docling_pdf_spark.queries import q_ngram_jaccard_pairs

    pairs = q_ngram_jaccard_pairs(spark, SF_DIR).where(F.col("jaccard") >= 0.5)
    pairs_path = str(tmp_path / "pairs.parquet")
    pairs.select("doc_a", "doc_b").write.mode("overwrite").parquet(pairs_path)
    pairs_back = spark.read.parquet(pairs_path)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    kept = sorted(
        r["doc_id"]
        for r in resolve_duplicates(docs, pairs_back).select("doc_id").collect()
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    con.execute(f"CREATE VIEW pairs AS SELECT * FROM '{pairs_path}/*.parquet'")
    oracle = [
        r[0]
        for r in con.execute(
            "SELECT doc_id FROM ("
            + resolve_duplicates_sql("documents", "pairs")
            + ") ORDER BY doc_id"
        ).fetchall()
    ]
    assert len(kept) < docs.count()  # something was actually deduped
    assert kept == oracle


def test_cc_plan_no_python_no_cartesian(spark):
    """Every round is hash joins + hash aggregates — no Python eval,
    no cartesian/broadcast-nested-loop blowup."""
    edges = _edges_df(spark, [(i, i + 1) for i in range(32)])
    cc = connected_components(edges)
    plan = cc._jdf.queryExecution().executedPlan().toString()
    for marker in (
        "BatchEvalPython",
        "ArrowEvalPython",
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
    ):
        assert marker not in plan, marker


def _actions(spark, edges):
    """(the SQL actions connected_components runs on `edges`, its
    components), read from the status store."""
    from tests.test_resume import _last_execution_id

    before = _last_execution_id(spark)
    cc = connected_components(_edges_df(spark, edges))
    after = _last_execution_id(spark)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    actions = [
        execs.apply(i).description().split(" ")[0]
        for i in range(execs.size())
        if before < execs.apply(i).executionId() <= after
    ]
    return actions, _cc_dict(cc)


def test_one_query_per_round(spark):
    """The path 0-1-2-3 is a star forest after two rounds: that is the
    edge list's checkpoint plus one localCheckpoint per round, each
    followed by the star-forest test (one isEmpty query). No third
    round runs to confirm the fixpoint."""
    actions, got = _actions(spark, [(0, 1), (1, 2), (2, 3)])
    assert actions == ["localCheckpoint", "isEmpty"] * 3
    assert got == {i: 0 for i in range(4)}


def test_star_forest_input_runs_no_round(spark):
    """Edges that already form a star forest rooted at each component's
    minimum are the fixpoint: one checkpoint, one test, no round."""
    actions, got = _actions(spark, [(1, 0), (2, 0), (5, 3)])
    assert actions == ["localCheckpoint", "isEmpty"]
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 5: 3}
