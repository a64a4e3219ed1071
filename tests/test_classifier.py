"""Learned quality classifier (operators/classifier.py): planted
separation, refit determinism, zero-token default, and the no-Python
scoring plan — the pytest gates for the one iterative-training
operator family (same posture as IVF k-means)."""

from __future__ import annotations

from pyspark.sql import functions as F

from docling_pdf_spark.operators.classifier import (
    score_quality,
    train_quality_classifier,
)


def _corpus(spark, n_per=40):
    rows = []
    for i in range(n_per):
        rows.append((i, " ".join(
            f"alpha{j % 11} quality{(i + j) % 7} prose{j % 5}"
            for j in range(25)), 1))
    for i in range(n_per, 2 * n_per):
        rows.append((i, " ".join(
            f"spam{j % 3} zzz{(i * j) % 13} noise{j % 2}"
            for j in range(25)), 0))
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, label int"
    )


def test_planted_separation(spark):
    """Disjoint-register corpus: train on a slice, score the rest —
    every held-out good doc must outscore every held-out bad doc."""
    docs = _corpus(spark)
    train = docs.where(F.col("doc_id") % 4 == 0)
    test = docs.where(F.col("doc_id") % 4 != 0)
    model = train_quality_classifier(train)
    scores = {
        r.doc_id: r.quality_prob
        for r in score_quality(test, model).collect()
    }
    good = [v for k, v in scores.items() if k < 40]
    bad = [v for k, v in scores.items() if k >= 40]
    assert min(good) > 0.5 > max(bad)


def test_refit_is_deterministic(spark):
    """Same data, same partitioning → bit-stable coefficients (the
    embedder is deterministic; L-BFGS from a fixed init is too)."""
    docs = _corpus(spark, n_per=20)
    m1 = train_quality_classifier(docs)
    m2 = train_quality_classifier(docs)
    assert m1.coefficients.toArray().tolist() == \
        m2.coefficients.toArray().tolist()
    assert m1.intercept == m2.intercept


def test_featureless_docs_get_model_prior(spark):
    """Empty docs (and zero-norm vote-cancellation docs) are
    featureless to the model: they get sigmoid(intercept) — the LR's
    own zero-vector answer — not a silent hard-reject (review-found).
    Every input doc gets exactly one score row."""
    import math

    docs = _corpus(spark, n_per=10)
    model = train_quality_classifier(docs)
    probe = spark.createDataFrame(
        [(1000, ""), (1001, "alpha1 quality2 prose3 alpha4")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.quality_prob
           for r in score_quality(probe, model).collect()}
    prior = 1.0 / (1.0 + math.exp(-float(model.intercept)))
    assert abs(out[1000] - prior) < 1e-12
    assert out[1001] > 0.5
    assert len(out) == 2  # narrow (id, score): one row per input doc


def test_scoring_plan_shape(spark):
    """The scoring plan (the 100 TB hot path): exactly one Arrow batch
    stage — the round-7 embedder kernel — feeding model.transform's
    JVM projection; no row-at-a-time Python, no grouped-map, no
    hash/range shuffle introduced by the featurization itself."""
    from docling_pdf_spark.plans import formatted_plan

    docs = _corpus(spark, n_per=10)
    model = train_quality_classifier(docs)
    p = formatted_plan(score_quality(docs, model))
    assert "MapInArrow" in p
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "FlatMapGroupsInPandas"):
        assert marker not in p, marker


def test_scoring_after_an_observed_action(spark):
    """The first observed action gives the session an ObservationManager,
    which does not serialize. Scoring must still run after it: it ships
    the fitted coefficients, not the model object, whose training summary
    holds the session."""
    from pyspark.sql import Observation

    seen = Observation()
    spark.range(3).observe(seen, F.count(F.lit(1)).alias("n")).count()
    assert seen.get["n"] == 3
    docs = _corpus(spark, n_per=10)
    model = train_quality_classifier(docs)
    scores = {r.doc_id: r.quality_prob
              for r in score_quality(docs, model).collect()}
    assert len(scores) == 20
    assert min(v for k, v in scores.items() if k < 10) > 0.5
