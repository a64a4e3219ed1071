"""Learned quality classifier — the CCNet/GPT-3/LLaMA-style filter:
logistic regression over hashed bag-of-token features, trained on a
small labeled exemplar set (good register vs reject register), then
scored over the whole corpus to gate or weight documents.

Spark-first shape:
  - Features: the existing feature-hashing embedder
    (`operators/similarity.py::text_embedding` — pure JVM, one or two
    shuffles, L2-normalized), converted to ml vectors with
    `array_to_vector` (JVM expression, no Python).
  - Training: `pyspark.ml` LogisticRegression — distributed L-BFGS
    over the (small) labeled set; the fitted model is a coefficient
    vector that ships to executors as a broadcast.
  - Scoring: sigmoid(intercept + w·x) as one JVM projection built
    from the fitted coefficients — at 100 TB this runs at scan speed
    after the embedding kernel. The model object itself never ships:
    its training summary holds the SparkSession, which stops
    serializing once the session has run an observed action.

Correctness posture: training is an iterative optimization — not
SQL-expressible, so (like IVF k-means) it is pytest-gated on planted
separation, determinism across refits, and a no-Python plan pin,
rather than DuckDB-oracled. The deterministic embedder makes refits
on identical input bit-stable.

Reference parity note: the reference app (pdf_extractor.py) has no
learned filtering — this is part of the training-data-pipeline
extension mandated by the build spec; recipe per CCNet (Wenzek et
al. 2020) / GPT-3 appendix A quality filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUALITY_DIM = 64  # one-shuffle regime of the hashing-trick embedder


def _featurize(
    docs: DataFrame,
    dim: int,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(id, features ml-vector) via the deterministic hashing-trick
    embedder. Docs whose text has no tokens (zero norm) are excluded —
    training skips them (score_quality gives them the model's prior)."""
    from pyspark.ml.functions import array_to_vector

    from docling_pdf_spark.operators.similarity import text_embedding

    emb = text_embedding(docs, dim=dim, id_col=id_col, text_col=text_col)
    return emb.select(
        F.col(id_col), array_to_vector("embedding").alias("features")
    )


def train_quality_classifier(
    labeled_docs: DataFrame,
    label_col: str = "label",
    dim: int = QUALITY_DIM,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_iter: int = 100,
    reg_param: float = 0.0,
):
    """Fit logistic regression on (text, label∈{0,1}) exemplars;
    returns the fitted LogisticRegressionModel. The labeled set is
    small by construction (it is hand-curated); the fit is one
    distributed L-BFGS run over the hashed features."""
    from pyspark.ml.classification import LogisticRegression

    feats = _featurize(labeled_docs, dim, id_col, text_col).join(
        labeled_docs.select(
            F.col(id_col), F.col(label_col).cast("double").alias("label")
        ),
        id_col,
    )
    # the exemplar set is small by construction, but it arrives here on
    # shuffle-partition-count partitions — and every L-BFGS iteration
    # is a treeAggregate job over them, so 100 iterations × 32 near-
    # empty tasks is pure scheduling overhead (measured 10.8 s for a
    # 5k-row fit; ~4 partitions: ~3 s). coalesce, don't repartition:
    # no extra shuffle, and at a genuinely large exemplar set 4
    # partitions still hold it comfortably.
    feats = feats.coalesce(4)
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="label",
        maxIter=max_iter,
        regParam=reg_param,
        standardization=False,  # features are already L2-normalized
    )
    return lr.fit(feats)


def score_quality(
    docs: DataFrame,
    model,
    dim: int = QUALITY_DIM,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "quality_prob",
) -> DataFrame:
    """NARROW (id_col, out_col) frame — one row per input doc with
    P(label=1). Returning only the score column keeps the re-attach
    join out of this operator: at 100 TB the caller decides whether
    to ship the text bytes through a second shuffle (review-found —
    the full-width left join contradicted the scan-speed posture).
    Docs the embedder excludes (no tokens, OR non-empty docs whose
    ±1 hash votes cancel to a zero norm — both are featureless to
    this model) get the model's PRIOR, sigmoid(intercept): the
    logistic regression's own answer for a zero feature vector, not a
    silent hard-reject (review-found)."""
    import math

    from docling_pdf_spark.operators.similarity import text_embedding

    weights = [float(w) for w in model.coefficients.toArray()]
    intercept = float(model.intercept)
    prior = 1.0 / (1.0 + math.exp(-intercept))
    margin = F.aggregate(
        F.zip_with("embedding", F.lit(weights), lambda x, w: x * w),
        F.lit(0.0),
        lambda acc, y: acc + y,
    ) + F.lit(intercept)
    scored = text_embedding(
        docs, dim=dim, id_col=id_col, text_col=text_col
    ).select(F.col(id_col), (1.0 / (1.0 + F.exp(-margin))).alias(out_col))
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col(out_col), F.lit(prior)).alias(out_col),
        )
    )
