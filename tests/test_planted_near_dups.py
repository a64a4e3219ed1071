"""Planted-truth recall for the near-dup pair operators.

The corpus is generated the way the `curate_funnel` benchmark input is
(perfbench/workloads.py `CurateFunnel.prepare`): fixture documents, and
for 40% of them a copy whose first text span of 8+ words has one word
replaced by a nonce. Every other document shares the fixture's small
vocabulary, so the non-duplicates are same-vocabulary documents. Each
document's text is its extracted text spans joined by newlines, as
`jobs.curate` builds `full_text`, and only documents passing curate's
default length gates (80 chars, 10 tokens) are kept: those are the
documents curate's near-dup stage sees.

The operators are called directly with curate's settings, not through
`curate()`. A planted pair is caught when the operator emits it; any
other pair is a false pair.
"""

from __future__ import annotations

import random

import pytest

from docling_pdf_spark.core.extract import extract_document
from docling_pdf_spark.fixtures import SEED, gen_documents

N_BASE = 150
DUP_RATE = 0.4


def _planted_corpus(seed: int) -> tuple[list[tuple[str, str]], set[tuple[str, str]]]:
    """((doc_id, text) rows, planted (original, copy) id pairs)."""
    base = gen_documents(N_BASE, seed=seed, adversarial=False).to_pylist()
    rng = random.Random(seed + 1)
    docs, planted = list(base), []
    for d in base:
        texts = [k for k, s in enumerate(d["spans"])
                 if s["kind"] == "text" and len((s["text"] or "").split()) >= 8]
        if not texts or len(planted) >= int(N_BASE * DUP_RATE):
            continue
        spans = [dict(s) for s in d["spans"]]
        words = spans[texts[0]]["text"].split()
        words[rng.randrange(len(words))] = f"nonce{len(planted)}"
        spans[texts[0]]["text"] = " ".join(words)
        docs.append({"doc_id": f"dup-{d['doc_id']}", "spans": spans})
        planted.append((d["doc_id"], f"dup-{d['doc_id']}"))
    rows = []
    for d in docs:
        spans = extract_document(d["doc_id"], d["spans"])["spans"] or []
        text = "\n".join(s["text"] for s in spans if s["kind"] == "text")
        if len(text) >= 80 and len(text.split()) >= 10:
            rows.append((d["doc_id"], text))
    kept = {i for i, _ in rows}
    # "doc-…" < "dup-…", so each planted pair is already (doc_a, doc_b)
    return rows, {p for p in planted if p[0] in kept and p[1] in kept}


@pytest.fixture(scope="module")
def planted(spark):
    rows, pairs = _planted_corpus(SEED)
    return spark.createDataFrame(rows, "doc_id string, text string"), pairs


def _pairs(df) -> set[tuple[str, str]]:
    return {(r["doc_a"], r["doc_b"]) for r in df.select("doc_a", "doc_b").collect()}


def test_minhash_catches_planted_pairs_and_nothing_else(planted):
    """Measured: 54 of 59 planted pairs, 0 false pairs. The 5 misses
    are documents of 27-72 words, where one edited word changes up to
    5 of the few distinct 5-word shingles and the estimate falls below
    0.8."""
    from docling_pdf_spark.operators.dedup import minhash_lsh_dedup

    docs, truth = planted
    got = _pairs(minhash_lsh_dedup(docs, threshold=0.8))
    assert len(truth) == 59
    assert len(got & truth) >= 54
    assert got - truth == set()


def test_winnow_catches_planted_pairs_and_nothing_else(planted):
    """Measured: 59 of 59 planted pairs, 0 false pairs (stated in
    winnow_near_dup_pairs' docstring)."""
    from docling_pdf_spark.operators.winnow import winnow_near_dup_pairs

    docs, truth = planted
    got = _pairs(winnow_near_dup_pairs(docs, min_shared=3, min_containment=0.9))
    assert len(got & truth) == len(truth) == 59
    assert got - truth == set()


@pytest.mark.xfail(strict=True, reason=(
    "containment divides by the smaller fingerprint set, so a document "
    "100x the usual length over the same small vocabulary contains "
    "nearly every other document's fingerprints"))
def test_winnow_has_no_false_pairs_with_an_oversized_document(spark):
    """Seed 102's fixture draw includes one document from the 0.5%
    oversized cohort. Measured: winnow pairs it with 55 documents that
    are not its duplicates (MinHash: 0)."""
    from docling_pdf_spark.operators.winnow import winnow_near_dup_pairs

    rows, truth = _planted_corpus(102)
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    got = _pairs(winnow_near_dup_pairs(docs, min_shared=3, min_containment=0.9))
    assert got - truth == set()
