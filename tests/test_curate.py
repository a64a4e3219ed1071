"""End-to-end curation pipeline: every funnel stage must drop exactly
the planted offenders (jobs/curate.py — the operator composition for
the training-data use case)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from docling_pdf_spark.schemas import DOCUMENTS_PA

BASE = (
    "the quick brown fox jumps over the lazy dog while the spark engine "
    "shuffles partitions across the cluster and the arrow batches flow "
    "through vectorized pipelines without touching python at all today"
)


def _doc(doc_id: str, text: str) -> dict:
    return {
        "doc_id": doc_id,
        "spans": [{"kind": "text", "text": text, "media_ref": None, "offset": 0}],
    }


def _assert_ledger(funnel: dict) -> None:
    """The stage ledger closes: each stage starts from the previous
    stage's rows, each dropped_* key is the summed drop of the stages
    mapped to it, and input minus every drop is the curated count."""
    from jobs.curate import DROP_KEYS

    stages = funnel["stages"]
    for prev, s in zip(stages, stages[1:]):
        assert s["rows_in"] == prev["rows_out"], s
    dropped = {k: v for k, v in funnel.items() if k.startswith("dropped_")}
    for key, n in dropped.items():
        assert n == sum(s["rows_in"] - s["rows_out"] for s in stages
                        if DROP_KEYS.get(s["stage"]) == key), key
    assert funnel["n_input"] - sum(dropped.values()) == funnel["n_curated"]


def test_curate_funnel_drops_each_planted_offender(spark, tmp_path):
    from jobs.curate import curate

    rows = [
        _doc("keep-1", BASE),
        _doc("keep-2", "an entirely different long document about mountain "
                       "weather patterns and the seasonal snowfall records "
                       "measured across forty alpine stations since twenty ten"),
        _doc("exact-dup", BASE),                         # exact dup of keep-1
        _doc("near-dup", BASE.replace("lazy", "sleepy")),  # near dup of keep-1
        _doc("too-short", "tiny text"),                  # fails min_chars
        _doc("too-numeric", " ".join(str(i) for i in range(40))),  # digit gate
    ]
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)
    out = str(tmp_path / "curated")

    funnel = curate(spark, src, out, min_chars=80, min_tokens=10,
                    max_digit_ratio=0.3, jaccard=0.5)

    assert funnel["n_input"] == 6
    assert funnel["dropped_quality"] == 2      # too-short + too-numeric
    assert funnel["dropped_exact_dups"] == 1   # keep-1/exact-dup collapse to one
    assert funnel["dropped_near_dups"] == 1    # near-dup (higher id of the pair)
    assert funnel["n_curated"] == 2

    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # exact dedup keeps the LOWEST doc_id per hash ('exact-dup' < 'keep-1')
    assert kept == {"exact-dup", "keep-2"}


def test_curate_high_dup_corpus_no_forced_broadcast(spark, tmp_path):
    """r2 ADVICE/VERDICT #5 done-criterion: at crawl-realistic near-dup
    rates (~40% here) the drop list is O(duplicate docs) — the funnel
    must still work AND the anti-join side must not be force-broadcast
    (AQE chooses the strategy from measured sizes; at 100 TB a forced
    broadcast of a TB-scale drop list OOMs the driver)."""
    import re

    from jobs.curate import curate

    # pairwise-disjoint vocabularies so ONLY the planted pairs are near;
    # ids letter-encoded (digit tokens would trip the digit-ratio gate)
    def L(n: int) -> str:
        return "".join("abcdefghij"[int(d)] for d in str(n))

    def text(i: int) -> str:
        return " ".join(f"w{L(i)}word{L(j)}" for j in range(40))

    rows = [_doc(f"base-{i:03d}", text(i)) for i in range(30)]
    # 20 near-dups of the first 20 docs (one-word edit) → 40% dup rate
    rows += [
        _doc(f"ndup-{i:03d}", text(i).replace(f"w{L(i)}word{L(20)}", "changed"))
        for i in range(20)
    ]
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)
    out = str(tmp_path / "curated")

    funnel = curate(spark, src, out, min_chars=80, jaccard=0.5)
    # each planted pair shares 31 of 41 shingles (Jaccard 0.756), where
    # 8 bands x 4 rows make a pair a candidate with probability 0.958;
    # with these deterministic signatures ndup-006 (estimate 0.6875)
    # shares no band with base-006, so 19 of the 20 pairs collapse
    assert funnel["dropped_near_dups"] == 19
    assert funnel["n_curated"] == 31

    # no broadcast HINT anywhere in the near-dup drop path — jobs/curate.py
    # and the cluster resolver it calls (the repo-wide invariant: no
    # unconditional F.broadcast of an unbounded-cardinality side; grep
    # the source, not the plan — AQE may legitimately CHOOSE broadcast
    # for this small test corpus)
    import inspect

    import jobs.curate as jc
    from docling_pdf_spark.operators.components import resolve_duplicates

    src_text = inspect.getsource(jc.curate) + inspect.getsource(resolve_duplicates)
    assert not re.search(r"F\.broadcast\(\s*(drop|losers)", src_text)


def test_curate_winnow_mode_catches_the_near_dup(spark, tmp_path):
    """The winnow near-dup mode drops the same planted near-dup (its
    shared passages guarantee shared fingerprints)."""
    from jobs.curate import curate

    rows = [
        _doc("keep-1", BASE),
        _doc("near-dup", BASE.replace("lazy", "sleepy")),
        _doc("keep-2", "an entirely different long document about mountain "
                       "weather patterns and the seasonal snowfall records "
                       "measured across forty alpine stations since twenty ten"),
    ]
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)
    out = str(tmp_path / "curated")
    funnel = curate(spark, src, out, min_chars=80, near_dup="winnow")
    assert funnel["dropped_near_dups"] == 1
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {"keep-1", "keep-2"}


def test_curate_embedding_mode_drops_planted_cosine_pair(spark, tmp_path):
    """r3 VERDICT #4: the embedding/IVF stack wired into the funnel —
    the planted one-word-edit near-dup pair sits at hashing-trick
    cosine ≥0.9 and must be dropped via the bucketed (nprobe=2) IVF
    path; the disjoint-vocabulary doc survives. The drop side stays
    un-broadcast (source-level invariant asserted in the high-dup test
    covers every mode — the near-dup branch shares one anti-join)."""
    from jobs.curate import curate

    rows = [
        _doc("keep-1", BASE),
        _doc("near-dup", BASE.replace("lazy", "sleepy")),
        _doc("keep-2", "an entirely different long document about mountain "
                       "weather patterns and the seasonal snowfall records "
                       "measured across forty alpine stations since twenty ten"),
    ]
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)
    out = str(tmp_path / "curated")
    funnel = curate(spark, src, out, min_chars=80, near_dup="embedding",
                    cosine=0.9)
    assert funnel["dropped_near_dups"] == 1
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {"keep-1", "keep-2"}


def test_curate_decontaminates_against_eval_set(spark, tmp_path):
    """With --decon-eval, a curated doc sharing an 8-word gram with the
    benchmark set is dropped (and accounted as dropped_contaminated);
    disjoint-vocabulary docs survive. The eval gram set is broadcast —
    the training side must not shuffle at corpus scale."""
    import pyarrow as pa

    from jobs.curate import curate

    rows = [
        _doc("keep-1", BASE),  # shares the BASE passage with the eval doc
        _doc("keep-2", "an entirely different long document about mountain "
                       "weather patterns and the seasonal snowfall records "
                       "measured across forty alpine stations since twenty ten"),
    ]
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)
    ev = str(tmp_path / "eval.parquet")
    pq.write_table(
        pa.table({"text": ["benchmark question quoting: " + BASE]}), ev
    )
    out = str(tmp_path / "curated")
    funnel = curate(spark, src, out, min_chars=80, decon_eval=ev)
    assert funnel["dropped_contaminated"] == 1
    assert funnel["dropped_near_dups"] == 0
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {"keep-2"}


def test_curate_decon_catches_passage_across_span_boundary(spark, tmp_path):
    """Review-found: full_text joins spans with '\\n', so without
    whitespace normalization a quoted passage crossing a span boundary
    produced a 'word8\\nword9' token that never matched any eval gram.
    Both sides are normalized now; the split-span doc must be caught.
    A gram width of 0 must fail fast (it would flag everything via the
    empty gram)."""
    import pyarrow as pa
    import pytest as _pytest

    from jobs.curate import curate

    words = BASE.split(" ")
    half = len(words) // 2
    split_doc = {
        "doc_id": "split-spans",
        "spans": [
            {"kind": "text", "text": " ".join(words[:half]), "media_ref": None,
             "offset": 0},
            {"kind": "text", "text": " ".join(words[half:]), "media_ref": None,
             "offset": 1},
        ],
    }
    rows = [
        split_doc,
        _doc("keep-2", "an entirely different long document about mountain "
                       "weather patterns and the seasonal snowfall records "
                       "measured across forty alpine stations since twenty ten"),
    ]
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)
    ev = str(tmp_path / "eval.parquet")
    # the eval quote covers the span boundary; also carries a newline
    # itself (benchmark dumps do)
    mid_quote = " ".join(words[half - 5 : half]) + "\n" + " ".join(words[half : half + 5])
    pq.write_table(pa.table({"text": [mid_quote]}), ev)
    out = str(tmp_path / "curated")
    funnel = curate(spark, src, out, min_chars=80, decon_eval=ev,
                    decon_gram_words=8)
    assert funnel["dropped_contaminated"] == 1
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {"keep-2"}

    with _pytest.raises(ValueError, match="decon_gram_words"):
        curate(spark, src, str(tmp_path / "x"), decon_eval=ev, decon_gram_words=0)


def test_curate_cluster_resolve_collapses_hub_cluster(spark, tmp_path):
    """--cluster-resolve semantics: docs A and B are each near-dups of
    hub doc C (one-word edits at different positions) but A~B falls
    below the threshold, so the pair list is exactly {(A,C),(B,C)}
    (deterministic minhash estimates for these texts: A-B 0.5625,
    A-C 0.8125, B-C 0.7188 — threshold 0.65 sits strictly between).
    The pairwise drop-the-larger rule keeps BOTH A and B; cluster
    resolution (connected components, keep the min id) keeps only A —
    the transitive-closure semantics published dedup pipelines use."""
    from jobs.curate import curate

    words = [f"tok{chr(97 + i % 23)}{chr(97 + (i * 7) % 23)}w{i:02d}x" for i in range(40)]
    hub = " ".join(words)
    a = hub.replace(words[10], "editedalpha")
    b = hub.replace(words[30], "editedbeta")
    rows = [
        _doc("hub-a", a),
        _doc("hub-b", b),
        _doc("hub-c", hub),
        _doc("other", "an entirely different long document about mountain "
                      "weather patterns and the seasonal snowfall records "
                      "measured across forty alpine stations since twenty ten"),
    ]
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)

    pairwise = curate(spark, src, str(tmp_path / "pw"), min_chars=80,
                      jaccard=0.65)
    cluster = curate(spark, src, str(tmp_path / "cl"), min_chars=80,
                     jaccard=0.65, cluster_resolve=True)

    # pairwise: only hub-c is ever the larger of a pair → 3 survivors
    assert pairwise["dropped_near_dups"] == 1
    kept_pw = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "pw")).collect()}
    assert kept_pw == {"hub-a", "hub-b", "other"}

    # cluster: {hub-a, hub-b, hub-c} is ONE component → keep min id only
    assert cluster["dropped_near_dups"] == 2
    kept_cl = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "cl")).collect()}
    assert kept_cl == {"hub-a", "other"}


def test_curate_strip_boilerplate_stage(spark, tmp_path):
    """--strip-boilerplate N: a footer line planted in most docs is
    removed from every text span, the funnel reports the removal
    count, and the cleaned text drives downstream hashing (two docs
    differing ONLY in the footer collapse in exact dedup)."""
    from jobs.curate import curate

    footer = "copyright example corp all rights reserved worldwide"
    bodies = [
        "an entirely distinct discussion of alpine meteorology with "
        "long unique phrasing about seasonal snowfall and wind patterns",
        "a thorough review of sourdough fermentation chemistry covering "
        "hydration ratios starter maintenance and crumb development",
        "notes on renaissance fresco restoration techniques including "
        "pigment analysis plaster consolidation and varnish removal",
        "an overview of container orchestration failure modes spanning "
        "scheduler preemption node pressure and network partitions",
        "field observations of tidal estuary bird migration counting "
        "sandpipers godwits and plovers across autumn survey windows",
    ]
    rows = [
        _doc(f"doc-{i}", f"{body}\n{footer}")
        for i, body in enumerate(bodies)
    ]
    # doc-5: same body as doc-0 but WITHOUT the footer — after the
    # strip both reduce to the same text, so exact dedup collapses them
    rows.append(_doc("doc-5", bodies[0]))
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)

    out = str(tmp_path / "curated")
    funnel = curate(spark, src, out, min_chars=80, strip_boilerplate=3)

    assert funnel["removed_boilerplate_lines"] == 5
    assert funnel["dropped_exact_dups"] == 1  # doc-0/doc-5 collapsed
    assert any(s["stage"] == "strip_boilerplate" for s in funnel["stages"])
    texts = {
        r["doc_id"]: "\n".join(
            s["text"] for s in r["spans"] if s["kind"] == "text"
        )
        for r in spark.read.parquet(out).collect()
    }
    assert all(footer not in t for t in texts.values())
    assert len(texts) == 5


def test_curate_mix_budget_stage(spark, tmp_path):
    """Final token-budget mixture: with one stratum ('unknown' — plain
    text spans carry no producer) and a budget below the corpus token
    total, the funnel keeps exactly the longest-first greedy prefix
    within the allocation and reports the plan + drop count."""
    from jobs.curate import curate

    rows = [
        _doc(f"mix-{i}", f"document number {i} " + " ".join(
            f"unique{i}word{j} filler{j} topic{(i * 7 + j) % 13}"
            for j in range(20 + 10 * i)))
        for i in range(6)
    ]
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)
    out = str(tmp_path / "curated")

    probe = curate(spark, src, str(tmp_path / "probe"),
                   min_chars=10, min_tokens=5, jaccard=0.99)
    assert probe["n_curated"] == 6
    total_words = sum(
        r["n_words"]
        for r in spark.read.parquet(str(tmp_path / "probe")).collect()
    )

    budget = total_words // 2
    funnel = curate(spark, src, out, min_chars=10, min_tokens=5,
                    jaccard=0.99, mix_budget=budget,
                    mix_weights={"unknown": 1_000_000})

    kept = spark.read.parquet(out).collect()
    assert funnel["dropped_mix_budget"] == 6 - len(kept) > 0
    assert sum(r["n_words"] for r in kept) <= budget
    # greedy fill is longest-first: every kept doc has >= words of any
    # dropped doc OR the dropped doc would overflow the allocation
    plan = {p["stratum"]: p for p in funnel["mix_plan"]}
    assert set(plan) == {"unknown"}
    assert plan["unknown"]["allocation_tokens"] <= budget
    assert not plan["unknown"]["saturated"]
    assert any(s["stage"] == "mix_plan" for s in funnel["stages"])
    # funnel arithmetic still sums
    assert (funnel["n_input"]
            == funnel["dropped_extraction_failed"]
            + funnel["dropped_quality"] + funnel["dropped_exact_dups"]
            + funnel["dropped_near_dups"] + funnel["dropped_mix_budget"]
            + funnel["n_curated"])


def test_curate_mix_requires_both_flags(spark, tmp_path):
    from jobs.curate import curate

    rows = [_doc("a", BASE)]
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        curate(spark, src, str(tmp_path / "o"), mix_budget=100)


def test_parse_mix_weights_errors():
    """CLI weight parsing: usage errors, not opaque tracebacks; a
    repeated stratum is an error, not a silent last-wins dedupe."""
    import argparse

    import pytest as _pytest

    from jobs.curate import _parse_mix_weights

    assert _parse_mix_weights("en=5,sparkpdf 2.1=7") == {
        "en": 5, "sparkpdf 2.1": 7
    }
    with _pytest.raises(argparse.ArgumentTypeError, match="STRATUM=WEIGHT"):
        _parse_mix_weights("en:500000")
    with _pytest.raises(argparse.ArgumentTypeError, match="integer"):
        _parse_mix_weights("en=abc")
    with _pytest.raises(argparse.ArgumentTypeError, match="more than once"):
        _parse_mix_weights("en=5,en=7")


def test_cli_forwards_every_flag_to_curate(monkeypatch):
    """main() passes curate() exactly its keyword parameters, each flag
    under its own name; the CLI-only --local-cores/--gen-docs stay out.
    Spark-free: the session factory and curate() are stubbed."""
    import inspect
    from types import SimpleNamespace

    import docling_pdf_spark.session as session
    import jobs.curate as jc

    params = set(list(inspect.signature(jc.curate).parameters)[1:])
    captured: dict = {}

    def fake_curate(spark, **kwargs):
        captured.update(kwargs)
        return {}

    fake_spark = SimpleNamespace(
        sparkContext=SimpleNamespace(setLogLevel=lambda level: None),
        stop=lambda: None,
    )
    monkeypatch.setattr(session, "get_spark", lambda *a, **k: fake_spark)
    monkeypatch.setattr(jc, "curate", fake_curate)
    assert jc.main(["--input", "in.parquet", "--output", "out",
                    "--local-cores", "2", "--mix-budget", "100",
                    "--mix-weights", "en=1"]) == 0
    assert set(captured) == params
    assert captured["input_path"] == "in.parquet"
    assert captured["output_path"] == "out"
    assert captured["mix_weights"] == {"en": 1}


def test_curate_fails_fast_on_bad_mix_args(spark, tmp_path):
    """Review-found: a bad mix flag must raise BEFORE the funnel runs —
    probe with a nonexistent input path: reaching any Spark action
    would raise AnalysisException instead of ValueError."""
    import pytest as _pytest

    from jobs.curate import curate

    missing = str(tmp_path / "nope.parquet")
    out = str(tmp_path / "o")
    with _pytest.raises(ValueError, match="set together"):
        curate(spark, missing, out, mix_budget=100)
    with _pytest.raises(ValueError, match="positive int"):
        curate(spark, missing, out, mix_budget=100, mix_weights={"en": 0})
    with _pytest.raises(ValueError, match="mix_budget"):
        curate(spark, missing, out, mix_budget=-1, mix_weights={"en": 1})


def test_curate_fails_fast_on_bad_near_dup_and_decon_args(spark, tmp_path):
    """An unknown near_dup mode and decon_gram_words < 2 must raise
    before any Spark action — same nonexistent-path probe as above (the
    eval path is missing too, so its schema read would also raise
    AnalysisException)."""
    from jobs.curate import curate

    missing = str(tmp_path / "nope.parquet")
    out = str(tmp_path / "o")
    with pytest.raises(ValueError, match="unknown near_dup mode"):
        curate(spark, missing, out, near_dup="simhash")
    with pytest.raises(ValueError, match="decon_gram_words must be >= 2"):
        curate(spark, missing, out, decon_eval=missing, decon_gram_words=1)


def test_curate_releases_caches_when_a_stage_raises(spark, tmp_path, monkeypatch):
    """A stage that raises after the extraction (and the boilerplate
    strip) were persisted must leave no cached frame in the session."""
    import docling_pdf_spark.operators.dedup as dedup
    from jobs.curate import curate

    def failing_near_dup(*args, **kwargs):
        raise RuntimeError("near-dup stage failed")

    src = str(tmp_path / "docs.parquet")
    rows = [_doc("a", BASE), _doc("b", BASE + " plus a distinct tail")]
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)
    monkeypatch.setattr(dedup, "minhash_lsh_dedup", failing_near_dup)
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="near-dup stage failed"):
        curate(spark, src, str(tmp_path / "o"), strip_boilerplate=2)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_curate_decon_plus_mix_stage_attribution(spark, tmp_path):
    """Review-found inversion: with decon AND mix enabled, the decon
    drop must land in a 'decon' stage and the mix-selection drop in
    the final write stage — not swapped."""
    from jobs.curate import curate

    rows = [
        _doc("contaminated", BASE),
        _doc("keep-long", "an entirely different long document about "
                          "mountain weather patterns and the seasonal "
                          "snowfall records measured across forty alpine "
                          "stations since twenty ten"),
        _doc("keep-short", "a second distinct document on coastal tide "
                           "tables compiled from harbor logs spanning "
                           "ninety years of continuous measurement data"),
    ]
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)
    ev = str(tmp_path / "eval.parquet")
    pq.write_table(
        pa.table({"text": ["benchmark question quoting: " + BASE]}), ev
    )
    out = str(tmp_path / "curated")
    probe = curate(spark, src, str(tmp_path / "probe"), min_chars=80,
                   decon_eval=ev)
    assert probe["n_curated"] == 2
    words = sum(
        r["n_words"]
        for r in spark.read.parquet(str(tmp_path / "probe")).collect()
    )
    budget = words - 1  # forces exactly one doc out of the mixture
    funnel = curate(spark, src, out, min_chars=80, decon_eval=ev,
                    mix_budget=budget, mix_weights={"unknown": 100})
    stages = {s["stage"]: s for s in funnel["stages"]}
    assert funnel["dropped_contaminated"] == 1
    assert funnel["dropped_mix_budget"] == 1
    assert stages["decon"]["rows_in"] - stages["decon"]["rows_out"] == 1
    assert stages["mix_plan"]["rows_in"] == stages["mix_plan"]["rows_out"]
    w = stages["mix_select_redact_write"]
    assert w["rows_in"] - w["rows_out"] == 1
    assert funnel["n_curated"] == 1
    _assert_ledger(funnel)


def test_curate_shuffle_seed_orders_output(spark, tmp_path):
    """--shuffle-seed: output carries a dense 1-based shuffle_rank, the
    parquet files are physically ordered by it (sequential read = the
    shuffled order), and the permutation is seed-deterministic."""
    from jobs.curate import curate

    rows = [
        _doc(f"sh-{i}", f"document number {i} " + " ".join(
            f"unique{i}word{j} filler{j} topic{(i * 7 + j) % 13}"
            for j in range(25)))
        for i in range(8)
    ]
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)

    def run(out):
        funnel = curate(spark, src, out, min_chars=10, min_tokens=5,
                        jaccard=0.99, shuffle_seed=42)
        assert funnel["n_curated"] == 8
        return spark.read.parquet(out)

    a = run(str(tmp_path / "a"))
    assert sorted(r.shuffle_rank for r in a.select("shuffle_rank").collect()) \
        == list(range(1, 9))

    # physical contract: reading the part files in NAME order yields
    # ranks 1..n in sequence (range-partitioned by rank + sorted within
    # partitions; note spark.read orders splits by SIZE, so the
    # name-order guarantee is checked on the files directly)
    import glob

    import pyarrow.parquet as _pq

    def file_seq(out):
        seq = []
        for f in sorted(glob.glob(f"{out}/part-*.parquet")):
            t = _pq.read_table(f, columns=["doc_id", "shuffle_rank"])
            seq.extend(zip(t["doc_id"].to_pylist(),
                           t["shuffle_rank"].to_pylist()))
        return seq

    sa = file_seq(str(tmp_path / "a"))
    assert [r for _, r in sa] == list(range(1, 9))
    # deterministic across runs; not the trivial insertion order
    b = run(str(tmp_path / "b"))
    sb = file_seq(str(tmp_path / "b"))
    assert sa == sb
    assert [d for d, _ in sa] != sorted(d for d, _ in sa)


def test_curate_dsir_select_keeps_target_like_docs(spark, tmp_path):
    """--dsir-target: the DSIR stage keeps exactly the top keep-frac
    by target/raw log-ratio — on a two-register corpus with register-A
    exemplars, the A docs survive and the B docs drop; the funnel
    arithmetic still sums."""
    from jobs.curate import curate

    rows = []
    for i in range(6):
        rows.append(_doc(f"a-{i}", " ".join(
            f"alpha{j % 11} quality{(i + j) % 7} prose{j % 5} essay{i}x{j}"
            for j in range(30))))
    for i in range(6):
        rows.append(_doc(f"b-{i}", " ".join(
            f"spam{j % 3} zzz{(i * j) % 13} noise{j % 2} junk{i}y{j}"
            for j in range(30))))
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)
    # exemplars: register-A style text (disjoint from any doc_id above)
    tgt = str(tmp_path / "target.parquet")
    pq.write_table(pa.table({"text": [
        " ".join(f"alpha{j % 11} quality{j % 7} prose{j % 5}"
                 for j in range(40)),
    ]}), tgt)
    out = str(tmp_path / "curated")
    funnel = curate(spark, src, out, min_chars=10, min_tokens=5,
                    jaccard=0.99, dsir_target=tgt, dsir_keep_frac=0.5)
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {f"a-{i}" for i in range(6)}
    assert funnel["dropped_dsir"] == 6
    stages = {s["stage"]: s for s in funnel["stages"]}
    assert stages["dsir_select"]["rows_in"] == 12
    assert stages["dsir_select"]["rows_out"] == 6
    assert (funnel["n_input"]
            == funnel["dropped_extraction_failed"]
            + funnel["dropped_quality"] + funnel["dropped_exact_dups"]
            + funnel["dropped_near_dups"] + funnel["dropped_dsir"]
            + funnel["n_curated"])


def test_curate_dsir_fails_fast_on_bad_args(spark, tmp_path):
    import pytest as _pytest

    from jobs.curate import curate

    missing = str(tmp_path / "nope.parquet")
    out = str(tmp_path / "o")
    with _pytest.raises(ValueError, match="dsir_keep_frac"):
        curate(spark, missing, out, dsir_target="t", dsir_keep_frac=0.0)


def test_curate_decon_plus_dsir_attribution(spark, tmp_path):
    """decon + dsir together: decon's drop lands in a 'decon' stage
    (materialized by the dsir boundary count), dsir's in 'dsir_select',
    and the funnel arithmetic sums across all three selections."""
    from jobs.curate import curate

    rows = [_doc("contaminated", BASE)]
    for i in range(2):
        rows.append(_doc(f"a-{i}", " ".join(
            f"alpha{j % 11} quality{(i + j) % 7} prose{j % 5} essay{i}x{j}"
            for j in range(30))))
    for i in range(2):
        rows.append(_doc(f"b-{i}", " ".join(
            f"spam{j % 3} zzz{(i * j) % 13} noise{j % 2} junk{i}y{j}"
            for j in range(30))))
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)
    ev = str(tmp_path / "eval.parquet")
    pq.write_table(
        pa.table({"text": ["benchmark question quoting: " + BASE]}), ev
    )
    tgt = str(tmp_path / "target.parquet")
    pq.write_table(pa.table({"text": [
        " ".join(f"alpha{j % 11} quality{j % 7} prose{j % 5}"
                 for j in range(40)),
    ]}), tgt)
    out = str(tmp_path / "curated")
    funnel = curate(spark, src, out, min_chars=10, min_tokens=5,
                    jaccard=0.99, decon_eval=ev,
                    dsir_target=tgt, dsir_keep_frac=0.5)
    assert funnel["dropped_contaminated"] == 1
    assert funnel["dropped_dsir"] == 2
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {"a-0", "a-1"}
    stages = {s["stage"]: s for s in funnel["stages"]}
    assert stages["decon"]["rows_in"] - stages["decon"]["rows_out"] == 1
    assert stages["dsir_select"]["rows_in"] == 4
    assert stages["dsir_select"]["rows_out"] == 2
    # exactly ONE decon stage despite two downstream counting stages
    assert sum(1 for s in funnel["stages"] if s["stage"] == "decon") == 1
    _assert_ledger(funnel)


def test_curate_kitchen_sink_every_stage_drops_its_offender(spark, tmp_path):
    """ALL optional funnel stages in one run — boilerplate strip, exact
    dedup, near-dup, decon, DSIR, mixture, PII redaction, output
    shuffle — each dropping exactly its planted offender. Pins the
    cross-stage interactions (count attribution, full_text recompute
    after strip, persist boundaries) that single-stage tests miss."""
    from jobs.curate import curate

    FOOTER = "this footer line appears in every corporate document verbatim"

    def a_text(i, n=40, extra=""):
        # register-A: ~2/3 shared register vocab, 1/3 per-doc-unique
        # (pairwise Jaccard ~0.5 — distinct under the 0.85 near-dup
        # gate, but clearly target-registered for DSIR)
        body = " ".join(
            f"alpha{j % 11} quality{j % 7} unique{i}doc{j}"
            for j in range(n)
        )
        return body + (" " + extra if extra else "")

    def b_text(i, n=40):
        return " ".join(
            f"spam{j % 3} zzz{(i * j) % 13} junk{i}y{j}" for j in range(n)
        )

    # all non-mix-target docs the SAME length: DSIR log-weights are
    # SUMS over grams, so a longer doc accumulates more negative mass
    # from its unique grams — length asymmetry would decide the
    # selection instead of the register (first draft of this test
    # planted 270-word A docs vs 120-word junk and DSIR correctly
    # preferred the junk)
    rows = [
        _doc("contaminated", BASE),                     # decon drops
        _doc("exact-a", a_text(90, n=40)),              # exact pair:
        _doc("exact-b", a_text(90, n=40)),              #   drops exact-b
        _doc("near-a", a_text(91, n=40)),               # near pair:
        _doc("near-b", a_text(91, n=40).replace("unique91doc5", "edited")),
        _doc("junk-1", b_text(1)),                      # DSIR drops both
        _doc("junk-2", b_text(2)),
        _doc("good-1", a_text(1, extra="contact john.doe@example.com now")
             + "\n" + FOOTER),                          # PII + footer
        _doc("good-2", a_text(2) + "\n" + FOOTER),
        _doc("good-3", a_text(3) + "\n" + FOOTER),
        _doc("good-4", a_text(4, n=20)),                # shortest: mix drops
    ]
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)
    ev = str(tmp_path / "eval.parquet")
    pq.write_table(
        pa.table({"text": ["benchmark question quoting: " + BASE]}), ev
    )
    tgt = str(tmp_path / "target.parquet")
    # TEN exemplar rows, not one: DSIR is a target/raw ratio, and the
    # raw corpus here is mostly A-register, so a single exemplar's
    # tc~1 cannot beat the rc penalty of raw-common register grams —
    # exemplar mass is what makes the register distinctive
    pq.write_table(pa.table({"text": [
        " ".join(f"alpha{j % 11} quality{j % 7}" for j in range(40))
        for _ in range(10)
    ]}), tgt)

    common = dict(min_chars=10, min_tokens=5, jaccard=0.85,
                  strip_boilerplate=3, decon_eval=ev,
                  dsir_target=tgt, dsir_keep_frac=0.75, redact_pii=True)
    # probe WITHOUT mix/shuffle to size the budget
    probe = curate(spark, src, str(tmp_path / "probe"), **common)
    assert probe["dropped_contaminated"] == 1
    assert probe["dropped_exact_dups"] == 1
    assert probe["dropped_near_dups"] == 1
    assert probe["dropped_dsir"] == 2          # both junk docs
    assert probe["n_curated"] == 6
    total_words = sum(
        r["n_words"]
        for r in spark.read.parquet(str(tmp_path / "probe")).collect()
    )

    out = str(tmp_path / "curated")
    funnel = curate(spark, src, out, **common,
                    mix_budget=total_words - 1,
                    mix_weights={"unknown": 100}, shuffle_seed=7)
    assert funnel["removed_boilerplate_lines"] >= 3
    assert funnel["dropped_contaminated"] == 1
    assert funnel["dropped_exact_dups"] == 1
    assert funnel["dropped_near_dups"] == 1
    assert funnel["dropped_dsir"] == 2
    assert funnel["dropped_mix_budget"] == 1   # the shortest survivor
    assert funnel["n_curated"] == 5
    # arithmetic closes across every selection
    assert (funnel["n_input"]
            == funnel["dropped_extraction_failed"]
            + funnel["dropped_quality"] + funnel["dropped_exact_dups"]
            + funnel["dropped_near_dups"] + funnel["dropped_contaminated"]
            + funnel["dropped_dsir"] + funnel["dropped_mix_budget"]
            + funnel["n_curated"])
    # single attribution: decon counted once, each stage present once
    names = [s["stage"] for s in funnel["stages"]]
    for stage in ("decon", "dsir_select", "mix_plan",
                  "mix_select_redact_write"):
        assert names.count(stage) == 1, stage
    _assert_ledger(funnel)

    kept = spark.read.parquet(out)
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert ids == {"exact-a", "near-a", "good-1", "good-2", "good-3"}
    # shuffle ranks dense 1..5
    ranks = sorted(r.shuffle_rank for r in kept.collect())
    assert ranks == [1, 2, 3, 4, 5]
    # PII scrubbed and footer stripped from the surviving spans
    texts = "\n".join(
        s["text"] for r in kept.collect() for s in r["spans"]
        if s["kind"] == "text"
    )
    assert "[EMAIL]" in texts and "john.doe@example.com" not in texts
    assert FOOTER not in texts


def test_curate_quality_classifier_gate(spark, tmp_path):
    """--quality-exemplars: a labeled exemplar set trains the LR
    filter and the B-register docs are dropped at the 0.5 cutoff;
    drops land in dropped_quality_model and the arithmetic sums."""
    from jobs.curate import curate

    def a(i):
        return " ".join(
            f"alpha{j % 11} quality{(i + j) % 7} prose{j % 5} key{i}k{j}"
            for j in range(30))

    def b(i):
        return " ".join(
            f"spam{j % 3} zzz{(i * j) % 13} junk{i}y{j}" for j in range(30))

    rows = [_doc(f"a-{i}", a(i)) for i in range(4)]
    rows += [_doc(f"b-{i}", b(i)) for i in range(4)]
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)
    ex = str(tmp_path / "exemplars.parquet")
    pq.write_table(pa.table({
        "text": [a(100 + i) for i in range(8)] + [b(100 + i) for i in range(8)],
        "label": [1] * 8 + [0] * 8,
    }), ex)
    out = str(tmp_path / "curated")
    funnel = curate(spark, src, out, min_chars=10, min_tokens=5,
                    jaccard=0.99, quality_exemplars=ex)
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {f"a-{i}" for i in range(4)}
    assert funnel["dropped_quality_model"] == 4
    stages = {s["stage"]: s for s in funnel["stages"]}
    assert stages["quality_classifier"]["rows_in"] == 8
    assert stages["quality_classifier"]["rows_out"] == 4
    assert (funnel["n_input"]
            == funnel["dropped_extraction_failed"]
            + funnel["dropped_quality"] + funnel["dropped_exact_dups"]
            + funnel["dropped_near_dups"] + funnel["dropped_quality_model"]
            + funnel["n_curated"])
    _assert_ledger(funnel)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="quality_threshold"):
        curate(spark, str(tmp_path / "nope"), out,
               quality_exemplars=ex, quality_threshold=1.5)


def test_curate_reads_each_exemplar_parquet_once(spark, tmp_path, monkeypatch):
    """Each exemplar parquet is read once per curate() run: the column
    check, the label probe and the stage that uses the exemplars share
    one frame (every read infers the schema in a Spark job of its own)."""
    from collections import Counter

    from pyspark.sql.readwriter import DataFrameReader

    from jobs.curate import curate

    rows = [_doc(f"a-{i}", f"{BASE} variant{i} " * 2) for i in range(4)]
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), src)
    ev = str(tmp_path / "eval.parquet")
    pq.write_table(pa.table({"text": ["an unrelated held out evaluation text"]}), ev)
    ex = str(tmp_path / "exemplars.parquet")
    pq.write_table(pa.table({
        "text": [f"{BASE} good{i}" for i in range(4)]
        + [f"spam junk zzz{i} " * 5 for i in range(4)],
        "label": [1] * 4 + [0] * 4,
    }), ex)

    reads: Counter = Counter()
    parquet = DataFrameReader.parquet

    def counting_parquet(self, *paths, **options):
        reads.update(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counting_parquet)
    funnel = curate(spark, src, str(tmp_path / "curated"), min_chars=10,
                    min_tokens=5, jaccard=0.99, decon_eval=ev,
                    quality_exemplars=ex)
    assert reads[ev] == 1, reads
    assert reads[ex] == 1, reads
    _assert_ledger(funnel)


def test_curate_exemplar_contracts_fail_fast(spark, tmp_path):
    """Review-found: a bad side-input path/schema/label domain must
    raise BEFORE the funnel runs — probed with a nonexistent corpus
    path so reaching any corpus action would raise AnalysisException
    instead of the expected ValueError."""
    import pytest as _pytest

    from jobs.curate import curate

    missing = str(tmp_path / "nope.parquet")
    out = str(tmp_path / "o")
    # schema contract: no `text` column
    bad_schema = str(tmp_path / "bad.parquet")
    pq.write_table(pa.table({"body": ["x"]}), bad_schema)
    with _pytest.raises(ValueError, match="must have columns"):
        curate(spark, missing, out, decon_eval=bad_schema)
    with _pytest.raises(ValueError, match="must have columns"):
        curate(spark, missing, out, dsir_target=bad_schema)
    # label domain: {0,1,2} would fit multinomial and crash at scoring
    bad_labels = str(tmp_path / "labels.parquet")
    pq.write_table(pa.table({"text": ["a", "b", "c"],
                             "label": [0, 1, 2]}), bad_labels)
    with _pytest.raises(ValueError, match="0 or 1"):
        curate(spark, missing, out, quality_exemplars=bad_labels)


def test_curate_fractional_label_rejected(spark, tmp_path):
    """Round-6 advice (low): the label guard used to cast to int before
    isin(0, 1), so a fractional label like 0.9 truncated to 0 and
    passed, then crashed hours later at LogisticRegression.fit. The
    guard must reject it up front, without truncation."""
    import pytest as _pytest

    from jobs.curate import curate

    missing = str(tmp_path / "nope.parquet")
    out = str(tmp_path / "o")
    frac_labels = str(tmp_path / "frac.parquet")
    pq.write_table(
        pa.table({"text": ["a", "b"], "label": [0.9, 1.0]}), frac_labels
    )
    with _pytest.raises(ValueError, match="0 or 1"):
        curate(spark, missing, out, quality_exemplars=frac_labels)


@pytest.mark.parametrize("ansi", ["false", "true"])
def test_curate_uncastable_label_rejected(spark, tmp_path, ansi):
    """An uncastable label like 'yes' must hit the label guard in both
    ANSI modes: a plain cast gives NULL under ANSI off (and NULL slips
    past ~isin), and raises a cast error under ANSI on."""
    from jobs.curate import curate

    missing = str(tmp_path / "nope.parquet")
    out = str(tmp_path / "o")
    word_labels = str(tmp_path / "words.parquet")
    pq.write_table(
        pa.table({"text": ["a", "b"], "label": ["1", "yes"]}), word_labels
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        with pytest.raises(ValueError, match="0 or 1"):
            curate(spark, missing, out, quality_exemplars=word_labels)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_curate_mix_stratum_typo_fails_fast(spark, tmp_path):
    """Round-6 advice (low): a typo'd --mix-stratum column must raise
    right after extraction, not after the whole funnel has executed."""
    import pytest as _pytest

    from docling_pdf_spark.fixtures import write_corpus
    from jobs.curate import curate

    src = str(tmp_path / "docs.parquet")
    write_corpus(src, 20)
    out = str(tmp_path / "o")
    with _pytest.raises(ValueError, match="mix-stratum"):
        curate(spark, src, out, mix_budget=100,
               mix_weights={"en": 1}, mix_stratum="prodcuer")


def _python_task_sizes(spark, after: int, marker: str) -> list[str]:
    """The 'data sent to Python workers' value of every MapInArrow node
    whose description contains `marker`, in the SQL executions after
    `after`. Spark formats it as 'total (min, med, max ...)\\n<total>
    (<min>, <med>, <max> ...)' when more than one task reported it."""
    from tests.test_resume import _last_execution_id

    _last_execution_id(spark)  # drain the listener bus
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    out = []
    for i in range(execs.size()):
        eid = execs.apply(i).executionId()
        if eid <= after:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if node.name().strip() != "MapInArrow" or marker not in node.desc():
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                v = values.get(m.accumulatorId())
                if m.name() == "data sent to Python workers" and v.isDefined():
                    out.append(v.get())
    return out


def test_curate_one_row_group_input_runs_python_stages_on_every_core(spark, tmp_path):
    """A one-row-group input is spread before extraction, and the
    exact-dedup shuffle (a few hundred KiB) is not coalesced into one
    partition: the extraction kernel and the MinHash signature kernel
    each run on more than one task, every one of them fed documents.
    Near-dups are planted so the pair side is not empty: AQE would
    replace an empty one, MinHash nodes and all, in the final plan."""
    from docling_pdf_spark.fixtures import gen_documents
    from jobs.curate import curate
    from tests.test_resume import _last_execution_id

    docs = gen_documents(120).to_pylist()
    for d in docs[20:30]:
        spans = [dict(s) for s in d["spans"]]
        text = next((s for s in spans if s["kind"] == "text"), None)
        if text is not None and text["text"]:
            text["text"] += " nonce"
            docs.append({"doc_id": "dup-" + d["doc_id"], "spans": spans})
    src = str(tmp_path / "docs.parquet")
    pq.write_table(pa.Table.from_pylist(docs, schema=DOCUMENTS_PA), src)
    assert pq.ParquetFile(src).num_row_groups == 1
    before = _last_execution_id(spark)
    funnel = curate(spark, src, str(tmp_path / "curated"))
    assert funnel["dropped_near_dups"] > 0
    for marker in ("_chunked_extract_arrow", "mh_0"):
        sizes = _python_task_sizes(spark, before, marker)
        spread = [
            v for v in sizes
            if v.startswith("total (min, med, max")
            and not v.split("\n")[1].split("(")[1].startswith("0.0 B")
        ]
        assert spread, (marker, sizes)
