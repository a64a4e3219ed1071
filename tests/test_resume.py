"""Checkpoint/resume: kill after k commit groups, rerun, assert no
duplicate/missing doc_ids and completed buckets not reprocessed
(SURVEY.md §5.2.4; north_rule 'resumable from checkpoint with
per-partition lineage + metrics')."""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest

from docling_pdf_spark.checkpoint import ProgressLog
from docling_pdf_spark.fixtures import write_corpus
from docling_pdf_spark.pipeline import run_extraction

N_DOCS = 120
N_BUCKETS = 8


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("resume-corpus") / "documents.parquet")
    write_corpus(path, N_DOCS)
    return path


def _fail_third_group_write(monkeypatch):
    """Crash run_extraction mid-job: the third commit group's write
    raises, so two groups are committed and the third is not written."""
    import docling_pdf_spark.sources.io as sio

    real_write = sio.idempotent_partition_overwrite
    paths = []

    def failing_write(df, partition_cols, path):
        paths.append(path)
        if len(paths) == 3:
            raise RuntimeError("injected failure")
        real_write(df, partition_cols, path)

    monkeypatch.setattr(sio, "idempotent_partition_overwrite", failing_write)


def test_kill_and_resume_idempotent(spark, corpus, tmp_path, monkeypatch):
    out = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "ckpt")

    # first run dies after 2 commit groups (4 of 8 buckets done)
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="injected failure"):
        _fail_third_group_write(m)
        run_extraction(
            spark, corpus, out, ckpt, n_buckets=N_BUCKETS, buckets_per_commit=2,
        )
    log = ProgressLog(ckpt)
    done_first = log.done_buckets()
    assert len(done_first) == 4

    # record manifest mtimes to prove completed buckets are untouched
    mtimes = {
        b: os.path.getmtime(os.path.join(ckpt, f"bucket={b}", "manifest.json"))
        for b in done_first
    }

    # resume to completion
    run_extraction(spark, corpus, out, ckpt, n_buckets=N_BUCKETS, buckets_per_commit=2)
    assert ProgressLog(ckpt).done_buckets() == set(range(N_BUCKETS))
    for b, t in mtimes.items():
        assert os.path.getmtime(os.path.join(ckpt, f"bucket={b}", "manifest.json")) == t

    # output complete, no dups
    result = spark.read.parquet(out).select("doc_id").toPandas()["doc_id"]
    expected = pd.read_parquet(corpus)["doc_id"]
    assert sorted(result.tolist()) == sorted(expected.tolist())
    assert result.is_unique


def test_manifest_lineage_and_metrics(spark, corpus, tmp_path):
    out = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "ckpt")
    run_extraction(spark, corpus, out, ckpt, n_buckets=4, input_snapshot="snap-1")

    manifests = ProgressLog(ckpt).all_manifests()
    assert {m.partition_id for m in manifests} == {0, 1, 2, 3}
    total_docs = sum(m.n_docs for m in manifests)
    assert total_docs == len(pd.read_parquet(corpus))
    for m in manifests:
        assert m.status == "done"
        assert m.lineage["input_snapshot"] == "snap-1"
        assert m.lineage["partition_key"] == f"bucket={m.partition_id}"
        assert m.lineage["code_version"]
        assert m.started_at and m.finished_at
        assert set(m.metrics) == {"chars", "words", "pages"}
        assert m.n_ok + m.n_failed == m.n_docs

    # manifest JSON is valid and atomic-rename left no temp files
    for b in range(4):
        d = os.path.join(ckpt, f"bucket={b}")
        assert os.listdir(d) == ["manifest.json"]
        json.load(open(os.path.join(d, "manifest.json")))


def test_noop_when_all_buckets_done(spark, corpus, tmp_path):
    out = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "ckpt")
    run_extraction(spark, corpus, out, ckpt, n_buckets=4)
    before = {
        b: os.path.getmtime(os.path.join(ckpt, f"bucket={b}", "manifest.json"))
        for b in range(4)
    }
    run_extraction(spark, corpus, out, ckpt, n_buckets=4)  # resume = no-op
    after = {
        b: os.path.getmtime(os.path.join(ckpt, f"bucket={b}", "manifest.json"))
        for b in range(4)
    }
    assert before == after


def test_completeness_guard_rejects_empty_bucket(spark, corpus, tmp_path, monkeypatch):
    """Reference main.py:232-236 analog (completed task with no result
    → 500): a bucket whose input slice is non-empty must never be
    committed 'done' with zero output rows — inject an extractor that
    silently drops everything and assert the commit refuses."""
    import docling_pdf_spark.pipeline as pl

    real_extract = pl.extract

    def dropping_extract(df, num_partitions=None, salt_mode="auto"):
        out = real_extract(df, num_partitions=num_partitions, salt_mode=salt_mode)
        return out.where("1 = 0")  # simulate a swallowed-output bug

    monkeypatch.setattr(pl, "extract", dropping_extract)
    out = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(RuntimeError, match="completeness guard"):
        run_extraction(spark, corpus, out, ckpt, n_buckets=4)
    # nothing was marked done: resume will reprocess every bucket
    assert ProgressLog(ckpt).done_buckets() == set()

    # and the real pipeline completes the same job untouched
    monkeypatch.setattr(pl, "extract", real_extract)
    run_extraction(spark, corpus, out, ckpt, n_buckets=4)
    assert ProgressLog(ckpt).done_buckets() == {0, 1, 2, 3}


def test_lineage_guard_rejects_changed_input(spark, corpus, tmp_path):
    """A completed bucket from a different input snapshot must abort the
    resume instead of silently stitching two inputs together."""
    import shutil

    out = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "ckpt")
    moved = str(tmp_path / "documents.parquet")
    shutil.copy(corpus, moved)
    run_extraction(spark, moved, out, ckpt, n_buckets=4)

    # mutate the input file (append a byte → fingerprint changes)
    with open(moved, "ab") as f:
        f.write(b"\x00")
    with pytest.raises(RuntimeError, match="lineage mismatch"):
        run_extraction(spark, moved, out, ckpt, n_buckets=4)


# ---------------------------------------------------------------------------
# heavy mode: each commit group's heavy exchange is sized to its giants
# ---------------------------------------------------------------------------

# giants per commit group (buckets_per_commit=2 over 8 buckets): uneven,
# one group with none, one with more giants than HEAVY_PARTITIONS
GIANTS_PER_GROUP = {0: 5, 1: 0, 2: 1, 3: 2}
HEAVY_PARTITIONS = 4


def _planted_giants(spark, per_group: dict[int, int], buckets_per_commit: int) -> list[dict]:
    """Text-only giants, per_group[g] of them in commit group g (groups of
    buckets_per_commit consecutive buckets out of N_BUCKETS)."""
    from pyspark.sql import functions as F

    from docling_pdf_spark.conf import OVERSIZE_COST_BUCKET_BYTES

    ids = [f"giant-{i:04d}" for i in range(200)]
    bucket = {
        r["doc_id"]: r["b"]
        for r in spark.createDataFrame([(d,) for d in ids], "doc_id string")
        .select("doc_id", F.pmod(F.xxhash64("doc_id"), F.lit(N_BUCKETS)).alias("b"))
        .collect()
    }
    giants = []
    for group, want in per_group.items():
        pick = [d for d in ids if bucket[d] // buckets_per_commit == group][:want]
        giants += [
            {"doc_id": d, "spans": [{
                "kind": "text", "media_ref": None, "offset": 0,
                "text": f"{d} " + "lorem ipsum dolor " * (OVERSIZE_COST_BUCKET_BYTES // 18 + 1),
            }]}
            for d in pick
        ]
    return giants


def _interleave(light: list[dict], giants: list[dict]) -> list[dict]:
    """The giants spread through the light docs (different row groups)."""
    rows = []
    step = len(light) // len(giants)
    for i, g in enumerate(giants):
        rows += light[i * step:(i + 1) * step] + [g]
    return rows + light[len(giants) * step:]


@pytest.fixture(scope="module")
def uneven_corpus(spark, tmp_path_factory):
    """The light fixture corpus plus text-only giants, placed by bucket so
    their count differs per commit group."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_pdf_spark.fixtures import gen_documents
    from docling_pdf_spark.schemas import DOCUMENTS_PA

    giants = _planted_giants(spark, GIANTS_PER_GROUP, 2)
    rows = _interleave(gen_documents(N_DOCS).to_pylist(), giants)
    path = str(tmp_path_factory.mktemp("uneven-corpus") / "documents.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), path, row_group_size=16)
    return path


def test_heavy_exchange_sized_per_commit_group(spark, uneven_corpus, tmp_path, monkeypatch):
    """Each group's heavy round-robin gets min(num_partitions, giants)
    partitions, gathered first only when the group has at most
    num_partitions giants; a group without giants plans no Union and no
    Exchange (so no second input scan and no empty Python tasks)."""
    import docling_pdf_spark.pipeline as pl
    from docling_pdf_spark.plans import formatted_plan

    real_extract = pl.extract
    plans = []

    def recording_extract(df, num_partitions=None, salt_mode="auto"):
        out = real_extract(df, num_partitions=num_partitions, salt_mode=salt_mode)
        plans.append(formatted_plan(out))
        return out

    monkeypatch.setattr(pl, "extract", recording_extract)
    run_extraction(
        spark, uneven_corpus, str(tmp_path / "extracted"), str(tmp_path / "ckpt"),
        n_buckets=N_BUCKETS, buckets_per_commit=2,
        num_partitions=HEAVY_PARTITIONS, salt_mode="heavy",
    )
    assert len(plans) == len(GIANTS_PER_GROUP)
    for plan, g in zip(plans, GIANTS_PER_GROUP.values()):
        if g == 0:
            assert "Union" not in plan and "Exchange" not in plan
            continue
        assert "Union" in plan
        if g > 1:
            assert f"RoundRobinPartitioning({min(HEAVY_PARTITIONS, g)})" in plan
        # the formatted plan names each Exchange twice (tree + details):
        # one round-robin (a single-partition one for one giant), or a
        # gather into a single partition, then a round-robin
        gathered = 1 < g <= HEAVY_PARTITIONS
        assert plan.count("Exchange") == (4 if gathered else 2)
        assert ("SinglePartition" in plan) == (gathered or g == 1)


def test_uneven_giants_kill_resume_equals_oracle(
    spark, uneven_corpus, tmp_path, monkeypatch
):
    """Heavy mode on giants spread unevenly over buckets, killed after two
    commit groups and resumed: every bucket is committed exactly once, and
    the output and per-bucket manifests equal the serial oracle's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_pdf_spark.oracle import run_oracle
    from docling_pdf_spark.schemas import EXTRACTED_PA

    out = str(tmp_path / "extracted")
    ckpt = str(tmp_path / "ckpt")
    kw = dict(n_buckets=N_BUCKETS, buckets_per_commit=2,
              num_partitions=HEAVY_PARTITIONS, salt_mode="heavy")
    with monkeypatch.context() as m, pytest.raises(RuntimeError, match="injected failure"):
        _fail_third_group_write(m)
        run_extraction(spark, uneven_corpus, out, ckpt, **kw)
    done_first = ProgressLog(ckpt).done_buckets()
    assert done_first == {0, 1, 2, 3}
    mtimes = {
        b: os.path.getmtime(os.path.join(ckpt, f"bucket={b}", "manifest.json"))
        for b in done_first
    }
    run_extraction(spark, uneven_corpus, out, ckpt, **kw)
    for b, t in mtimes.items():
        assert os.path.getmtime(os.path.join(ckpt, f"bucket={b}", "manifest.json")) == t

    got = pq.read_table(out, partitioning="hive").to_pylist()
    bucket_of = {r["doc_id"]: r.pop("bucket") for r in got}
    expected = pa.Table.from_pandas(
        run_oracle(pq.read_table(uneven_corpus)), schema=EXTRACTED_PA, preserve_index=False
    ).to_pylist()
    assert sorted(got, key=lambda r: r["doc_id"]) == expected

    manifests = {m.partition_id: m for m in ProgressLog(ckpt).all_manifests()}
    assert set(manifests) == set(range(N_BUCKETS))
    for b, m in manifests.items():
        rows = [r for r in expected if bucket_of[r["doc_id"]] == b]
        assert m.status == "done"
        assert m.n_docs == len(rows)
        assert m.n_ok == sum(r["extraction_successful"] for r in rows)
        assert m.metrics == {
            "chars": sum(r["n_chars"] or 0 for r in rows),
            "words": sum(r["n_words"] or 0 for r in rows),
            "pages": sum(r["n_pages"] or 0 for r in rows),
        }


# ---------------------------------------------------------------------------
# 1 + k Spark queries: one planning aggregate, then one observed write per
# commit group
# ---------------------------------------------------------------------------


def _last_execution_id(spark) -> int:
    """Highest SQL execution id in the status store, once the listener bus
    has delivered every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((execs.apply(i).executionId() for i in range(execs.size())), default=-1)


@pytest.mark.parametrize("salt_mode", ["heavy", "auto"])
def test_one_query_per_commit_group_plus_planning(spark, uneven_corpus, tmp_path, salt_mode):
    before = _last_execution_id(spark)
    run_extraction(
        spark, uneven_corpus, str(tmp_path / "extracted"), str(tmp_path / "ckpt"),
        n_buckets=N_BUCKETS, buckets_per_commit=2,
        num_partitions=HEAVY_PARTITIONS, salt_mode=salt_mode,
    )
    assert _last_execution_id(spark) - before == 1 + len(GIANTS_PER_GROUP)


def test_stats_observed_in_the_write_stage(spark, uneven_corpus, tmp_path, monkeypatch):
    """The manifest stats are observed on the written frame right above
    the extraction MapInArrow, with no Exchange between them: both run in
    the write's result stage, where a retried task's metrics count once."""
    import docling_pdf_spark.sources.io as sio
    from docling_pdf_spark.plans import formatted_plan

    real_write = sio.idempotent_partition_overwrite
    trees = []

    def recording_write(df, partition_cols, path):
        # the formatted plan's tree, before the per-node details
        trees.append(formatted_plan(df).split("\n\n")[0])
        real_write(df, partition_cols, path)

    monkeypatch.setattr(sio, "idempotent_partition_overwrite", recording_write)
    run_extraction(
        spark, uneven_corpus, str(tmp_path / "extracted"), str(tmp_path / "ckpt"),
        n_buckets=N_BUCKETS, buckets_per_commit=2,
        num_partitions=HEAVY_PARTITIONS, salt_mode="heavy",
    )
    assert len(trees) == len(GIANTS_PER_GROUP)
    for tree, g in zip(trees, GIANTS_PER_GROUP.values()):
        observed, udf = tree.index("CollectMetrics"), tree.index("MapInArrow")
        assert observed < udf
        assert "Exchange" not in tree[observed:udf]
        # the heavy exchange, where there is one, sits below the UDF
        assert ("Exchange" in tree[udf:]) == (g > 0)


# 8 buckets in 2 commit groups; num_partitions 8 asks for >= 2 effective
# light splits, which both layouts below have
AUTO_BUCKETS_PER_COMMIT = 4
AUTO_PARTITIONS = 8


@pytest.fixture(scope="module")
def layout_corpora(spark, tmp_path_factory):
    """The same light docs in two multi-row-group files that scan as
    several splits: sorted by payload cost (each split one cost band),
    and in generation order (well mixed) with one planted giant per
    commit group."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_pdf_spark.fixtures import gen_documents
    from docling_pdf_spark.schemas import DOCUMENTS_PA

    def cost(doc):
        return sum(len(s["text"] or "") for s in doc["spans"] or [])

    light = gen_documents(400).to_pylist()
    giants = _planted_giants(spark, {0: 1, 1: 1}, AUTO_BUCKETS_PER_COMMIT)
    root = tmp_path_factory.mktemp("layouts")
    paths = {}
    for name, rows in (
        ("sorted", sorted(light, key=cost)),
        ("mixed", _interleave(light, giants)),
    ):
        paths[name] = str(root / f"{name}.parquet")
        pq.write_table(
            pa.Table.from_pylist(rows, schema=DOCUMENTS_PA), paths[name], row_group_size=32
        )
    return paths


@pytest.mark.parametrize("layout,verdict", [("sorted", "full"), ("mixed", "heavy")])
def test_auto_salt_mode_through_run_extraction(
    spark, layout_corpora, tmp_path, monkeypatch, layout, verdict
):
    """salt_mode='auto' with a partition count (the production setting):
    every commit group plans the verdict of run_extraction's planning
    aggregate — the full _salt repartition with no Union on the
    cost-sorted file, the heavy Union on the well-mixed one — and
    extract() reaches the same verdict on the same file."""
    import docling_pdf_spark.pipeline as pl
    from docling_pdf_spark.plans import formatted_plan

    real_resolve, real_extract = pl.resolve_salt_mode, pl.extract
    modes, plans = [], []

    def recording_resolve(*args, **kwargs):
        modes.append(real_resolve(*args, **kwargs))
        return modes[-1]

    def recording_extract(df, num_partitions=None, salt_mode="auto"):
        out = real_extract(df, num_partitions=num_partitions, salt_mode=salt_mode)
        plans.append(formatted_plan(out))
        return out

    monkeypatch.setattr(pl, "resolve_salt_mode", recording_resolve)
    monkeypatch.setattr(pl, "extract", recording_extract)
    path = layout_corpora[layout]
    ckpt = str(tmp_path / "ckpt")
    run_extraction(
        spark, path, str(tmp_path / "extracted"), ckpt,
        n_buckets=N_BUCKETS, buckets_per_commit=AUTO_BUCKETS_PER_COMMIT,
        num_partitions=AUTO_PARTITIONS, salt_mode="auto",
    )
    assert modes == [verdict]
    assert len(plans) == N_BUCKETS // AUTO_BUCKETS_PER_COMMIT
    # the other entry point reaches the same verdict through the same
    # module-level resolve_salt_mode, and plans the same mode
    pl.extract(spark.read.parquet(path), num_partitions=AUTO_PARTITIONS)
    assert modes == [verdict, verdict]
    for plan in plans:  # every commit group's, then extract()'s
        if verdict == "full":
            assert "_salt" in plan and "Union" not in plan
        else:
            assert "Union" in plan and "_salt" not in plan
    manifests = ProgressLog(ckpt).all_manifests()
    assert sum(m.n_docs for m in manifests) == spark.read.parquet(path).count()


@pytest.mark.parametrize("num_partitions", [None, HEAVY_PARTITIONS])
def test_run_extraction_rejects_unknown_salt_mode(spark, corpus, tmp_path, num_partitions):
    ckpt = str(tmp_path / "ckpt")
    for mode in ("bogus", "none"):
        with pytest.raises(ValueError, match="unknown salt_mode"):
            run_extraction(
                spark, corpus, str(tmp_path / "extracted"), ckpt,
                n_buckets=4, num_partitions=num_partitions, salt_mode=mode,
            )
    assert ProgressLog(ckpt).done_buckets() == set()
