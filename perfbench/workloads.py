"""The benchmark's workloads: seeded inputs, the timed call, and the
correctness gate each repetition must pass.

Every workload writes its inputs under a work directory from the seed
alone; the program only ever sees those files.

* extract_mixed  pipeline.run_extraction over the fixtures corpus
                 (text/html/pdf/media mix, 0.5% oversized docs).
* curate_funnel  jobs.curate.curate: extract, quality gates with the
                 Gopher repetition signals (functions.arrowhash), exact
                 dedup, MinHash near-dup clusters, 8-gram decontamination.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

EXTRACT_MIXED_DOCS = 2400
CURATE_BASE_DOCS = 500
CURATE_DUP_RATE = 0.4
CURATE_EVAL_DOCS = 50
N_BUCKETS = 16
BUCKETS_PER_COMMIT = 4

class Mismatch(Exception):
    """A repetition's output disagrees with what the workload expects."""


def _source_hash(root: str) -> str:
    """Hash of everything an oracle digest depends on: the kernels, the
    corpus generator, the schemas and this file's own generators."""
    pkg = os.path.join(root, "docling_pdf_spark")
    files = sorted(glob.glob(os.path.join(pkg, "core", "*.py"))) + [
        os.path.join(pkg, name) for name in ("fixtures.py", "oracle.py", "schemas.py")
    ] + [os.path.abspath(__file__)]
    h = hashlib.sha256()
    for path in files:
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def output_digest(table: pa.Table) -> str:
    """Order-free content digest of extracted rows: every output column,
    spans included, one canonical JSON line per doc in doc_id order."""
    from docling_pdf_spark.core.extract import OUTPUT_COLUMNS

    h = hashlib.sha256()
    for row in table.select(OUTPUT_COLUMNS).sort_by("doc_id").to_pylist():
        if row["metadata"] is not None:
            row["metadata"] = sorted(row["metadata"])
        h.update(json.dumps(row, ensure_ascii=False, sort_keys=True).encode())
        h.update(b"\n")
    return h.hexdigest()


def oracle_digest(documents: pa.Table) -> str:
    """Digest of oracle.run_oracle on the same documents."""
    from docling_pdf_spark.oracle import run_oracle
    from docling_pdf_spark.schemas import EXTRACTED_PA

    frame = run_oracle(documents)
    frame["metadata"] = [None if m is None else list(m.items()) for m in frame["metadata"]]
    return output_digest(pa.Table.from_pandas(frame, schema=EXTRACTED_PA, preserve_index=False))


def _check_ids(table: pa.Table, expect: int, what: str) -> None:
    n_ids = len(set(table.column("doc_id").to_pylist()))
    if table.num_rows != expect or n_ids != expect:
        raise Mismatch(f"{what}: {table.num_rows} rows, {n_ids} distinct doc_ids, expected {expect}")


class Workload:
    name = ""

    def __init__(self, root: str, work: str, seed: int, cores: int) -> None:
        self.root, self.work, self.seed, self.cores = root, work, seed, cores
        self.input = os.path.join(work, "input", "documents.parquet")
        self.n_docs = 0
        self.documents: pa.Table | None = None

    def prepare(self) -> None:
        raise NotImplementedError

    def run(self, spark, out: str):
        raise NotImplementedError

    def check(self, out: str, result) -> int:
        """Raise Mismatch on a wrong output; return the failed-doc count."""
        raise NotImplementedError

    def _write_input(self, table: pa.Table, row_group_size: int = 2048) -> None:
        os.makedirs(os.path.dirname(self.input), exist_ok=True)
        pq.write_table(table, self.input, row_group_size=row_group_size)
        self.documents = table
        self.n_docs = table.num_rows


class ExtractMixed(Workload):
    """run_extraction with 16 buckets in 4 commit groups, salt_mode='auto'."""

    name = "extract_mixed"

    def prepare(self) -> None:
        from docling_pdf_spark.fixtures import gen_documents

        # 256-row row groups spread the light cohort over every core's
        # scan split, so salt_mode='auto' resolves to 'heavy'
        self._write_input(gen_documents(EXTRACT_MIXED_DOCS, seed=self.seed), row_group_size=256)
        self.expected = self._expected_digest()

    def _expected_digest(self) -> str:
        cache = os.path.join(self.root, ".perfbench_cache")
        key = f"oracle-{self.name}-{self.n_docs}-{self.seed}-{_source_hash(self.root)}.json"
        path = os.path.join(cache, key)
        if os.path.exists(path):
            with open(path, encoding="utf-8") as f:
                return json.load(f)["digest"]
        digest = oracle_digest(self.documents)
        os.makedirs(cache, exist_ok=True)
        with open(path + ".tmp", "w", encoding="utf-8") as f:
            json.dump({"digest": digest}, f)
        os.replace(path + ".tmp", path)
        return digest

    def run(self, spark, out: str):
        from docling_pdf_spark import pipeline

        return pipeline.run_extraction(
            spark,
            self.input,
            os.path.join(out, "extracted"),
            os.path.join(out, "checkpoint"),
            n_buckets=N_BUCKETS,
            num_partitions=3 * self.cores,
            buckets_per_commit=BUCKETS_PER_COMMIT,
            salt_mode="auto",
        )

    def check(self, out: str, result) -> int:
        table = pq.read_table(os.path.join(out, "extracted"), partitioning="hive")
        _check_ids(table, self.n_docs, self.name)
        if output_digest(table) != self.expected:
            raise Mismatch(f"{self.name}: output digest differs from the serial oracle")
        manifests = result.all_manifests()
        if len(manifests) != N_BUCKETS or sum(m.n_docs for m in manifests) != self.n_docs:
            raise Mismatch(f"{self.name}: checkpoint manifests do not cover the input")
        return table.num_rows - sum(table.column("extraction_successful").to_pylist())


class CurateFunnel(Workload):
    name = "curate_funnel"

    def prepare(self) -> None:
        from docling_pdf_spark.fixtures import gen_documents
        from docling_pdf_spark.schemas import DOCUMENTS_PA

        base = gen_documents(CURATE_BASE_DOCS, seed=self.seed).to_pylist()
        rng = random.Random(self.seed + 1)
        docs, planted = list(base), 0
        want = int(CURATE_BASE_DOCS * CURATE_DUP_RATE)
        evals: list[dict] = []
        step = max(1, len(base) // CURATE_EVAL_DOCS)
        for i, d in enumerate(base):
            texts = [k for k, s in enumerate(d["spans"])
                     if s["kind"] == "text" and len((s["text"] or "").split()) >= 8]
            if not texts:
                continue
            if i % step == 0 and len(evals) < CURATE_EVAL_DOCS:
                evals.append({"doc_id": f"eval-{d['doc_id']}", "text": d["spans"][texts[0]]["text"]})
            if planted < want:
                spans = [dict(s) for s in d["spans"]]
                words = spans[texts[0]]["text"].split()
                words[rng.randrange(len(words))] = f"nonce{planted}"
                spans[texts[0]]["text"] = " ".join(words)
                docs.append({"doc_id": f"dup-{d['doc_id']}", "spans": spans})
                planted += 1
        self._write_input(pa.Table.from_pylist(docs, schema=DOCUMENTS_PA))
        self.eval_path = os.path.join(self.work, "input", "eval.parquet")
        pq.write_table(pa.Table.from_pylist(evals), self.eval_path)
        self.funnel: dict | None = None

    def run(self, spark, out: str):
        import jobs.curate as curate_job

        return curate_job.curate(
            spark,
            self.input,
            os.path.join(out, "curated"),
            near_dup="minhash",
            jaccard=0.8,
            cluster_resolve=True,
            decon_eval=self.eval_path,
            decon_gram_words=8,
            # Gopher's thresholds; setting them runs the Arrow hash kernels
            max_dup_line_frac=0.3,
            max_top_bigram_frac=0.2,
        )

    def check(self, out: str, result) -> int:
        counts = {k: v for k, v in result.items() if k.startswith(("n_", "dropped_"))}
        if self.funnel is None:
            self.funnel = counts
        elif counts != self.funnel:
            raise Mismatch(f"{self.name}: funnel {counts} differs from {self.funnel}")
        if counts["n_input"] != self.n_docs:
            raise Mismatch(f"{self.name}: n_input {counts['n_input']} != {self.n_docs}")
        dropped = sum(v for k, v in counts.items() if k.startswith("dropped_"))
        if counts["n_input"] - dropped != counts["n_curated"]:
            raise Mismatch(f"{self.name}: funnel does not add up: {counts}")
        table = pq.read_table(os.path.join(out, "curated"), columns=["doc_id"])
        _check_ids(table, counts["n_curated"], self.name)
        inputs = set(self.documents.column("doc_id").to_pylist())
        if not set(table.column("doc_id").to_pylist()) <= inputs:
            raise Mismatch(f"{self.name}: curated doc_ids not in the input")
        return counts["dropped_extraction_failed"]


WORKLOADS = {w.name: w for w in (ExtractMixed, CurateFunnel)}


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
