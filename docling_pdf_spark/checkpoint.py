"""Per-partition checkpoint/resume manifests (SURVEY.md §4.3.2).

Replaces the reference's per-task Redis state machine
(docling-pdf `redis_manager.py:40-139`: create → progress upserts →
complete, all non-atomic read-modify-writes with a TTL) with ONE atomic
manifest per input bucket: write-temp-then-rename JSON under
``{checkpoint_dir}/bucket={k}/manifest.json``. A bucket is `done` iff
its manifest exists with status 'done' — resume simply skips those
buckets (anti-join semantics via partition pruning), and output is
re-written per-bucket with dynamic partition overwrite so retries are
idempotent.

Rename atomicity holds on local/HDFS-like filesystems. Object stores
such as S3 have no atomic rename; there the manifest wants a table
upsert (MERGE INTO a `_progress` table in an Iceberg catalog), which
waits until an Iceberg runtime jar is in the repository.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import asdict, dataclass, field

from docling_pdf_spark import __version__


@dataclass
class BucketManifest:
    partition_id: int
    status: str  # 'done' | 'failed'
    n_docs: int = 0
    n_ok: int = 0
    n_failed: int = 0
    metrics: dict[str, int] = field(default_factory=dict)
    lineage: dict[str, str] = field(default_factory=dict)
    started_at: str | None = None
    finished_at: str | None = None


class ProgressLog:
    def __init__(self, checkpoint_dir: str, key: str = "bucket") -> None:
        """`key` names the partition-id domain (default 'bucket' for the
        batch job; the streaming sink uses 'ingest_batch') — manifests
        from different domains can never masquerade as each other even
        if a caller points two jobs at one directory."""
        self.dir = checkpoint_dir
        self.key = key
        os.makedirs(checkpoint_dir, exist_ok=True)

    def _path(self, bucket: int) -> str:
        return os.path.join(self.dir, f"{self.key}={bucket}", "manifest.json")

    def done_buckets(self) -> set[int]:
        done: set[int] = set()
        for m in self.all_manifests():
            if m.status == "done":
                done.add(m.partition_id)
        return done

    def all_manifests(self) -> list[BucketManifest]:
        out: list[BucketManifest] = []
        if not os.path.isdir(self.dir):
            return out
        for name in sorted(os.listdir(self.dir)):
            p = os.path.join(self.dir, name, "manifest.json")
            if name.startswith(f"{self.key}=") and os.path.isfile(p):
                with open(p, encoding="utf-8") as f:
                    out.append(BucketManifest(**json.load(f)))
        return out

    def commit(self, manifest: BucketManifest) -> None:
        """Atomic temp-write + rename (replaces the reference's
        read-modify-write SETEX race, redis_manager.py:83-100)."""
        final = self._path(manifest.partition_id)
        os.makedirs(os.path.dirname(final), exist_ok=True)
        tmp = f"{final}.{uuid.uuid4().hex}.tmp"
        payload = asdict(manifest)
        payload["lineage"] = {"code_version": __version__, **manifest.lineage}
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(payload, f, sort_keys=True)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, final)
