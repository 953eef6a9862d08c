"""Snapshot-checkpointed, resumable builds (manifest + stage gating).

The reference's MUTATION audit log (schema.sql:33-47) and its
all-or-nothing index rebuild (EmailIndexGenerator.java:45-50) map to
snapshot lineage in our engine (SURVEY.md §1.4).  The primary target
format is Iceberg, whose catalog is not available in this sandbox; the
engine therefore ships a thin snapshot layer over Parquet directories
with the same API shape (snapshot id + per-stage lineage + metrics), so
swapping in an Iceberg catalog is a config change, not a code change:
each completed stage == a committed snapshot; resume skips committed
stages (kill-and-resume reproduces byte-identical postings —
FIXTURES.md §6.3).  ``Manifest.one_write`` groups several commits into
one atomic write (a driver-staged build's stages and stats).

Layout under the index directory::

    _snapshots/manifest.json   # snapshot id, stage ledger, global stats
    doc_index/   doc_stats/   postings/   build_metrics/   (parquet)
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

MANIFEST_DIR = "_snapshots"
MANIFEST = "manifest.json"


@dataclass
class Manifest:
    root: str
    snapshot_id: str = ""
    stages: dict[str, dict[str, Any]] = field(default_factory=dict)
    stats: dict[str, Any] = field(default_factory=dict)
    params: dict[str, Any] = field(default_factory=dict)
    # commit serialization: the builder overlaps independent stage
    # writes (doc_stats ∥ postings) in threads; flushes must not race
    _lock: threading.Lock = field(
        default_factory=threading.Lock, repr=False, compare=False
    )
    # inside one_write(): flushes are held back until the block exits
    _held: bool = field(default=False, repr=False, compare=False)

    @property
    def path(self) -> str:
        return os.path.join(self.root, MANIFEST_DIR, MANIFEST)

    @classmethod
    def load_or_create(cls, root: str, params: dict[str, Any] | None = None) -> "Manifest":
        m = cls(root=root)
        if os.path.exists(m.path):
            with open(m.path) as f:
                data = json.load(f)
            m.snapshot_id = data.get("snapshot_id", "")
            m.stages = data.get("stages", {})
            m.stats = data.get("stats", {})
            m.params = data.get("params", {})
            if params and m.params and params != m.params:
                raise ValueError(
                    "existing index was built with different params; "
                    f"on disk={m.params} requested={params}"
                )
        else:
            m.snapshot_id = uuid.uuid4().hex[:16]
            m.params = params or {}
            m._flush()
        return m

    @contextmanager
    def one_write(self):
        """Hold back every manifest write inside the block and commit
        what it recorded in ONE atomic write when it exits normally.  An
        exception leaves the file on disk as it was before the block: a
        crash commits none of the block's stages or stats."""
        self._held = True
        try:
            yield self
        finally:
            self._held = False
        with self._lock:
            self._flush()

    def _flush(self) -> None:
        if self._held:
            return
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "snapshot_id": self.snapshot_id,
                    "stages": self.stages,
                    "stats": self.stats,
                    "params": self.params,
                },
                f,
                indent=2,
                sort_keys=True,
            )
        os.replace(tmp, self.path)  # atomic commit, crash-safe

    def is_complete(self, stage: str) -> bool:
        st = self.stages.get(stage)
        return bool(st and st.get("complete") and os.path.exists(self.stage_path(stage)))

    def stage_path(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def commit_stage(self, stage: str, **info: Any) -> None:
        with self._lock:
            self.stages[stage] = {"complete": True, "committed_at": time.time(), **info}
            self._flush()

    def set_stats(self, **stats: Any) -> None:
        with self._lock:
            self.stats.update(stats)
            self._flush()

    def commit_stage_with_stats(
        self, stage: str, stats: dict[str, Any], **info: Any
    ) -> None:
        """Stats update + stage commit in ONE atomic manifest write — the
        ingest publish point: a reader must never observe the new corpus
        statistics without the stage (or vice versa), so both land in
        the same os.replace."""
        with self._lock:
            self.stats.update(stats)
            self.stages[stage] = {"complete": True, "committed_at": time.time(), **info}
            self._flush()
