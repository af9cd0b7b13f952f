"""Build lineage + checkpoint-resume manifests: the one record of what
an index directory holds.

Every stage that writes an index table (the seven IndexBuilder stages,
the dump restore's, and ``blocks``) records its fingerprint, wall
seconds, completion time and output path in ``manifest.json`` at the
index root (stats adds ``docs_count``, docs a digest of the input_id;
no stage records rows, bytes or jobs). The path is relative to the
root, so a copied index keeps its manifest and size. A stage is
complete when its entry carries the asked-for fingerprint and its
output is whole: a directory with Spark's ``_SUCCESS`` marker, or an
existing file. A re-run with the same fingerprint skips completed
stages — the resumability contract of the north rule: a 100 TB build
that dies at stage 4 resumes at stage 4, not at zero.
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable


@dataclass
class BuildManifest:
    root: str
    entries: dict[str, dict] = field(default_factory=dict)
    # guards entries mutation + save: independent stages may complete
    # concurrently (indexer overlaps the postings and docmeta chains)
    _lock: threading.Lock = field(
        default_factory=threading.Lock, repr=False, compare=False
    )

    @property
    def path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    @classmethod
    def load(cls, root: str) -> "BuildManifest":
        m = cls(root=root)
        try:
            with open(m.path) as f:
                m.entries = json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            m.entries = {}
        return m

    def save(self) -> None:
        os.makedirs(self.root, exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.entries, f, indent=1, sort_keys=True)
        os.replace(tmp, self.path)

    def is_complete(self, stage: str, fingerprint: str) -> bool:
        e = self.entries.get(stage)
        if not e or e.get("fingerprint") != fingerprint:
            return False
        if "path" not in e:
            return True
        # an absolute path (older manifests) survives the join unchanged
        out = os.path.join(self.root, e["path"])
        return os.path.isfile(out) or os.path.exists(os.path.join(out, "_SUCCESS"))

    def forget(self, stage: str) -> None:
        """Drop ``stage``'s entry and save at once: its output no longer
        counts as complete, even if a later write of it is torn."""
        with self._lock:
            if self.entries.pop(stage, None) is not None:
                self.save()

    def write_table(self, stage: str, fingerprint: str, df, **metrics) -> dict:
        """``run_stage`` writing the DataFrame ``df`` as the parquet table
        ``<root>/<stage>`` (overwrite); ``metrics`` join its entry."""
        path = os.path.join(self.root, stage)

        def write() -> dict:
            df.write.mode("overwrite").parquet(path)
            return {"path": path, **metrics}

        return self.run_stage(stage, fingerprint, write)

    def run_stage(
        self,
        stage: str,
        fingerprint: str,
        fn: Callable[[], dict[str, Any]],
        force: bool = False,
    ) -> dict:
        """Run ``fn`` unless this (stage, fingerprint) already completed.
        ``fn`` returns metrics (must include 'path' if it wrote output)."""
        if not force and self.is_complete(stage, fingerprint):
            return {**self.entries[stage], "skipped": True}
        t0 = time.time()
        metrics = fn() or {}
        if "path" in metrics:
            metrics["path"] = os.path.relpath(metrics["path"], self.root)
        metrics.update(
            fingerprint=fingerprint,
            seconds=round(time.time() - t0, 3),
            completed_at=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        )
        with self._lock:
            self.entries[stage] = metrics
            self.save()
        return metrics
