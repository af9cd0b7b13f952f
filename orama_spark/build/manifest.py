"""Build lineage + checkpoint-resume manifests.

Every index-build stage records its fingerprint, wall seconds,
completion time and output path (the stats stage adds ``docs_count``)
in ``manifest.json`` at the index root; no stage records row counts,
bytes or jobs yet. A re-run with the same fingerprint (config hash +
input identity) skips completed stages — the resumability contract of
the north rule: a 100 TB build that dies at stage 4 resumes at stage 4,
not at zero.
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
        out = e.get("path")
        if out and not (
            os.path.exists(os.path.join(out, "_SUCCESS")) or os.path.exists(out)
        ):
            return False
        return True

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
        metrics.update(
            fingerprint=fingerprint,
            seconds=round(time.time() - t0, 3),
            completed_at=time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        )
        with self._lock:
            self.entries[stage] = metrics
            self.save()
        return metrics
