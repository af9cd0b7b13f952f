"""Package the engine for spark-submit: dist/engine.zip (--py-files).

The zip holds every file of the ``orama_spark`` package, its data files
(the CJK segmenter's ``kernel/data/cjdict.tsv.gz``) included;
``__pycache__`` directories are left out.

Usage:
    python tools/package.py
    spark-submit --master local[32] --py-files dist/engine.zip \
        bench/run_bench.py
"""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_zip(out: str | None = None) -> str:
    out = out or os.path.join(REPO, "dist", "engine.zip")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    pkg = os.path.join(REPO, "orama_spark")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for f in files:
                full = os.path.join(root, f)
                z.write(full, os.path.relpath(full, REPO))
    return out


if __name__ == "__main__":
    print(build_zip())
