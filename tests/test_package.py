"""The spark-submit artifact (tools/package.py) tokenizes like the
checkout: executors that import ``dist/engine.zip`` must build ja/zh
indexes with the same tokens as the source tree gives.

Each check runs in a fresh interpreter whose ``sys.path`` holds the zip
and not the checkout (``-I`` drops the working directory, PYTHONPATH
and user site-packages)."""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import zipfile

import pytest

from orama_spark.kernel import TokenizerConfig
from orama_spark.kernel.tokenizer import Tokenizer

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TEXTS = {
    "japanese": "東京大学で研究",
    "mandarin": "北京大学的学生在上海研究语言处理",
}

_CHILD = """
import json, sys
sys.path.insert(0, sys.argv[1])
import orama_spark.kernel.cjk
from orama_spark.kernel import cjk_dict
from orama_spark.kernel.tokenizer import Tokenizer, TokenizerConfig
Tokenizer(TokenizerConfig(language="english")).tokenize("loaded lazily")
out = {"origin": cjk_dict.__file__, "loaded_at_import": cjk_dict._WORDS is not None}
for lang, text in json.loads(sys.argv[2]).items():
    tok = Tokenizer(TokenizerConfig(language=lang))
    out[lang] = tok.tokenize(text)
    out[lang + "_long"] = tok.tokenize_many([text * 12])[0]
print(json.dumps(out))
"""


def _build_zip(out: str) -> str:
    spec = importlib.util.spec_from_file_location(
        "package_tool", os.path.join(REPO, "tools", "package.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.build_zip(out)


def _run(zip_path: str, cwd) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-I", "-c", _CHILD, zip_path, json.dumps(TEXTS)],
        cwd=str(cwd), capture_output=True, text=True, timeout=300,
    )


@pytest.fixture(scope="module")
def engine_zip(tmp_path_factory):
    return _build_zip(str(tmp_path_factory.mktemp("dist") / "engine.zip"))


def test_packaged_engine_tokenizes_like_checkout(engine_zip, tmp_path):
    res = _run(engine_zip, tmp_path)
    assert res.returncode == 0, res.stderr[-2000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])
    assert got["origin"].startswith(engine_zip)
    # importing the CJK kernel and building an English tokenizer reads
    # no data file
    assert got["loaded_at_import"] is False
    assert got["japanese"] == ["東京", "大学", "で", "研究"]
    for lang, text in TEXTS.items():
        tok = Tokenizer(TokenizerConfig(language=lang))
        assert got[lang] == tok.tokenize(text), lang
        assert got[lang + "_long"] == tok.tokenize_many([text * 12])[0], lang


def test_packaged_engine_without_cjdict_raises(engine_zip, tmp_path):
    """A zip that lacks the table fails on the first CJK tokenize
    instead of tokenizing some other way."""
    stripped = str(tmp_path / "engine_nodata.zip")
    with zipfile.ZipFile(engine_zip) as src, zipfile.ZipFile(stripped, "w") as dst:
        for item in src.infolist():
            if not item.filename.endswith("cjdict.tsv.gz"):
                dst.writestr(item, src.read(item))
    res = _run(stripped, tmp_path)
    assert res.returncode != 0
    assert "FileNotFoundError" in res.stderr and "cjdict.tsv.gz" in res.stderr
