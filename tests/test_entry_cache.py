"""The driver entry's fixture-index registry (`__spark_entry__._aux`):
indexes are reused while their source content is unchanged and rebuilt
when it changes or when a build was torn."""

import os
import random
import shutil
import sys
import uuid

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402

WORDS = "spark merge stream scan join table window batch query data".split()


def _write_docs(path, n):
    rng = random.Random(7)
    rows = [
        {
            "doc_id": i,
            "text": " ".join(rng.choice(WORDS) for _ in range(rng.randint(3, 12))),
            "lang": ["en", "de", "fr"][i % 3],
            "source": f"src{i % 4}",
        }
        for i in range(n)
    ]
    pq.write_table(pa.Table.from_pylist(rows), path)


@pytest.fixture()
def sf_dir(tmp_path):
    # a unique basename: fixture dirs are keyed on it
    d = tmp_path / f"entry_cache_{uuid.uuid4().hex[:10]}"
    d.mkdir()
    _write_docs(str(d / "documents.parquet"), 120)
    yield str(d)
    for name in E._AUX:
        shutil.rmtree(E._aux_dir(name, str(d)), ignore_errors=True)


def _stamp(name, sf_dir):
    return os.path.join(E._aux_dir(name, sf_dir), "_STAMP")


def _oracle(sf_dir, query):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    return sorted((int(d), f"{s:.6f}") for d, s in con.sql(E.oracle_sql()[query]).fetchall())


def _spark(spark, sf_dir, query):
    rows = E.queries()[query](spark, sf_dir).collect()
    return sorted((int(r["docid"]), f"{r['score']:.6f}") for r in rows)


def test_reload_from_stamp_without_rebuild(spark, sf_dir):
    idx = E._aux(spark, sf_dir, "tags")
    assert E._aux(spark, sf_dir, "tags") is idx
    built = os.stat(_stamp("tags", sf_dir)).st_mtime_ns
    E._AUX_CACHE.clear()
    again = E._aux(spark, sf_dir, "tags")
    assert again is not idx
    assert os.stat(_stamp("tags", sf_dir)).st_mtime_ns == built
    assert _spark(spark, sf_dir, "flt_string_array") == _oracle(sf_dir, "flt_string_array")


def test_rewritten_fixture_rebuilds(spark, sf_dir):
    before = _spark(spark, sf_dir, "flt_after_remove")
    assert before == _oracle(sf_dir, "flt_after_remove")
    key = open(_stamp("removed", sf_dir)).read()
    restored_key = E._aux_key(sf_dir, "restored")

    # same path, different content: the first 80 docs only
    path = os.path.join(sf_dir, "documents.parquet")
    pq.write_table(pq.read_table(path).slice(0, 80), path)

    after = _spark(spark, sf_dir, "flt_after_remove")
    assert after == _oracle(sf_dir, "flt_after_remove")
    assert after != before
    assert open(_stamp("removed", sf_dir)).read() != key
    # a derived fixture follows its parent's source content
    assert E._aux_key(sf_dir, "restored") != restored_key


def test_torn_build_rebuilds(spark, sf_dir):
    E._aux(spark, sf_dir, "removed")
    out = E._aux_dir("removed", sf_dir)
    leftover = os.path.join(out, "_leftover")
    open(leftover, "w").close()
    os.remove(_stamp("removed", sf_dir))
    E._AUX_CACHE.clear()
    E._aux(spark, sf_dir, "removed")
    assert os.path.exists(_stamp("removed", sf_dir))
    assert not os.path.exists(leftover)
    assert _spark(spark, sf_dir, "flt_after_remove") == _oracle(sf_dir, "flt_after_remove")


def test_key_covers_the_entry_file(sf_dir, tmp_path, monkeypatch):
    """A fixture built by another version of the entry's specs is not
    reused: the key holds a digest of the entry file's bytes."""
    key = E._aux_key(sf_dir, "removed")
    restored_key = E._aux_key(sf_dir, "restored")
    copy = tmp_path / "__spark_entry__.py"
    src = open(E._ENTRY_FILE, "rb").read()
    copy.write_bytes(src)
    monkeypatch.setattr(E, "_ENTRY_FILE", str(copy))
    assert E._aux_key(sf_dir, "removed") == key  # same bytes, same key
    copy2 = tmp_path / "edited.py"
    copy2.write_bytes(src + b"\n# a changed spec\n")
    monkeypatch.setattr(E, "_ENTRY_FILE", str(copy2))
    assert E._aux_key(sf_dir, "removed") != key
    assert E._aux_key(sf_dir, "restored") != restored_key
