"""BuildManifest: checkpoint-resume bookkeeping (no Spark needed), and
the index freshness it decides for IndexBuilder and BlockIndex (Spark)."""

import os
import shutil

import pytest

from orama_spark.build.manifest import BuildManifest


def test_run_stage_records_metrics(tmp_path):
    m = BuildManifest.load(str(tmp_path))
    out = m.run_stage("s1", "fp1", lambda: {"rows": 10})
    assert out["rows"] == 10 and out["fingerprint"] == "fp1"
    assert "seconds" in out and "completed_at" in out
    # persisted
    m2 = BuildManifest.load(str(tmp_path))
    assert m2.entries["s1"]["rows"] == 10


def test_resume_skips_same_fingerprint(tmp_path):
    m = BuildManifest.load(str(tmp_path))
    calls = []
    m.run_stage("s", "fp", lambda: calls.append(1) or {"rows": 1})
    out = m.run_stage("s", "fp", lambda: calls.append(1) or {"rows": 2})
    assert len(calls) == 1 and out.get("skipped")


def test_fingerprint_change_reruns(tmp_path):
    m = BuildManifest.load(str(tmp_path))
    calls = []
    m.run_stage("s", "fp1", lambda: calls.append(1) or {})
    m.run_stage("s", "fp2", lambda: calls.append(1) or {})
    assert len(calls) == 2


def test_missing_output_reruns(tmp_path):
    m = BuildManifest.load(str(tmp_path))
    out_dir = str(tmp_path / "stage_out")

    def write():
        os.makedirs(out_dir, exist_ok=True)
        open(os.path.join(out_dir, "_SUCCESS"), "w").close()
        return {"path": out_dir}

    m.run_stage("s", "fp", write)
    os.remove(os.path.join(out_dir, "_SUCCESS"))
    os.rmdir(out_dir)
    calls = []
    m.run_stage("s", "fp", lambda: calls.append(1) or write())
    assert len(calls) == 1


def test_directory_without_success_reruns(tmp_path):
    """A stage directory whose write was torn (no ``_SUCCESS``) is not
    complete, although the directory exists."""
    m = BuildManifest.load(str(tmp_path))
    out_dir = str(tmp_path / "stage_out")

    def write():
        os.makedirs(out_dir, exist_ok=True)
        open(os.path.join(out_dir, "_SUCCESS"), "w").close()
        return {"path": out_dir}

    m.run_stage("s", "fp", write)
    os.remove(os.path.join(out_dir, "_SUCCESS"))
    calls = []
    m.run_stage("s", "fp", lambda: calls.append(1) or write())
    assert len(calls) == 1


def test_force_reruns(tmp_path):
    m = BuildManifest.load(str(tmp_path))
    calls = []
    m.run_stage("s", "fp", lambda: calls.append(1) or {})
    m.run_stage("s", "fp", lambda: calls.append(1) or {}, force=True)
    assert len(calls) == 2


def test_corrupt_manifest_tolerated(tmp_path):
    p = tmp_path / "manifest.json"
    p.write_text("{not json")
    m = BuildManifest.load(str(tmp_path))
    assert m.entries == {}


def test_layout_change_rebuilds(spark, tmp_path):
    """A rebuild into the same dir with a different postings width is
    not served by the earlier build's stages."""
    from orama_spark.build.indexer import IndexBuilder
    from orama_spark.config import IndexConfig
    from orama_spark.kernel.tokenizer import TokenizerConfig

    cfg = IndexConfig(
        schema={"text": "string"}, tokenizer=TokenizerConfig.plain(), docid_col="docid"
    )
    df = spark.createDataFrame(
        [(i, f"w{i} w{i % 7} common") for i in range(60)], "docid long, text string"
    )
    out = str(tmp_path / "idx")

    def postings_files():
        d = os.path.join(out, "postings")
        return len([f for f in os.listdir(d) if f.endswith(".parquet")])

    first = IndexBuilder(cfg, postings_partitions=2).build(df, out, input_id="same")
    assert not any(r.get("skipped") for r in first.values())
    assert postings_files() == 2
    again = IndexBuilder(cfg, postings_partitions=2).build(df, out, input_id="same")
    assert all(r.get("skipped") for r in again.values())
    wider = IndexBuilder(cfg, postings_partitions=3).build(df, out, input_id="same")
    assert not any(r.get("skipped") for r in wider.values())
    assert postings_files() == 3


CORPUS_A = [(1, "alpha beta"), (2, "alpha gamma"), (3, "delta")]
CORPUS_B = [(10, "alpha alpha zeta"), (11, "omega")]


def _plain_config():
    from orama_spark.config import IndexConfig
    from orama_spark.kernel.tokenizer import TokenizerConfig

    return IndexConfig(
        schema={"text": "string"}, tokenizer=TokenizerConfig.plain(), docid_col="docid"
    )


def _build(spark, rows, out, **kw):
    from orama_spark.build.indexer import IndexBuilder

    df = spark.createDataFrame(rows, "docid long, text string")
    return IndexBuilder(_plain_config()).build(df, out, **kw)


def _hits(spark, out, term):
    from orama_spark.query.engine import SearchIndex

    idx = SearchIndex.load(spark, out, _plain_config())
    return [r["docid"] for r in idx.search(term=term).top_df().collect()]


def test_rebuild_refuses_old_blocks(spark, tmp_path):
    """Blocks built over corpus A are not served after corpus B is built
    into the same directory: their bounds belong to A's statistics."""
    from orama_spark.query.wand import BlockIndex

    out = str(tmp_path / "idx")
    cfg = _plain_config()
    _build(spark, CORPUS_A, out, input_id="A")
    BlockIndex.build(spark, out, cfg)
    _build(spark, CORPUS_B, out, input_id="B")
    with pytest.raises(ValueError, match="not current"):
        BlockIndex.load(spark, out, cfg)
    top = BlockIndex.build(spark, out, cfg).wand_topk("alpha", k=3).collect()
    assert [r["docid"] for r in top] == [10]


def test_failed_rebuild_refuses_old_blocks(spark, tmp_path, monkeypatch):
    """A rebuild that dies after overwriting docs but before its stats
    stage leaves A's stats entry behind: A's blocks are not served over
    B's tables, and blocks are not built over the mixed tables either."""
    from orama_spark.build import indexer
    from orama_spark.query.wand import BlockIndex

    out = str(tmp_path / "idx")
    cfg = _plain_config()
    _build(spark, CORPUS_A, out, input_id="A")
    BlockIndex.build(spark, out, cfg)

    def die(*args, **kwargs):
        raise RuntimeError("docmeta stage died")

    monkeypatch.setattr(indexer, "docmeta_table", die)
    with pytest.raises(RuntimeError, match="docmeta stage died"):
        _build(spark, CORPUS_B, out, input_id="B")
    entries = BuildManifest.load(out).entries
    assert entries["docs"]["fingerprint"] != entries["stats"]["fingerprint"]
    with pytest.raises(ValueError, match="not current"):
        BlockIndex.load(spark, out, cfg)
    with pytest.raises(ValueError, match="one complete index build"):
        BlockIndex.build(spark, out, cfg)


def test_build_without_input_id_runs_every_stage(spark, tmp_path):
    """An unnamed input is never taken for the one already built."""
    out = str(tmp_path / "idx")
    _build(spark, CORPUS_A, out)
    again = _build(spark, CORPUS_B, out)
    assert not any(r.get("skipped") for r in again.values())
    assert _hits(spark, out, "omega") == [11]


def test_copied_index_resumes_and_serves_blocks(spark, tmp_path):
    """The manifest holds paths relative to the index root, so a copy
    whose original is gone still resumes and still serves its blocks."""
    from orama_spark.query.wand import BlockIndex

    orig = str(tmp_path / "orig")
    copy = str(tmp_path / "copy")
    cfg = _plain_config()
    _build(spark, CORPUS_A, orig, input_id="A")
    BlockIndex.build(spark, orig, cfg)
    shutil.copytree(orig, copy)
    shutil.rmtree(orig)
    again = _build(spark, CORPUS_A, copy, input_id="A")
    assert all(r.get("skipped") for r in again.values())
    top = BlockIndex.load(spark, copy, cfg).wand_topk("alpha", k=3).collect()
    assert sorted(r["docid"] for r in top) == [1, 2]
    entries = BuildManifest.load(copy).entries
    assert "blocks" in entries
    assert not any(os.path.isabs(e["path"]) for e in entries.values())
