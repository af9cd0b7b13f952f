"""BuildManifest: checkpoint-resume bookkeeping (no Spark needed)."""

import os

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
