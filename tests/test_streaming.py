"""Structured Streaming incremental ingestion: stream batches fold into
an index that is rank-identical with a one-shot batch build of the same
corpus (scores too — the maintenance recurrences telescope exactly)."""

import json
import os
import shutil

import pytest

from orama_spark.build.indexer import IndexBuilder
from orama_spark.build.manifest import BuildManifest
from orama_spark.config import IndexConfig
from orama_spark.query.engine import SearchIndex
from orama_spark.streaming.incremental import StreamingIndexWriter, index_stream

SCHEMA = {"t": "string", "cat": "enum"}
ROWS = [
    {"docid": i, "t": txt, "cat": c}
    for i, (txt, c) in enumerate(
        [
            ("alpha beta gamma", "x"),
            ("alpha beta", "x"),
            ("alpha delta epsilon zeta", "y"),
            ("beta delta", "y"),
            ("alpha alpha omega", "z"),
            ("omega gamma beta", "z"),
        ]
    )
]


def test_stream_matches_batch_build(spark, tmp_path):
    cfg = IndexConfig(schema=SCHEMA)
    src = str(tmp_path / "src")
    # two source files = at least one bootstrap batch + appended data
    spark.createDataFrame(ROWS[:3]).coalesce(1).write.mode("overwrite").parquet(src)
    spark.createDataFrame(ROWS[3:]).coalesce(1).write.mode("append").parquet(src)

    stream_idx_dir = str(tmp_path / "stream_idx")
    index_stream(spark, src, stream_idx_dir, str(tmp_path / "ckpt"), cfg)

    batch_idx_dir = str(tmp_path / "batch_idx")
    IndexBuilder(cfg, postings_partitions=2).build(
        spark.createDataFrame(ROWS), batch_idx_dir, input_id="b"
    )

    s_idx = SearchIndex.load(spark, stream_idx_dir, cfg)
    b_idx = SearchIndex.load(spark, batch_idx_dir, cfg)
    for term in ["alpha", "beta delta", "omega"]:
        got = [(r["docid"], r["score"]) for r in s_idx.search(term=term).top_df().collect()]
        want = [(r["docid"], r["score"]) for r in b_idx.search(term=term).top_df().collect()]
        assert [g[0] for g in got] == [w[0] for w in want], term
        for (gi, gs), (wi, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9)
    assert s_idx.stats["docs_count"] == len(ROWS)


def test_torn_bootstrap_resumes(spark, tmp_path):
    """A bootstrap whose postings chain died before ``dictionary_bylen``
    (its docmeta chain, stats.json included, had finished) is replayed
    through the build and resumes at the missing stage."""
    cfg = IndexConfig(schema=SCHEMA)
    batch0 = spark.createDataFrame(ROWS[:3])
    d = str(tmp_path / "stream_idx")
    writer = StreamingIndexWriter(cfg, d)
    writer.fold_batch(batch0, 0)
    shutil.rmtree(os.path.join(d, "dictionary_bylen"))
    manifest = BuildManifest.load(d)
    del manifest.entries["dictionary_bylen"]
    manifest.save()
    writer.fold_batch(batch0, 0)

    one = str(tmp_path / "one_shot")
    IndexBuilder(cfg).build(batch0, one, input_id="one")
    for table in ("docs", "tokens", "postings", "dictionary", "dictionary_bylen", "docmeta"):
        rows = [sorted(map(tuple, spark.read.parquet(os.path.join(root, table)).collect()))
                for root in (d, one)]
        assert rows[0] == rows[1], table
    stats = []
    for root in (d, one):
        with open(os.path.join(root, "stats.json")) as f:
            stats.append(json.load(f))
    assert stats[0] == stats[1]


@pytest.mark.parametrize("manifest_state", ["no_tokens_entry", "no_manifest"])
def test_stream_into_existing_index_inserts(spark, tmp_path, manifest_state):
    """A batch streamed into an index this stream did not bootstrap — one
    restored by an older release (its manifest has no ``tokens`` entry)
    or one without a manifest — is inserted, never rebuilt over it."""
    cfg = IndexConfig(schema=SCHEMA)
    d = str(tmp_path / "idx")
    IndexBuilder(cfg).build(spark.createDataFrame(ROWS[:3]), d, input_id="restored-3")
    manifest = BuildManifest.load(d)
    if manifest_state == "no_tokens_entry":
        del manifest.entries["tokens"]
        manifest.save()
    else:
        os.remove(manifest.path)
    StreamingIndexWriter(cfg, d).fold_batch(spark.createDataFrame(ROWS[3:]), 0)
    docids = sorted(r["docid"] for r in spark.read.parquet(os.path.join(d, "docs")).collect())
    assert docids == [r["docid"] for r in ROWS]
    assert SearchIndex.load(spark, d, cfg).stats["docs_count"] == len(ROWS)


def test_map_only_datapipe_ops_stream_equals_batch(spark, tmp_path):
    """The map-only datapipe operators (pii_stats, gopher_rules,
    repetition_stats) are stateless transforms, so they must run
    unchanged on a readStream source and produce exactly the batch
    result — the property that lets the same scrub/filter code serve
    both the backfill and the live ingest path."""
    from orama_spark.datapipe.pii import pii_stats
    from orama_spark.datapipe.text_quality import gopher_rules

    rows = [
        {"doc_id": 0, "text": "mail me at a@b.io or 10.1.2.3"},
        {"doc_id": 1, "text": "the quick brown fox " * 20},
        {"doc_id": 2, "text": ""},
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows).write.mode("overwrite").parquet(src)
    schema = spark.read.parquet(src).schema

    for op in (pii_stats, gopher_rules):
        stream_in = spark.readStream.schema(schema).parquet(src)
        out_dir = str(tmp_path / f"out_{op.__name__}")
        q = (
            op(stream_in)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / f"ck_{op.__name__}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            tuple(r) for r in spark.read.parquet(out_dir).collect()
        }
        want = {tuple(r) for r in op(spark.createDataFrame(rows)).collect()}
        assert got == want, op.__name__
