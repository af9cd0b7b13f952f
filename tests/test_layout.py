"""The partitioning policy (orama_spark/layout.py): a width from the
input's file splits, the footer bytes of the columns it reads and the
cores, and the table widths the index builders take from it."""

import os

from pyspark.sql import functions as F

from orama_spark import layout
from orama_spark import persistence as P
from orama_spark.build.indexer import BUILD_STAGES, IndexBuilder
from orama_spark.config import IndexConfig, TokenizerConfig
from orama_spark.sources.webpages import corpus_df

# the index tables with one file per partition (stats is stats.json)
TABLES = [t for t in BUILD_STAGES if t != "stats"]


def _files(d):
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def _one_file(spark, tmp_path, name, n=1000, text_hashes=0):
    """``n`` rows of (id, text) in one parquet file; the text is
    ``text_hashes`` hex sha2 digests per row (incompressible), or the
    id as a string when 0."""
    hashes = [F.sha2(F.concat(F.col("id"), F.lit(i)), 256) for i in range(text_hashes)]
    text = F.concat(*hashes) if hashes else F.col("id").cast("string")
    path = str(tmp_path / name)
    spark.range(n).select("id", text.alias("text")).coalesce(1).write.parquet(path)
    assert len(_files(path)) == 1
    return spark.read.parquet(path)


def test_one_small_file_is_width_one(spark, tmp_path):
    df = _one_file(spark, tmp_path, "small")
    assert layout.index_widths(df) == {"docs": 1, "postings": 1, "dictionary": 1}
    assert layout.fan_out(df, "id", light=True) is df


def test_multi_file_input_keeps_its_splits(spark, tmp_path):
    path = str(tmp_path / "many")
    spark.range(0, 4000, numPartitions=8).write.parquet(path)
    df = spark.read.parquet(path)
    splits = df.rdd.getNumPartitions()
    assert splits > 1
    assert layout.index_widths(df)["postings"] == splits


def test_projection_is_sized_on_the_columns_it_reads(spark, tmp_path):
    # ~3 MiB of text beside an 8-byte id, in one file
    df = _one_file(spark, tmp_path, "wide", n=3000, text_hashes=16)

    def width(frame):
        return layout.index_widths(frame)["postings"]

    assert width(df) == min(spark.sparkContext.defaultParallelism, 3)
    assert width(df.select("id")) == 1
    assert width(df.where(F.col("id") % 5 == 0).select("id")) == 1


def test_heavy_fan_out_of_a_small_input_reaches_the_cores(spark, tmp_path):
    df = _one_file(spark, tmp_path, "small").select("id")
    out = layout.fan_out(df, "id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))


def test_restore_of_a_small_dump_writes_one_file_per_table(spark, tmp_path):
    cfg = IndexConfig(schema={"t": "string"})
    rows = [(1, "alpha beta"), (2, "beta gamma"), (3, "gamma delta alpha")]
    built = str(tmp_path / "built")
    IndexBuilder(cfg, postings_partitions=3).build(
        spark.createDataFrame(rows, "docid long, t string"), built, input_id="r"
    )
    out = str(tmp_path / "restored")
    P.restore(spark, P.persist(spark, built, cfg, format="json"), out, cfg, format="json")
    for table in ("postings", "dictionary", "dictionary_bylen"):
        assert len(_files(os.path.join(out, table))) == 1, table


def test_benchmark_corpus_builds_one_file_per_table(spark, tmp_path):
    """The benchmark's build: 2,000 web pages in one parquet file, the
    web profile (stemming, English stopwords, ``lang`` enum) and no
    width. Every table stays one file, so its plans do not move."""
    path = str(tmp_path / "corpus")
    corpus_df(spark, 2000, seed=1).select(
        F.col("doc_id").alias("docid"), "url", "text", "lang"
    ).write.parquet(path)
    assert len(_files(path)) == 1
    cfg = IndexConfig(
        schema={"text": "string", "lang": "enum"}, tokenizer=TokenizerConfig.full()
    )
    out = str(tmp_path / "index")
    IndexBuilder(cfg).build(spark.read.parquet(path), out, input_id=path)
    assert {t: len(_files(os.path.join(out, t))) for t in TABLES} == {t: 1 for t in TABLES}
