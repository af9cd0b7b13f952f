"""search_many: batched top-k (N queries, one postings scan) must be
rank- and score-identical with N separate search() calls."""

import pytest
from pyspark.sql import functions as F

from orama_spark.config import IndexConfig
from orama_spark.build.indexer import IndexBuilder
from orama_spark.kernel import TokenizerConfig
from orama_spark.query.engine import SearchIndex
from orama_spark.sources.webpages import CorpusGenerator

N_DOCS = 300


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    g = CorpusGenerator(seed=42)
    import numpy as np

    cols = g.batch(np.arange(N_DOCS, dtype=np.int64))
    rows = [
        {"docid": i, "text": cols["text"][i], "lang": cols["lang"][i]}
        for i in range(N_DOCS)
    ]
    cfg = IndexConfig(
        schema={"text": "string", "lang": "enum"},
        tokenizer=TokenizerConfig.full(),
    )
    out = str(tmp_path_factory.mktemp("smidx"))
    IndexBuilder(cfg, postings_partitions=4).build(
        spark.createDataFrame(rows), out, input_id="sm"
    )
    return SearchIndex.load(spark, out, cfg)


TERMS = ["search engine", "index", "data process", "zzzznothing", "optimiz"]


def test_batch_matches_singles(idx):
    batch = idx.search_many(TERMS, k=10)
    got = {}
    for r in batch.collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["docid"], r["score"]))
    for qid, term in enumerate(TERMS):
        want = [
            (i + 1, r["docid"], r["score"])
            for i, r in enumerate(
                idx.search(term=term, limit=10).top_df().collect()
            )
        ]
        rows = sorted(got.get(qid, []))
        assert [(r[0], r[1]) for r in rows] == [(w[0], w[1]) for w in want], term
        for r, w in zip(rows, want):
            assert r[2] == pytest.approx(w[2], rel=1e-9)


def test_single_postings_scan(idx):
    plan = idx.search_many(TERMS, k=5)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("postings") <= plan.count("Scan parquet") and \
        sum("postings" in l for l in plan.splitlines() if "Scan parquet" in l) == 1, plan


def test_unknown_property_raises(idx):
    """search_many checks ``properties`` as search() does."""
    for run in (lambda: idx.search(term="index", properties=["nope"]),
                lambda: idx.search_many(["index"], properties=["text", "nope"])):
        with pytest.raises(ValueError, match="UNKNOWN_INDEX: nope"):
            run()
