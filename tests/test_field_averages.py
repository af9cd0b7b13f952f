"""avg_field_length parity with the oracle's running mean on fields that
some documents lack: a scalar field, and a string[] field that some
documents hold with several elements. The mean depends on each
document's place in the live count, so the fixture runs with docids
from 0 and from 1, checked after the build, an insert batch and a
remove batch."""

import json
import math

import pytest

from orama_spark.build.indexer import IndexBuilder
from orama_spark.build.maintenance import insert_documents, remove_documents
from orama_spark.config import IndexConfig
from orama_spark.oracle.engine import OramaOracle
from orama_spark.query.engine import SearchIndex

SCHEMA = {"t": "string", "u": "string", "tags": "string[]"}
DDL = "docid long, t string, u string, tags array<string>"
BASE = [
    ("alpha beta gamma", "kappa lambda", ["red fox", "blue jay bird"]),
    ("alpha delta", None, None),
    ("kappa epsilon zeta eta", "kappa", ["green"]),
    ("beta", None, ["red", "kappa mu nu", "fox"]),
    ("alpha kappa", "mu nu xi omicron", []),
    ("theta iota", None, ["kappa red"]),
]
NEW = [
    ("alpha red", None, ["fox fox kappa"]),
    ("kappa kappa beta", "red fox", None),
    ("omega", None, ["red", "kappa"]),
]
# positions in BASE, removed in this order: the first lacks tags, the
# second lacks both optional fields, the third holds one tags element
REMOVE = [4, 1, 2]
TERMS = ["kappa", "red", "alpha", "fox", "mu"]


def _rows(first, docs):
    return [(first + i, t, u, tags) for i, (t, u, tags) in enumerate(docs)]


def _insert(orc, rows):
    for docid, t, u, tags in rows:
        doc = {"t": t}
        if u is not None:
            doc["u"] = u
        if tags is not None:
            doc["tags"] = tags
        orc.insert(doc, docid=docid)


def _check(spark, index_dir, cfg, orc):
    with open(f"{index_dir}/stats.json") as f:
        stats = json.load(f)
    assert stats["docs_count"] == len(orc.docs)
    for f_ in SCHEMA:
        got = stats["fields"][f_]["avg_field_length"]
        want = orc.avg_field_length[f_]
        assert not math.isnan(want)
        assert got == pytest.approx(want, rel=1e-12), f_
    idx = SearchIndex.load(spark, index_dir, cfg)
    for term in TERMS:
        got = [(r["docid"], r["score"]) for r in idx.search(term=term).top_df().collect()]
        want = [(h["id"], h["score"]) for h in orc.search(term=term)["hits"]]
        assert [d for d, _ in got] == [d for d, _ in want], term
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9), term


@pytest.mark.parametrize("first", [0, 1])
def test_avg_field_length_build_insert_remove_parity(spark, tmpdir_index, first):
    cfg = IndexConfig(schema=SCHEMA)
    orc = OramaOracle(SCHEMA)
    base = _rows(first, BASE)
    IndexBuilder(cfg, postings_partitions=2).build(
        spark.createDataFrame(base, DDL), tmpdir_index, input_id=f"avg-{first}"
    )
    _insert(orc, base)
    _check(spark, tmpdir_index, cfg, orc)

    new = _rows(first + 10, NEW)
    insert_documents(spark, tmpdir_index, cfg, spark.createDataFrame(new, DDL))
    _insert(orc, new)
    _check(spark, tmpdir_index, cfg, orc)

    gone = [base[i][0] for i in REMOVE]
    remove_documents(
        spark, tmpdir_index, cfg, spark.createDataFrame([(d,) for d in gone], "docid long")
    )
    for d in gone:
        orc.remove(d)
    _check(spark, tmpdir_index, cfg, orc)
