"""PT15 positional scorer parity: Spark PT15Index vs the Python oracle
port, plus the reference's own get_position pins
(plugin-pt15/test/index.test.ts:6-37)."""

import pytest

from orama_spark.config import IndexConfig
from orama_spark.oracle.plugins import PT15Oracle
from orama_spark.query.pt15 import PT15Index, get_position

SCHEMA = {"name": "string", "algo": "string[]"}
# fixture from plugin-pt15/test/index.test.ts:50-61
ROWS = [
    (1, "The pen is on the table", ["algo1", "algo2"]),
    (2, "The can is near the table", ["algo3"]),
    (3, "My table is cool", ["algo4"]),
]


def test_get_position_reference_pins():
    assert get_position(0, 1) == 0
    assert get_position(1, 1) == 1
    for i in (0, 1, 2, 3):
        assert get_position(i, 50) == 0
    for i in (4, 5, 6):
        assert get_position(i, 50) == 1
    for i in (7, 8, 9):
        assert get_position(i, 50) == 2
    assert get_position(46, 50) == 13
    for i in (47, 48, 49):
        assert get_position(i, 50) == 14


@pytest.fixture(scope="module")
def pair(spark):
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="orama_spark_pt15_")
    cfg = IndexConfig(schema=SCHEMA)
    df = spark.createDataFrame(ROWS, "docid long, name string, algo array<string>")
    idx = PT15Index.build(df, d, cfg)
    orc = PT15Oracle(SCHEMA)
    for i, name, algo in ROWS:
        orc.insert({"name": name, "algo": algo}, docid=i)
    yield idx, orc
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("term", ["t", "table", "the table", "algo", "pen", "zzz"])
def test_search_parity(pair, term):
    idx, orc = pair
    got = [(r["docid"], r["score"]) for r in idx.search(term).collect()]
    want = [(d, float(s)) for d, s in orc.search(term)]
    assert got == want, term


def test_reference_count_pin(pair):
    """search 't' matches all 3 docs (index.test.ts:64-68)."""
    idx, orc = pair
    assert len(idx.search("t", limit=100).collect()) == 3


def test_boost(pair):
    idx, orc = pair
    got = [(r["docid"], r["score"]) for r in idx.search("algo", boost={"algo": 3.0}).collect()]
    want = [(d, float(s)) for d, s in orc.search("algo", boost={"algo": 3.0})]
    assert got == want


def test_plan_no_join(pair, spark):
    """The PT15 query must be filter + partial agg — no join."""
    idx, _ = pair
    plan = idx.search("table")._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan