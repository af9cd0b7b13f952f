"""QPS scorer parity: Spark QPSIndex vs the Python oracle port (both
use the documented deterministic accumulation order), plus kernel pins
for the descriptor packing and the reference test fixture counts."""

import pytest

from orama_spark.config import IndexConfig
from orama_spark.kernel.tokenizer import Tokenizer, TokenizerConfig
from orama_spark.oracle.plugins import QPSOracle
from orama_spark.query.qps import QPSIndex, token_quantums

SCHEMA = {"name": "string"}


def test_token_quantums_packing():
    """calculateTokenQuantum (algorithm.ts:78-93): occ<<20 | sentences."""
    tok = Tokenizer(TokenizerConfig())
    q, n = token_quantums("foo bar. foo baz! qux?", tok, "name")
    # 3 sentences with >1 token? s0='foo bar'(2), s1=' foo baz'(2),
    # s2=' qux'(1 token -> quantum NOT advanced after it)
    assert n == 5
    assert q["foo"] == (2, 0b011)   # in sentences 0 and 1
    assert q["bar"] == (1, 0b001)
    assert q["baz"] == (1, 0b010)
    assert q["qux"] == (1, 0b100)
    # short sentences don't advance the quantum (algorithm.ts:126-128)
    q2, _ = token_quantums("a. b. c d", tok, "name")
    assert q2["a"] == (1, 0b1) and q2["b"] == (1, 0b1)
    assert q2["c"] == (1, 0b1) and q2["d"] == (1, 0b1)


# fixture from plugin-qps/test/index.test.ts:17-27
ROWS = [
    (1, "foo foo foo"),
    (2, "bar bar bar"),
    (3, "baz baz baz"),
]


@pytest.fixture(scope="module")
def pair(spark):
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="orama_spark_qps_")
    cfg = IndexConfig(schema=SCHEMA)
    df = spark.createDataFrame(ROWS, "docid long, name string")
    idx = QPSIndex.build(df, d, cfg)
    orc = QPSOracle(SCHEMA)
    for i, name in ROWS:
        orc.insert({"name": name}, docid=i)
    yield idx, orc
    shutil.rmtree(d, ignore_errors=True)


def test_reference_count_pin(pair):
    idx, _ = pair
    assert len(idx.search("b", limit=100).collect()) == 2


@pytest.mark.parametrize("kw", [
    dict(term="b"),
    dict(term="foo"),
    dict(term="foo", exact=True),
    dict(term="fo", tolerance=1),
    dict(term="bar baz"),
])
def test_search_parity(pair, kw):
    idx, orc = pair
    got = [(r["docid"], r["score"]) for r in idx.search(**kw).collect()]
    want = [(d, pytest.approx(s, rel=1e-12)) for d, s in orc.search(**kw)]
    assert got == want, kw


def test_proximity_bonus(spark):
    """Words sharing a sentence quantum add 2*overlap — the QPS core."""
    import shutil
    import tempfile

    rows = [
        (1, "red fox. blue dog"),    # red+fox same sentence
        (2, "red cat. far away fox"),  # red and fox in different sentences
    ]
    d = tempfile.mkdtemp(prefix="orama_spark_qps2_")
    cfg = IndexConfig(schema=SCHEMA)
    idx = QPSIndex.build(
        spark.createDataFrame(rows, "docid long, name string"), d, cfg
    )
    orc = QPSOracle(SCHEMA)
    for i, name in rows:
        orc.insert({"name": name}, docid=i)
    got = [(r["docid"], r["score"]) for r in idx.search("red fox").collect()]
    want = [(di, pytest.approx(s, rel=1e-12)) for di, s in orc.search("red fox")]
    assert got == want
    # doc 1 must outrank doc 2 (same-sentence proximity bonus)
    assert got[0][0] == 1 and got[0][1] > got[1][1]
    shutil.rmtree(d, ignore_errors=True)
