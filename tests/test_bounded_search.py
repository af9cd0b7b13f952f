"""The bounded driver path of ``SearchIndex.search`` against the
distributed plan it replaces under the cap.

A search whose expansion fits under ``EXPANSION_COLLECT_CAP`` and whose
postings fit under ``DRIVER_POSTINGS_CAP`` is scored on the driver;
patching both caps to -1 (even an empty expansion is over them) forces
the same query onto the distributed plan. Over seeded random
corpora (fresh, tombstoned and upserted indexes) both must return the same match set: scores within
rel 1e-12, docids identical wherever neighbouring scores differ by more
than that.
"""

import random
import sys
import threading
import time
import uuid

import numpy as np
import pytest

from orama_spark.build.indexer import IndexBuilder
from orama_spark.build.maintenance import insert_documents, remove_documents, upsert_documents
from orama_spark.config import IndexConfig
from orama_spark.query import engine
from orama_spark.query.engine import SearchIndex
from orama_spark.query.wand import BlockIndex
from orama_spark.sources.webpages import CorpusGenerator

REL = 1e-12
SCHEMA = {"title": "string", "body": "string", "lang": "enum", "n": "number"}
# shared prefixes and one-edit neighbours, so prefix and fuzzy queries
# expand to several words
VOCAB = (
    "river rivet rival riven fox foxes for form formal format search "
    "searcher seat sea engine engines spark sparks spare park mountain "
    "mount count data date gate graph grape node nodes note"
).split()


def _rows(seed: int, n_docs: int, start: int = 0) -> list[dict]:
    rng = random.Random(seed)
    zipf = [1.0 / (i + 1) for i in range(len(VOCAB))]
    words = lambda k: " ".join(rng.choices(VOCAB, weights=zipf, k=k))  # noqa: E731
    return [
        {
            "docid": start + i,
            "title": words(rng.randint(1, 4)),
            "body": words(rng.randint(3, 25)),
            "lang": rng.choice(["a", "b", "c"]),
            "n": rng.randint(0, 9),
        }
        for i in range(n_docs)
    ]


def _queries(seed: int) -> list[dict]:
    rng = random.Random(1000 + seed)
    w = lambda: rng.choice(VOCAB[:20])  # noqa: E731
    two = lambda: f"{w()} {w()}"  # noqa: E731
    word = w()
    fuzzy = word[:-1] + ("x" if word[-1] != "x" else "y")
    return [
        {"term": w()},
        {"term": two()},
        {"term": two(), "threshold": 0.0},
        {"term": two(), "threshold": 0.5},
        {"term": f"{w()} {w()} {w()}", "threshold": 0.5},
        {"term": two(), "threshold": 1.0},
        {"term": w()[:3]},
        {"term": f"{w()[:2]} {w()[:3]}", "threshold": 0.0},
        {"term": fuzzy, "tolerance": 1},
        {"term": f"{fuzzy} {w()}", "tolerance": 1, "threshold": 0.0},
        {"term": two(), "boost": {"title": 2.5}},
        {"term": two(), "boost": {"title": 1.5, "body": 0.5}, "threshold": 0.5},
        {"term": w(), "where": {"lang": {"eq": "b"}}},
        {"term": two(), "where": {"n": {"gt": 4}}, "threshold": 0.0},
        {"term": w(), "where": {"title": w()}},
        {"term": w(), "properties": ["body"]},
        {"term": "", "properties": ["title"]},
        {"term": w(), "exact": True},
        {"term": "zzzz"},
    ]


def _config() -> IndexConfig:
    return IndexConfig(schema=SCHEMA)


def _build(spark, out: str, rows: list[dict]) -> None:
    IndexBuilder(_config(), postings_partitions=2).build(
        spark.createDataFrame(rows), out, input_id=uuid.uuid4().hex
    )


@pytest.fixture(scope="module")
def corpora(spark, tmp_path_factory):
    """name -> (loaded index, query list, index dir): two fresh
    corpora, one with tombstones and dictionary deltas pending, one
    after an upsert."""
    out = {}
    for seed in (0, 1):
        d = str(tmp_path_factory.mktemp(f"bounded{seed}"))
        _build(spark, d, _rows(seed, 160))
        out[f"fresh{seed}"] = (d, _queries(seed))

    d = str(tmp_path_factory.mktemp("tombstoned"))
    _build(spark, d, _rows(2, 160))
    remove_documents(spark, d, _config(),
                     spark.createDataFrame([(i,) for i in range(0, 160, 7)], "docid long"))
    insert_documents(spark, d, _config(), spark.createDataFrame(_rows(3, 20, start=500)))
    out["tombstoned"] = (d, _queries(2))

    d = str(tmp_path_factory.mktemp("upserted"))
    _build(spark, d, _rows(4, 160))
    upd = _rows(5, 12, start=150)  # ids 150..159 exist, 160..161 are new
    upsert_documents(spark, d, _config(), spark.createDataFrame(upd))
    out["upserted"] = (d, _queries(4))
    return {k: (SearchIndex.load(spark, d, _config()), qs, d) for k, (d, qs) in out.items()}


def _distributed(monkeypatch, fn):
    with monkeypatch.context() as m:
        m.setattr(engine, "EXPANSION_COLLECT_CAP", -1)
        m.setattr(engine, "DRIVER_POSTINGS_CAP", -1)
        return fn()


def _assert_same_ranking(got: list, want: list) -> None:
    """(docid, score) lists in rank order: same length, scores within
    REL position by position, docids equal unless the two scores tie
    within REL."""
    assert len(got) == len(want)
    for (gd, gs), (wd, ws) in zip(got, want):
        assert gs == pytest.approx(ws, rel=REL, abs=0.0), (gd, wd)
        if gd != wd:
            # a swap is only allowed inside a tie group
            assert dict(want).get(gd) == pytest.approx(ws, rel=REL, abs=0.0)


def _ranked_rows(sr) -> list:
    rows = sr.scored.collect()
    return sorted(((r["docid"], r["score"]) for r in rows), key=lambda t: (-t[1], t[0]))


@pytest.mark.parametrize("name", ["fresh0", "fresh1", "tombstoned", "upserted"])
def test_driver_path_equals_distributed(corpora, monkeypatch, name):
    idx, queries, _ = corpora[name]
    for q in queries:
        drv = idx.search(limit=10, **q)
        assert drv.ranked is not None, q
        dist = _distributed(monkeypatch, lambda: idx.search(limit=10, **q))
        assert dist.ranked is None, q
        want = _ranked_rows(dist)
        got = list(zip(drv.ranked["docid"].tolist(), drv.ranked["score"].tolist()))
        _assert_same_ranking(got, want)
        assert drv.count() == len(want)
        page = [(r["docid"], r["score"]) for r in drv.top_df().collect()]
        _assert_same_ranking(page, want[:10])


def test_paging_and_facets_match_distributed(corpora, monkeypatch):
    idx = corpora["fresh0"][0]
    term = "river fox engine"
    for kw in ({"offset": 0, "limit": 5}, {"offset": 3, "limit": 4}, {"offset": 500, "limit": 5}):
        got = [(r["docid"], r["score"]) for r in idx.search(term=term, **kw).top_df().collect()]
        want = _ranked_rows(_distributed(monkeypatch, lambda: idx.search(term=term)))
        _assert_same_ranking(got, want[kw["offset"] : kw["offset"] + kw["limit"]])
    for prop, cfg in (("lang", None), ("title", {"limit": 3}), ("title", {"offset": 1, "limit": 4, "sort": "asc"})):
        drv = idx.facets_df(idx.search(term=term), prop, cfg)
        dist = _distributed(monkeypatch, lambda: idx.facets_df(idx.search(term=term), prop, cfg))
        rows = lambda df: [tuple(r) for r in df.collect()]  # noqa: E731
        if prop == "title":  # paged: order is part of the answer
            assert rows(drv) == rows(dist)
        else:
            assert sorted(rows(drv)) == sorted(rows(dist))
        assert drv.schema == dist.schema


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"bounded-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "count")
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group) or [])


@pytest.mark.parametrize("cap, q", [
    ("DRIVER_POSTINGS_CAP", {"term": "river fox"}),
    ("DRIVER_POSTINGS_CAP", {"term": "river", "where": {"lang": {"eq": "b"}}}),
    ("EXPANSION_COLLECT_CAP", {"term": "riv"}),
    ("EXPANSION_COLLECT_CAP", {"term": "sparx", "tolerance": 1}),
])
def test_over_cap_falls_back(corpora, monkeypatch, spark, cap, q):
    """A search whose postings (Σdf of its expansion) exceed the
    postings cap, or whose expansion exceeds the expansion cap, runs
    the distributed plan with the same answer. The decision is taken
    from the expansion alone: ``search()`` runs that one job and reads
    no posting."""
    idx, _, d = corpora["fresh1"]
    want = list(zip(*(idx.search(**q).ranked[c].tolist() for c in ("docid", "score"))))
    assert len(want) > 3
    with monkeypatch.context() as m:
        m.setattr(engine, cap, 3)
        fresh = SearchIndex.load(idx.spark, d, _config())  # cold fuzzy cache
        sr, n = _jobs(spark, lambda: fresh.search(**q))
        assert sr.ranked is None
        assert n == 1
        _assert_same_ranking(_ranked_rows(sr), want)


def test_under_cap_page_is_local_and_starts_no_job(corpora, spark):
    idx = corpora["fresh0"][0]
    sr, n = _jobs(spark, lambda: idx.search(term="river mountain"))
    assert n == 2  # the dictionary probe and the postings fetch
    page = sr.top_df()
    plan = page._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan
    rows, n = _jobs(spark, page.collect)
    assert rows and n == 0


def test_search_py4j_calls_are_pinned(corpora, spark):
    """py4j round trips of one under-cap search().top_df().collect() on
    the calling thread (py4j's own finalizer thread is not counted)."""
    from py4j.clientserver import JavaClient

    idx = corpora["fresh1"][0]
    calls = []
    me = threading.get_ident()
    orig = JavaClient.send_command

    def counting(self, *a, **k):
        if threading.get_ident() == me:
            calls.append(1)
        return orig(self, *a, **k)

    for term, bound in (("river", 150), ("river mountain", 200)):
        idx.search(term=term).top_df().collect()  # the per-props frames
        calls.clear()
        JavaClient.send_command = counting
        try:
            idx.search(term=term).top_df().collect()
        finally:
            JavaClient.send_command = orig
        assert 0 < len(calls) <= bound, (term, len(calls))


def test_concurrent_readers_match_serial(spark, tmp_path, monkeypatch):
    """4 threads on one session share an index's per-props frames and
    fuzzy cache and a BlockIndex's caches; every result equals the
    serial run's."""
    # a 1,500-doc corpus: every query but the whole-trie one under it
    monkeypatch.setattr(engine, "DRIVER_POSTINGS_CAP", 20_000)
    d = str(tmp_path / "conc")
    g = CorpusGenerator(seed=7)
    cols = g.batch(np.arange(1500, dtype=np.int64))
    rows = [{"docid": i, "text": cols["text"][i], "lang": cols["lang"][i]} for i in range(1500)]
    cfg = IndexConfig(schema={"text": "string", "lang": "enum"})
    IndexBuilder(cfg, postings_partitions=2).build(spark.createDataFrame(rows), d, input_id="conc")
    BlockIndex.build(spark, d, cfg)

    ops = [
        ("search", {"term": "river"}),
        ("search", {"term": "search engine", "threshold": 0.0}),
        ("search", {"term": "serch", "tolerance": 1}),
        ("search", {"term": "mountan", "tolerance": 1}),
        ("search", {"term": "fox", "where": {"lang": {"eq": "en"}}}),
        ("search", {"term": "", "properties": ["text"]}),  # over the cap
        ("facets", {"term": "river"}),
        ("wand", {"term": "river mountain"}),
    ]

    def run(idx, blocks, op):
        kind, q = op
        if kind == "wand":
            return [tuple(r) for r in blocks.wand_topk(q["term"], k=10).collect()]
        sr = idx.search(limit=10, **q)
        if kind == "facets":
            return sorted(tuple(r) for r in idx.facets_df(sr, "lang").collect())
        return (sr.ranked is None, [tuple(r) for r in sr.top_df().collect()])

    idx, blocks = SearchIndex.load(spark, d, cfg), BlockIndex.load(spark, d, cfg)
    serial = {i: run(idx, blocks, op) for i, op in enumerate(ops)}
    assert serial[5][0] and not any(serial[i][0] for i in range(5))

    # fresh instances: the threads race on cold caches (the fuzzy
    # queries run cold first, then warm)
    idx, blocks = SearchIndex.load(spark, d, cfg), BlockIndex.load(spark, d, cfg)
    got, errors = [], []

    def worker(t):
        order = list(range(len(ops))) * 2
        random.Random(t).shuffle(order)
        try:
            for i in order:
                got.append((i, run(idx, blocks, ops[i])))
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # interleave the threads' check-then-set on the caches
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(got) == 4 * 2 * len(ops)
    for i, res in got:
        if ops[i][0] == "search" and res[0]:  # the distributed plan
            _assert_same_ranking(res[1], serial[i][1])
        else:
            assert res == serial[i], ops[i]


def test_fuzzy_expansion_single_flight(corpora, spark, monkeypatch):
    """Readers missing the same fuzzy key at once run ONE expansion job
    between them and all get the serial result; a failed job is not
    cached."""
    _, _, d = corpora["fresh0"]
    q = {"term": "rivex sparx", "tolerance": 1, "threshold": 0.0}
    serial = [tuple(r) for r in SearchIndex.load(spark, d, _config())
              .search(limit=10, **q).top_df().collect()]
    assert serial

    idx = SearchIndex.load(spark, d, _config())
    calls = []
    orig = SearchIndex._expansion_df

    def slow(self, *args):
        calls.append(args)
        time.sleep(0.3)  # the other readers miss while this one computes
        return orig(self, *args)

    monkeypatch.setattr(SearchIndex, "_expansion_df", slow)
    start = threading.Barrier(3)
    got, errors = [], []

    def reader():
        try:
            start.wait(timeout=60)
            got.append([tuple(r) for r in idx.search(limit=10, **q).top_df().collect()])
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(calls) == 1
    assert got == [serial] * 3

    # a failure reaches the reader and is not cached: the next query retries
    def failing(self, *args):
        raise RuntimeError("boom")

    fresh = SearchIndex.load(spark, d, _config())
    monkeypatch.setattr(SearchIndex, "_expansion_df", failing)
    with pytest.raises(RuntimeError, match="boom"):
        fresh.search(limit=10, **q)
    monkeypatch.setattr(SearchIndex, "_expansion_df", orig)
    assert [tuple(r) for r in fresh.search(limit=10, **q).top_df().collect()] == serial
