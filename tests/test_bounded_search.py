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

import os
import random
import sys
import threading
import time
import uuid
from collections import Counter

import numpy as np
import pyarrow.dataset as pads
import pytest

from orama_spark.build import indexer
from orama_spark.build.indexer import IndexBuilder
from orama_spark.build.maintenance import insert_documents, remove_documents, upsert_documents
from orama_spark.build.manifest import read_table
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


def test_tombstoned_warm_search_runs_only_the_fetch(corpora, spark):
    """A warm bounded single-token search over pending tombstones and
    dictionary deltas expands against the held, composed dictionary:
    only the postings fetch (its anti-join with the tombstones) runs.
    The cold one reads the dictionary first: its union with the deltas
    and their sum per (field, term), two jobs."""
    _, _, d = corpora["tombstoned"]
    idx = SearchIndex.load(spark, d, _config())
    _, n = _jobs(spark, lambda: idx.search(term="river"))
    assert n == 4, n
    for term in ("river", "fox"):
        sr, n = _jobs(spark, lambda: idx.search(term=term))
        assert sr.ranked is not None and len(sr.ranked)
        assert n == 2, (term, n)  # the fetch and its tombstone broadcast


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
    _, _, d = corpora["fresh0"]
    idx = SearchIndex.load(spark, d, _config())
    _, n = _jobs(spark, lambda: idx.search(term="river mountain"))
    assert n == 2  # the held dictionary's read and the postings fetch
    sr, n = _jobs(spark, lambda: idx.search(term="river mountain"))
    assert n == 1  # the postings fetch
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

    for term, bound in (("river", 80), ("river mountain", 115)):
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


def _dictionary_rows(d: str) -> int:
    """The held dictionary's row bound: the rows of ``dictionary`` plus
    those of a pending ``dictionary_delta``."""
    tables = (os.path.join(d, t) for t in ("dictionary", "dictionary_delta"))
    return sum(pads.dataset(t, format="parquet").count_rows() for t in tables if os.path.exists(t))


def _not_held(monkeypatch, idx, d) -> None:
    """Patch EXPANSION_COLLECT_CAP just under the dictionary rows of
    ``idx`` (loaded from ``d``): the dictionary is not held, and every
    expansion of the test queries is still under the cap (the probe
    path)."""
    assert idx._held_dictionary() is not None
    monkeypatch.setattr(engine, "EXPANSION_COLLECT_CAP", _dictionary_rows(d) - 1)
    assert idx._held_dictionary() is None


def test_row_bound_stops_at_the_cap(corpora):
    """The held dictionary's row bound reads footers only until their
    rows pass the cap: a file after that point is never opened."""
    idx, _, d = corpora["fresh0"]
    files = sorted(idx.dictionary.inputFiles())
    rows = _dictionary_rows(d)
    missing = "file://" + os.path.join(d, "dictionary", "no-such-file.parquet")
    assert not engine._rows_over(files, rows)
    assert engine._rows_over(files, rows - 1)
    assert engine._rows_over(files + [missing], rows - 1)
    with pytest.raises(OSError):
        engine._rows_over(files + [missing], rows)


def _expansion_rows(spark, idx, monkeypatch, q) -> tuple:
    """(the (field, qtoken, term, df) multiset of the expansion a search
    for ``q`` collects and whether it has a postings predicate, the jobs
    the expansion ran)."""
    seen = []
    orig = SearchIndex._expansion

    def recording(self, *args):
        seen.append(_jobs(spark, lambda: orig(self, *args)))
        return seen[-1][0]

    with monkeypatch.context() as m:
        m.setattr(SearchIndex, "_expansion", recording)
        idx.search(limit=10, **q)
    if not seen:  # a term with no tokens expands nothing
        return None, 0
    ((exp, pred), n), = seen
    assert exp is not None, q
    rows = exp[["field", "qtoken", "term", "df"]].itertuples(index=False, name=None)
    return (Counter((f, t, w, int(df)) for f, t, w, df in rows), pred is None), n


@pytest.mark.parametrize("name", ["fresh0", "fresh1", "tombstoned", "upserted"])
def test_held_expansion_equals_probe(corpora, spark, monkeypatch, name):
    """Against the held dictionary every query expands, with no Spark
    job, to the same rows as the dictionary probe (and the fuzzy
    Levenshtein UDF) over the same index, pending deltas included."""
    _, queries, d = corpora[name]
    held = SearchIndex.load(spark, d, _config())
    want = {}
    with monkeypatch.context() as m:
        probe = SearchIndex.load(spark, d, _config())
        _not_held(m, probe, d)
        for i, q in enumerate(queries):
            want[i] = _expansion_rows(spark, probe, m, q)[0]
    assert held._held_dictionary() is not None  # read outside the counted calls
    for i, q in enumerate(queries):
        got, n = _expansion_rows(spark, held, monkeypatch, q)
        assert got == want[i], q
        assert n == 0, q
    assert any(q.get("tolerance") for q in queries)


class _Reads:
    """A DataFrame stand-in for ``SearchIndex.dictionary`` that counts
    (and slows, or fails) the held dictionary's reads."""

    def __init__(self, df, fail=False):
        self.df, self.fail, self.calls = df, fail, 0

    def __getattr__(self, name):
        return getattr(self.df, name)

    def select(self, *cols):
        self.calls += 1
        time.sleep(0.5)  # the other readers miss while this one reads
        if self.fail:
            raise RuntimeError("boom")
        return self.df.select(*cols)


def _race(idx, q, n=3) -> tuple:
    """``n`` readers search ``q`` at once: (pages, errors)."""
    start = threading.Barrier(n)
    got, errors = [], []

    def reader():
        try:
            start.wait(timeout=60)
            got.append([tuple(r) for r in idx.search(limit=10, **q).top_df().collect()])
        except Exception as e:  # surfaced by the caller
            errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    return got, errors


def test_held_dictionary_single_flight(corpora, spark):
    """Readers that miss the held dictionary at once run ONE read
    between them and all get the serial result; a failed read raises in
    every reader and the next search retries it."""
    _, _, d = corpora["fresh1"]
    q = {"term": "rivex sparx", "tolerance": 1, "threshold": 0.0}
    serial = [tuple(r) for r in SearchIndex.load(spark, d, _config())
              .search(limit=10, **q).top_df().collect()]
    assert serial

    idx = SearchIndex.load(spark, d, _config())
    idx.dictionary = reads = _Reads(idx.dictionary)
    got, errors = _race(idx, q)
    assert not errors, errors
    assert reads.calls == 1
    assert got == [serial] * 3

    idx = SearchIndex.load(spark, d, _config())
    idx.dictionary = reads = _Reads(idx.dictionary, fail=True)
    got, errors = _race(idx, q)
    assert not got
    assert len(errors) == 3 and all("boom" in str(e) for e in errors), errors
    reads.fail, calls = False, reads.calls
    assert [tuple(r) for r in idx.search(limit=10, **q).top_df().collect()] == serial
    assert reads.calls == calls + 1


def test_fuzzy_expansion_single_flight(corpora, spark, monkeypatch):
    """Over a dictionary that is not held, readers missing the same
    fuzzy key at once run ONE expansion job between them and all get
    the serial result; a failed job is not cached."""
    _, _, d = corpora["fresh0"]
    _not_held(monkeypatch, SearchIndex.load(spark, d, _config()), d)
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
    got, errors = _race(idx, q)
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


# ------------------------------------------------------- held columns
HELD_SCHEMA = {
    "title": "string", "body": "string", "lang": "enum", "tags": "enum[]",
    "n": "number", "ns": "number[]", "ok": "boolean", "oks": "boolean[]",
}
HELD_DDL = (
    "docid long, title string, body string, lang string, tags array<string>, "
    "n long, ns array<double>, ok boolean, oks array<boolean>"
)
# every column filter operator, the combinators and the empty ones
HELD_WHERES = [
    {"lang": {"eq": "a"}}, {"lang": {"in": ["a", "c"]}}, {"lang": {"nin": ["b"]}},
    {"tags": {"containsAll": ["x", "y"]}}, {"tags": {"containsAny": ["z", "w"]}},
    {"tags": {"containsAny": []}},
    {"n": {"gt": 4}}, {"n": {"gte": 4}}, {"n": {"lt": 3}}, {"n": {"lte": 3}},
    {"n": {"eq": 5}}, {"n": {"between": [2, 6]}},
    {"ns": {"gt": 2.5}}, {"ns": {"gte": 2.5}}, {"ns": {"lt": 1.0}}, {"ns": {"lte": 1.0}},
    {"ns": {"eq": 4.0}}, {"ns": {"between": [1.0, 4.0]}},
    {"ok": True}, {"ok": False}, {"oks": True}, {"oks": False},
    {"and": [{"lang": {"eq": "b"}}, {"n": {"gte": 3}}]},
    {"or": [{"tags": {"containsAny": ["x"]}}, {"ok": True}]},
    {"not": {"lang": {"eq": "a"}}},
    {"lang": {"in": ["a", "b"]}, "n": {"lt": 7}},
    {"and": []}, {"or": []},
]
HELD_FACETS = [
    ("lang", None), ("tags", None), ("ok", None), ("oks", None),
    ("n", {"ranges": [{"from": 0, "to": 3}, {"from": 2, "to": 6}, {"from": 8, "to": 20}]}),
    ("ns", {"ranges": [{"from": 0, "to": 1.0}, {"from": 2.5, "to": 4.0}, {"from": 9, "to": 10}]}),
]


def _held_config() -> IndexConfig:
    return IndexConfig(schema=HELD_SCHEMA)


def _held_rows(seed: int, n_docs: int, start: int = 0) -> list[dict]:
    """``_rows`` with a column of every held type, each null in about
    one doc of ten (array elements too)."""
    rng = random.Random(100 + seed)
    maybe = lambda v: None if rng.random() < 0.1 else v  # noqa: E731
    out = []
    for r in _rows(seed, n_docs, start):
        out.append({
            "docid": r["docid"], "title": r["title"], "body": r["body"],
            "lang": maybe(r["lang"]),
            "tags": maybe(rng.sample(["x", "y", "z", "w", None], rng.randint(0, 3))),
            "n": maybe(r["n"]),
            "ns": maybe([rng.choice([0.5, 1.0, 2.5, 4.0, 7.5, None]) for _ in range(rng.randint(0, 3))]),
            "ok": maybe(rng.random() < 0.5),
            "oks": maybe([rng.random() < 0.5 for _ in range(rng.randint(0, 2))]),
        })
    return out


@pytest.fixture(scope="module")
def held_corpora(spark, tmp_path_factory):
    """name -> (loaded index, index dir) over ``HELD_SCHEMA``: a fresh
    copy, one with tombstones and deltas pending, one upserted."""
    cfg = _held_config()
    frame = lambda rows: spark.createDataFrame(rows, HELD_DDL)  # noqa: E731
    out = {}
    for name in ("fresh", "tombstoned", "upserted"):
        d = str(tmp_path_factory.mktemp(f"held_{name}"))
        IndexBuilder(cfg, postings_partitions=2).build(
            frame(_held_rows(0, 160)), d, input_id=uuid.uuid4().hex
        )
        if name == "tombstoned":
            remove_documents(spark, d, cfg,
                             spark.createDataFrame([(i,) for i in range(0, 160, 6)], "docid long"))
            insert_documents(spark, d, cfg, frame(_held_rows(1, 20, start=500)))
        elif name == "upserted":
            upsert_documents(spark, d, cfg, frame(_held_rows(2, 12, start=150)))
        out[name] = (SearchIndex.load(spark, d, cfg), d)
    return out


# a search per threshold, so filters also meet partial matches; each
# corpus pairs the filters with the thresholds in another rotation
_HELD_TERMS = (
    {"term": "river"}, {"term": "river fox", "threshold": 0.0},
    {"term": "fox engine sea", "threshold": 0.5}, {"term": "spark mount", "threshold": 1.0},
)


@pytest.mark.parametrize("name", ["fresh", "tombstoned", "upserted"])
def test_held_filters_equal_distributed(held_corpora, monkeypatch, name):
    """Every column filter of a bounded search, answered from the held
    columns, equals the distributed plan's where-join."""
    idx, _ = held_corpora[name]
    for i, where in enumerate(HELD_WHERES):
        q = _HELD_TERMS[(i + len(name)) % len(_HELD_TERMS)]
        drv = idx.search(limit=10, where=where, **q)
        assert drv.ranked is not None, (where, q)
        dist = _distributed(monkeypatch, lambda: idx.search(limit=10, where=where, **q))
        assert dist.ranked is None
        got = list(zip(drv.ranked["docid"].tolist(), drv.ranked["score"].tolist()))
        _assert_same_ranking(got, _ranked_rows(dist))
        # a filter-only search takes its docids from the held rows too
        drv = idx.search(where=where)
        dist = _distributed(monkeypatch, lambda: idx.search(where=where))
        assert drv.scored.schema == dist.scored.schema, where
        assert _ranked_rows(drv) == _ranked_rows(dist), where
    assert idx._held_columns() is not None


@pytest.mark.parametrize("name", ["fresh", "tombstoned", "upserted"])
def test_held_facets_equal_distributed(held_corpora, monkeypatch, spark, name):
    """facets_df and facet_count_df over each held type of a bounded
    result count on the driver (no job) with the distributed plan's
    rows and schema, a result with no match included."""
    idx, _ = held_corpora[name]
    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    for term in ("river fox", "zzzz" if name == "fresh" else "mount"):
        for prop, cfg in HELD_FACETS:
            for fn in (idx.facets_df, idx.facet_count_df):
                sr = idx.search(term=term)
                assert sr.ranked is not None
                drv = fn(sr, prop, cfg)
                got, n = _jobs(spark, lambda: rows(drv))
                assert n == 0, (term, prop, fn.__name__)
                dist = _distributed(monkeypatch, lambda: fn(idx.search(term=term), prop, cfg))
                assert got == rows(dist), (term, prop, fn.__name__)
                assert drv.schema == dist.schema, (term, prop, fn.__name__)
            n = idx.facet_count_df(sr, prop, cfg).collect()[0]["facet_count"]
            assert n == len(idx.facets_df(sr, prop, cfg).collect()), (term, prop)


RANGE_ROWS = [
    {"docid": 1, "t": "red apple", "n": 2.0, "ns": [1.0, 5.0]},
    {"docid": 2, "t": "red pear", "n": 7.0, "ns": [5.5]},
    {"docid": 3, "t": "blue plum"},
]


def test_range_facets_match_oracle(spark, tmp_path, monkeypatch):
    """Range facets follow the reference's getFacets on both paths: a
    ``number`` range is listed from 0, a ``number[]`` range only once a
    matched doc falls in it, no ranges give no rows, and the facet's
    count is the number of its values — with a term that matches, one
    that matches nothing, and no ranges."""
    from orama_spark.oracle.engine import OramaOracle

    schema = {"t": "string", "n": "number", "ns": "number[]"}
    cfg = IndexConfig(schema=schema)
    d = str(tmp_path / "ranges")
    rows = [{"ns": None, "n": None, **r} for r in RANGE_ROWS]
    IndexBuilder(cfg, postings_partitions=2).build(
        spark.createDataFrame(rows, "docid long, t string, n double, ns array<double>"),
        d, input_id="ranges",
    )
    idx = SearchIndex.load(spark, d, cfg)
    orc = OramaOracle(schema)
    for r in RANGE_ROWS:
        orc.insert({k: v for k, v in r.items() if k != "docid"}, docid=r["docid"])
    ranges = [{"from": 0, "to": 3}, {"from": 3, "to": 6}, {"from": 8, "to": 10}]

    def facet(prop, facet_cfg):
        sr = idx.search(term=term)
        values = {r["facet_value"]: r["facet_count"]
                  for r in idx.facets_df(sr, prop, facet_cfg).collect()}
        return {"count": idx.facet_count_df(sr, prop, facet_cfg).collect()[0]["facet_count"],
                "values": values}

    for term in ("red", "zzzz"):
        scored = [(h["id"], h["score"]) for h in orc.search(term=term, limit=10)["hits"]]
        for prop in ("n", "ns"):
            for facet_cfg in ({"ranges": ranges}, {}):
                want = orc.get_facets(scored, {prop: facet_cfg})[prop]
                assert facet(prop, facet_cfg) == want, (term, prop, facet_cfg, "held")
                with monkeypatch.context() as m:
                    m.setattr(engine, "DRIVER_POSTINGS_CAP", -1)
                    got = facet(prop, facet_cfg)
                assert got == want, (term, prop, facet_cfg, "distributed")


def test_bounded_filter_and_facet_jobs(corpora, spark):
    """Warm, a bounded search with a column-only ``where`` runs one job
    (its postings fetch) and a facet of a bounded result runs none."""
    _, _, d = corpora["fresh0"]
    idx = SearchIndex.load(spark, d, _config())
    idx.search(term="fox", where={"n": {"lt": 3}})  # reads the held tables
    for q in ({"term": "river", "where": {"lang": {"eq": "b"}}},
              {"term": "river fox", "threshold": 0.0, "where": {"n": {"gt": 4}}}):
        sr, n = _jobs(spark, lambda: idx.search(limit=10, **q))
        assert sr.ranked is not None and len(sr.ranked), q
        assert n == 1, (q, n)
    sr = idx.search(term="mountain")
    _, n = _jobs(spark, lambda: idx.facets_df(sr, "lang").collect())
    assert n == 0


@pytest.mark.parametrize("where", [
    {"nope": {"eq": 1}},
    {"n": {"near": 1}},
    {"and": [{"lang": {"eq": "a"}}, {"nope": {"eq": 1}}]},
])
def test_invalid_where_raises_whatever_the_term(corpora, where):
    """An invalid ``where`` raises on every path, as the reference's
    does: a term that tokenizes to nothing (no candidate to filter), a
    bounded term and no term."""
    idx, _, _ = corpora["fresh0"]
    for q in ({"term": "!!!"}, {"term": "river"}, {}):
        with pytest.raises(ValueError, match="UNKNOWN_FILTER_PROPERTY|INVALID_FILTER_OPERATION"):
            idx.search(where=where, **q)


def test_held_filter_evaluated_once_per_tree(corpora, spark, monkeypatch):
    """A held-only ``where`` is evaluated on the held rows once per tree
    and loaded index; repeats, with any term or none, look it up."""
    from orama_spark.query import filters

    calls = []
    passing = filters.WhereCompiler.passing
    monkeypatch.setattr(filters.WhereCompiler, "passing",
                        lambda self, where, rows: calls.append(where) or passing(self, where, rows))
    _, _, d = corpora["fresh0"]
    idx = SearchIndex.load(spark, d, _config())
    trees = ({"lang": {"eq": "a"}}, {"n": {"gte": 4}}, {"lang": {"eq": "b"}})
    first = [idx.search(term="river", where=w).ranked["docid"].tolist() for w in trees]
    assert len(set(map(tuple, first))) == 3
    for w, want in zip(trees, first):
        assert idx.search(term="river", where=w).ranked["docid"].tolist() == want
        idx.search(term="fox mountain", threshold=0.0, where=w)
        idx.search(where=w).count()
    assert calls == list(trees)


def test_held_columns_single_flight(corpora, spark):
    """Four readers whose first filtered search starts at once read the
    held columns once between them and all get the serial result."""
    _, _, d = corpora["fresh1"]
    q = {"term": "river", "where": {"lang": {"in": ["a", "c"]}}}
    serial = [tuple(r) for r in SearchIndex.load(spark, d, _config())
              .search(limit=10, **q).top_df().collect()]
    assert serial
    idx = SearchIndex.load(spark, d, _config())
    idx.docs = reads = _Reads(idx.docs)
    got, errors = _race(idx, q, n=4)
    assert not errors, errors
    assert reads.calls == 1
    assert got == [serial] * 4


def test_no_columns_held_over_the_cap(corpora, spark, monkeypatch):
    """With DRIVER_POSTINGS_CAP under the docs' rows nothing is held: a
    bounded filtered search joins the ``where`` docids, a facet stays a
    Spark plan, and both answer as before."""
    _, _, d = corpora["fresh0"]
    q = {"term": "note", "where": {"lang": {"eq": "b"}}}
    idx = SearchIndex.load(spark, d, _config())
    want = [tuple(r) for r in idx.search(limit=10, **q).top_df().collect()]
    facets = sorted(tuple(r) for r in idx.facets_df(idx.search(term="note"), "lang").collect())
    monkeypatch.setattr(engine, "DRIVER_POSTINGS_CAP", 150)
    idx = SearchIndex.load(spark, d, _config())
    sr = idx.search(limit=10, **q)
    assert sr.ranked is not None
    assert idx._held_columns() is None
    assert [tuple(r) for r in sr.top_df().collect()] == want
    df = idx.facets_df(idx.search(term="note"), "lang")
    assert "LocalTableScan" not in df._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(tuple(r) for r in df.collect()) == facets


# ------------------------------------------------- stored-schema reads
@pytest.mark.parametrize("name", ["fresh0", "tombstoned"])
def test_load_starts_no_job(corpora, spark, name):
    """Every table (and pending table) is read with its stored schema,
    equal to the one Spark infers: ``load`` starts no job."""
    _, _, d = corpora[name]
    _, n = _jobs(spark, lambda: SearchIndex.load(spark, d, _config()))
    assert n == 0
    for t in sorted(os.listdir(d)):
        if os.path.isdir(os.path.join(d, t)):
            path = os.path.join(d, t)
            assert read_table(spark, path).schema == spark.read.parquet(path).schema, t


def test_build_reads_no_schema(spark, tmp_path, monkeypatch):
    """A fresh build reads back docs, tokens, postings and the
    dictionary with their stored schemas: four jobs fewer than with
    Spark's schema inference."""
    st = spark.sparkContext.statusTracker()
    rows = _rows(6, 60)

    def jobs(name):
        before = set(st.getJobIdsForGroup(None))
        _build(spark, str(tmp_path / name), rows)
        return len(set(st.getJobIdsForGroup(None)) - before)

    _build(spark, str(tmp_path / "warm"), rows)
    stored = jobs("stored")
    with monkeypatch.context() as m:
        m.setattr(indexer, "read_table", lambda spark, path: spark.read.parquet(path))
        inferred = jobs("inferred")
    assert inferred - stored == 4, (inferred, stored)
