"""Workload inputs, all derived from the seed: the web-pages corpus, the
oracle over it, and the query pool with each query's expected answer."""

from __future__ import annotations

import itertools
import json
import math
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from orama_spark.config import IndexConfig
from orama_spark.kernel import TokenizerConfig
from orama_spark.oracle.engine import OramaOracle
from orama_spark.sources.webpages import CorpusGenerator, corpus_df

SCHEMA = {"text": "string", "lang": "enum"}
LANGS = ("en", "de", "fr", "es")
TEMPLATES = ("single", "or", "and", "prefix", "fuzzy", "filter", "facet", "wand")
TOP_K = 10
# Distinct queries per template. Draws from the pool are Zipf over its
# ranks, so a run repeats some keys (driver-side fuzzy and WAND caches
# hit) and meets others for the first time (they miss).
POOL_PER_TEMPLATE = 12
SCORE_RTOL = 1e-9


def index_config() -> IndexConfig:
    """The web profile: stemming and English stopwords on ``text``,
    ``lang`` as a filterable, facetable enum."""
    return IndexConfig(schema=dict(SCHEMA), tokenizer=TokenizerConfig.full())


def materialize_corpus(spark, n_docs: int, seed: int, path: str) -> pd.DataFrame:
    """Write ``corpus_df(seed)`` as parquet and return it in docid
    order. Builds read the parquet, so generation is never timed."""
    from pyspark.sql import functions as F

    (
        corpus_df(spark, n_docs, seed=seed)
        .select(F.col("doc_id").alias("docid"), "url", "text", "lang")
        .write.parquet(path)
    )
    return pq.read_table(path).to_pandas().sort_values("docid", ignore_index=True)


def extra_docs(seed: int, first_id: int, count: int) -> pd.DataFrame:
    """Documents beyond the corpus (ids ``first_id`` onwards) from the
    same generator, for the insert batches of the ``serve`` writer."""
    ids = np.arange(first_id, first_id + count, dtype=np.int64)
    cols = CorpusGenerator(seed=seed).batch(ids)
    return pd.DataFrame(
        {"docid": ids, "url": cols["url"], "text": cols["text"], "lang": cols["lang"]}
    )


def build_oracle(rows: pd.DataFrame) -> OramaOracle:
    oracle = OramaOracle(dict(SCHEMA), tokenizer=TokenizerConfig.full())
    for docid, text, lang in zip(rows["docid"], rows["text"], rows["lang"]):
        oracle.insert({"text": text, "lang": lang}, docid=int(docid))
    return oracle


@dataclass
class Query:
    template: str
    term: str
    kw: dict = field(default_factory=dict)  # extra search() arguments
    expected: object = None  # [(docid, score)] top-k, or {lang: count}

    @property
    def key(self) -> str:
        return f"{self.template}|{self.term}|{json.dumps(self.kw, sort_keys=True)}"


def expected_answer(oracle: OramaOracle, q: Query):
    if q.template == "facet":
        r = oracle.search(term=q.term, facets={"lang": {}}, limit=0)
        return dict(r["facets"]["lang"]["values"])
    if q.template == "wand":
        # WAND is exact-term top-k; the pool only holds words whose
        # exact-mode post-filter keeps every matching document, so the
        # plain path's exact answer is this one
        r = oracle.search(term=q.term, exact=True, limit=TOP_K)
    else:
        r = oracle.search(term=q.term, limit=TOP_K, **q.kw)
    return [(h["id"], h["score"]) for h in r["hits"]]


def mismatch(q: Query, rows: list) -> str | None:
    """None when ``rows`` (the collected page) is the expected answer:
    facet counts equal; top-k docids equal and in the same order, each
    score within ``SCORE_RTOL`` of the oracle's. An empty page never
    passes: every pool query is drawn to hit."""
    want = q.expected
    if q.template == "facet":
        got = {r["facet_value"]: r["facet_count"] for r in rows}
        return None if got and got == want else f"facets {got} != {want}"
    got = [(r["docid"], r["score"]) for r in rows]
    if not got or [d for d, _ in got] != [d for d, _ in want]:
        return f"docids {[d for d, _ in got]}, expected {[d for d, _ in want]}"
    for (d, gs), (_, ws) in zip(got, want):
        if not math.isclose(gs, ws, rel_tol=SCORE_RTOL, abs_tol=1e-12):
            return f"doc {d} scored {gs!r}, expected {ws!r}"
    return None


class QueryPool:
    """``POOL_PER_TEMPLATE`` distinct queries per template, every one
    answered by the oracle with at least one hit. Words are drawn Zipf
    over the corpus vocabulary ranked by frequency."""

    def __init__(self, rows: pd.DataFrame, oracle: OramaOracle, seed: int):
        self.oracle = oracle
        self._rng = np.random.default_rng([seed, 1])
        self._texts = list(rows["text"])
        tok = oracle.tokenizer
        postings = oracle.terms["text"]
        self.stem: dict[str, str] = {}
        for w, _ in Counter(w for t in self._texts for w in t.split()).most_common():
            toks = tok.tokenize(w)
            if len(toks) == 1 and len(postings.get(toks[0], ())) >= 2:
                self.stem[w] = toks[0]
        self._words = list(self.stem)
        p = 1.0 / np.arange(1, len(self._words) + 1)
        self._p = p / p.sum()
        self.by_template = {t: self._fill(t) for t in TEMPLATES}

    def _word(self, min_len: int = 1) -> str:
        while True:
            w = self._words[self._rng.choice(len(self._words), p=self._p)]
            if len(w) >= min_len:
                return w

    def _candidate(self, template: str) -> Query | None:
        rng, tok = self._rng, self.oracle.tokenizer
        if template in ("single", "facet"):
            return Query(template, self._word())
        if template == "or":
            a, b = self._word(), self._word()
            return Query(template, f"{a} {b}") if self.stem[a] != self.stem[b] else None
        if template == "and":
            # two words of one document, so the conjunction can hit
            doc = self._texts[rng.integers(len(self._texts))]
            ws = sorted({w for w in doc.split() if w in self.stem})
            if len(ws) < 2:
                return None
            a, b = rng.choice(ws, size=2, replace=False)
            if self.stem[a] == self.stem[b]:
                return None
            return Query(template, f"{a} {b}", {"threshold": 0.0})
        if template == "prefix":
            w = self._word(min_len=6)
            p = w[: len(w) - 3]
            return Query(template, p) if tok.tokenize(p) == [p] else None
        if template == "fuzzy":
            w = self._word(min_len=5)
            i = int(rng.integers(1, len(w)))
            c = "abcdefghijklmnopqrstuvwxyz"[int(rng.integers(26))]
            return Query(template, w[:i] + c + w[i + 1:], {"tolerance": 1}) if c != w[i] else None
        if template == "filter":
            lang = LANGS[int(rng.integers(len(LANGS)))]
            return Query(template, self._word(), {"where": {"lang": {"eq": lang}}})
        if template == "wand":
            w = self._word()
            n_docs = len(self.oracle.terms["text"][self.stem[w]])
            if self.oracle.search(term=w, exact=True, limit=0)["count"] != n_docs:
                return None
            return Query(template, w)
        raise ValueError(template)

    def _fill(self, template: str) -> list[Query]:
        out: dict[str, Query] = {}
        for _ in range(200 * POOL_PER_TEMPLATE):
            if len(out) == POOL_PER_TEMPLATE:
                break
            q = self._candidate(template)
            if q is None or q.key in out:
                continue
            q.expected = expected_answer(self.oracle, q)
            if q.expected:
                out[q.key] = q
        if len(out) < POOL_PER_TEMPLATE:
            raise RuntimeError(f"could not draw {POOL_PER_TEMPLATE} hitting {template} queries")
        return list(out.values())

    def stream(self, seed: int, client: int):
        """Endless query sequence for one client: every template once
        per round of ``len(TEMPLATES)`` queries, in a seeded order. The
        pool rank used in round i is the Zipf quantile of the i-th
        van der Corput point, the same for every seed, so repeated
        (cache-hitting) and first-time keys come in the same pattern on
        every seed while the seed picks the words. Clients start at
        different points of the sequence."""
        rng = np.random.default_rng([seed, 2, client])
        cdf = np.cumsum(1.0 / np.arange(1, POOL_PER_TEMPLATE + 1) ** 1.1)
        cdf /= cdf[-1]
        for i in itertools.count(1 + 5 * client):
            rank = min(int(np.searchsorted(cdf, _van_der_corput(i))), POOL_PER_TEMPLATE - 1)
            for t in rng.permutation(TEMPLATES):
                yield self.by_template[t][rank]


def _van_der_corput(i: int) -> float:
    """The i-th point of the base-2 van der Corput sequence in (0, 1)."""
    u, f = 0.0, 0.5
    while i:
        u += f * (i & 1)
        i >>= 1
        f /= 2
    return u
