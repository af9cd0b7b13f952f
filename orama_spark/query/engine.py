"""Distributed BM25 full-text query engine (the Spark rewrite of
Orama's search path).

Reference flow being reproduced (methods/search-fulltext.ts:23-252 +
components/index.ts:457-592):

    tokenize query -> expand each token against the term dictionary
    (exact / prefix / fuzzy) -> score every (doc, matched word) with
    BM25 -> sum per doc across properties and words (boost applied per
    property) -> threshold semantics -> optional exact post-filter ->
    order by (score DESC, docid ASC) -> paginate; facets/groups run
    over the full pre-pagination match set.

Physical plan (what makes this hold at 10^12 docs):
  * the dictionary scan is pruned: it is stored sorted by (field, term),
    so exact/prefix lookups hit few parquet row-groups; fuzzy expansion
    scans a length-banded slice refined by an Arrow-vectorized bounded
    Levenshtein.
  * bounded searches (the normal case: a handful of query tokens whose
    expansion has at most EXPANSION_COLLECT_CAP rows and whose postings
    number at most DRIVER_POSTINGS_CAP) score on the driver, as Orama
    scores in process. One job reads the matched dictionary rows (a
    fuzzy query reads its cached expansion instead); Σdf over them
    bounds the postings rows, so a query over the cap is sent to the
    distributed plan before any posting is read. A second job reads the
    postings under the same literal term predicate (parquet min/max
    prunes row-groups on the sorted term column), joined with the
    ``where`` docids by a broadcast of the bounded postings side. The
    rows are scored with the numpy BM25 WAND uses (build/blocks.py
    ``bm25_scores``, idf per dictionary row), summed per doc in a fixed
    (field, term) order, thresholded and ranked by (score DESC, docid
    ASC); the result is a driver-side frame and its pages are local
    DataFrames (a LocalTableScan: collecting one starts no job).
  * over the cap the same query runs as a distributed plan: scoring is
    pure JVM expression code (whole-stage codegen) over (tf, field_len)
    columns already denormalized into postings, with df joined from the
    pruned expansion (broadcast, plus the literal postings pre-filter,
    so postings never shuffle for a query) and avg_field_length /
    docs_count inlined as literals. No Python in the per-posting path.
  * top-k over the distributed plan uses orderBy().limit() =
    TakeOrdered (per-partition heaps + driver merge), never a global
    sort.
"""

from __future__ import annotations

import functools
import json
import math
import os
import re
import threading
from concurrent.futures import Future
from typing import Optional

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import (
    BooleanType, DoubleType, LongType, StringType, StructField, StructType,
)

from ..build.blocks import bm25_scores, idf_per_row
from ..build.indexer import term_len
from ..config import IndexConfig
from ..kernel.levenshtein import bounded_levenshtein_batch
from ..kernel.tokenizer import Tokenizer
from .filters import WhereCompiler

# Rows a collected expansion (field, qtoken, term, df) may have. Over it
# a search runs the distributed plan, and a fuzzy expansion is joined as
# a plan (no broadcast or literal IN-list pushdown).
EXPANSION_COLLECT_CAP = 50_000
# Postings rows a search may score on the driver. The bound is checked
# before any postings row is read: Σdf over the matched (field, term)
# pairs of the expansion is at least the postings rows they select.
# Measured with tools/cap_crossover.py (100k-doc web corpus, local[4],
# 4-core VM; driver vs distributed, median ms): OR queries of common
# words stay 2-3x faster on the driver to 324k rows (950 vs 2,995),
# while one prefix expanding to many words is where the driver path
# pays most per row: 255k rows 578 vs 819, 484k 900 vs 1,036, 916k
# 1,192 vs 1,126, 1.33M 1,399 vs 1,068. The cap sits where that worst
# shape is still ~30% faster on the driver, about half its crossover
# (between 484k and 916k rows). Both caps are read at call time, so a test can
# force the distributed path by patching them (to -1: even an empty
# expansion is over them).
DRIVER_POSTINGS_CAP = 250_000

_SCORED = StructType([
    StructField("docid", LongType()), StructField("score", DoubleType()),
])
_EXPANSION = StructType([
    StructField("field", StringType()), StructField("qtoken", StringType()),
    StructField("term", StringType()), StructField("df", LongType()),
])


def _escape_java_regex(s: str) -> str:
    """Port of escapeRegex (search-fulltext.ts:139-141)."""
    return re.sub(r"[.*+?^${}()|\[\]\\]", lambda m: "\\" + m.group(0), s)


# Index language -> ICU collation locale (Spark 4 collation names).
# The reference sorts string properties with localeCompare(lang)
# (components/sorter.ts:166-172); these are the matching ICU locales.
_ICU_LOCALE = {
    "arabic": "ar", "armenian": "hy", "bulgarian": "bg", "czech": "cs",
    "danish": "da", "dutch": "nl", "english": "en", "finnish": "fi",
    "french": "fr", "german": "de", "greek": "el", "hungarian": "hu",
    "indian": "hi", "indonesian": "id", "irish": "ga", "italian": "it",
    "japanese": "ja", "lithuanian": "lt", "mandarin": "zh",
    "nepali": "ne", "norwegian": "nb", "portuguese": "pt",
    "romanian": "ro", "russian": "ru", "sanskrit": "UNICODE",
    "serbian": "sr", "slovenian": "sl", "spanish": "es",
    "swedish": "sv", "tamil": "ta", "turkish": "tr", "ukrainian": "uk",
}


def icu_collation_for(language: str) -> Optional[str]:
    """ICU collation name for an index language; None -> binary order
    (F.collate unavailable or unknown language)."""
    if not hasattr(F, "collate"):
        return None
    return _ICU_LOCALE.get(language)


def _paged(df: DataFrame, keys: list, offset: int, limit: int) -> DataFrame:
    """TakeOrdered pagination: ``orderBy(keys).limit(offset+limit)``
    plans as TakeOrderedAndProject — a per-partition bounded heap plus a
    single bounded merge — instead of a global sort. The row_number
    window that applies the offset then runs over at most offset+limit
    rows, so the infamous "No Partition Defined" window never sees an
    unbounded input. This is the same pattern as SearchResult.top_df;
    every paginated surface (sortBy, distinctOn, string facets) routes
    through here so a million-hit query can't funnel the full match set
    into one task."""
    if limit <= 0:
        return df.limit(0)
    top = df.orderBy(*keys).limit(offset + limit)
    if offset == 0:
        return top
    w = Window.orderBy(*keys)
    return (
        top.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > offset)
        .drop("__rn")
    )


class SearchResult:
    """Lazy result over the full pre-pagination match set (docid,
    score); hits/facets/groups derive from it.

    A bounded search hands over ``ranked``: the whole match set on the
    driver, in rank order (score DESC, docid ASC). ``scored`` is then
    built from it on first use as a local DataFrame, ``count()`` is its
    length and a page is a slice. ``fetch`` is the search's postings
    fetch, kept for plan inspection (not run when the expansion leaves
    nothing to score; None for a term with no tokens).
    Over the cap ``scored`` is the distributed plan and ``ranked`` is
    None."""

    def __init__(
        self,
        index: "SearchIndex",
        scored: Optional[DataFrame] = None,
        offset: int = 0,
        limit: int = 10,
        ranked: Optional[pd.DataFrame] = None,
        fetch: Optional[DataFrame] = None,
    ):
        self.index = index
        self._scored = scored
        self.offset = offset
        self.limit = limit
        self.ranked = ranked
        self.fetch = fetch

    @property
    def scored(self) -> DataFrame:
        if self._scored is None:
            self._scored = self.index._local(self.ranked, _SCORED)
        return self._scored

    def count(self) -> int:
        if self.ranked is not None:
            return len(self.ranked)
        return self.scored.count()

    def top_df(self) -> DataFrame:
        """(docid, score) page in rank order (score DESC, docid ASC)."""
        if self.ranked is not None:
            lo = self.offset
            page = self.ranked.iloc[lo : lo + max(self.limit, 0)]
            return self.index._local(page, _SCORED)
        return _paged(
            self.scored, [F.desc("score"), F.asc("docid")], self.offset, self.limit
        )

    def hits_df(self) -> DataFrame:
        """Page joined with full documents (late materialization:
        only offset+limit docs are ever fetched, search.ts:129-131)."""
        return (
            self.top_df()
            .join(self.index.docs_by_docid, "docid")
            .orderBy(F.desc("score"), F.asc("docid"))
        )

    def hits(self) -> list[dict]:
        return [r.asDict(recursive=True) for r in self.hits_df().collect()]

    def pinned_page(self, store, term: Optional[str]) -> list[tuple]:
        """Ranked page with pinning rules applied (pinning splices docs
        into fixed positions BEFORE pagination, search-fulltext.ts:193).

        Driver-side by design: pinning manipulates the ranked page list.
        We collect the top offset+limit+|pinned| unpinned rows, resolve
        each promoted doc's true state (in-results score vs exists-in-
        corpus) with two tiny lookups against the full scored/docs
        DataFrames, then splice exactly as pinning-manager.ts:13-139."""
        from .pinning import apply_pinning_rules

        rules = store.matching_rules(term)
        promoted = {p[0] for r in rules for p in r.promote}
        need = self.offset + self.limit + len(promoted)
        top = [
            (r["docid"], r["score"])
            for r in self.scored.orderBy(F.desc("score"), F.asc("docid"))
            .limit(need)
            .collect()
        ]
        if promoted:
            # promoted docs ranked below the collected slice still count
            # as "in results" with their real score (manager.ts:79-83)
            in_scored = {
                r["docid"]: r["score"]
                for r in self.scored.where(
                    F.col("docid").isin(list(promoted))
                ).collect()
            }
            top_ids = {i for i, _ in top}
            extras = [
                (i, s) for i, s in in_scored.items() if i not in top_ids
            ]
            docid = self.index.config.docid_col
            existing = {
                r[0]
                for r in self.index.docs.where(
                    F.col(docid).isin(list(promoted))
                )
                .select(docid)
                .collect()
            }
            existing |= {i for i, _ in top} | set(in_scored)
        else:
            extras = []
            existing = None
        final = apply_pinning_rules(store, top + extras, term, existing_docids=existing)
        return final[self.offset : self.offset + self.limit]


def _term_predicate(tokens: list[str], exact: bool) -> Optional[Column]:
    """Literal predicate on ``term`` covering every word the tokens
    expand to (exact: IN-list, prefix: startswith) — the form parquet
    min/max pruning understands; None when a "" token expands to the
    whole trie."""
    if any(t == "" for t in tokens):
        return None
    if exact:
        return F.col("term").isin(tokens)
    return functools.reduce(Column.__or__, [F.col("term").startswith(t) for t in tokens])


def _expand(tokens: list[str], exact: bool, dic: pa.Table) -> pd.DataFrame:
    """Expansion rows (field, qtoken, term, df) of fetched dictionary
    rows: one row per (query token, matched word), tokens repeated as
    often as the query repeats them — the rows ``_expansion_df`` plans."""
    parts = []
    for tok in tokens:
        if tok == "" and not exact:
            hit = dic
        else:
            op = pc.equal if exact else pc.starts_with
            hit = dic.filter(op(dic.column("term"), tok))
        part = hit.to_pandas()
        part.insert(1, "qtoken", tok)
        parts.append(part)
    return pd.concat(parts, ignore_index=True)


def _misses_a_token(exp: pd.DataFrame, tokens: list[str], threshold: float) -> bool:
    """Threshold 0 with several tokens needs every token to match
    somewhere (index.ts:554-560)."""
    return threshold == 0 and len(tokens) > 1 and not set(tokens) <= set(exp["qtoken"])


def _ranked(ids=(), score=()) -> pd.DataFrame:
    return pd.DataFrame({
        "docid": np.asarray(ids, dtype=np.int64),
        "score": np.asarray(score, dtype=np.float64),
    })


def _rank_order(ids: np.ndarray, score: np.ndarray) -> np.ndarray:
    """Indices in rank order: score DESC, docid ASC. NaN ranks first,
    as Spark orders NaN above every number."""
    return np.lexsort((ids, -score, ~np.isnan(score)))


def _with_delta(table: DataFrame, delta: DataFrame) -> DataFrame:
    """Compose summed df deltas (field, term, ddf) into either dictionary
    table: a full outer join on (field, term) that keeps the table's
    columns, derives term_len for terms only the delta knows, and drops
    terms whose df falls to 0."""
    df = F.coalesce(F.col("df"), F.lit(0)) + F.coalesce(F.col("ddf"), F.lit(0))
    cols = {"df": df, "term_len": F.coalesce(F.col("term_len"), term_len())}
    return (
        table.join(delta, ["field", "term"], "full_outer")
        .select(*[cols[c].alias(c) if c in cols else c for c in table.columns])
        .where(F.col("df") > 0)
    )


class SearchIndex:
    """A loaded index: docs + postings + dictionary + stats."""

    def __init__(
        self,
        spark: SparkSession,
        config: IndexConfig,
        docs: DataFrame,
        postings: DataFrame,
        dictionary: DataFrame,
        dictionary_bylen: DataFrame,
        stats: dict,
    ):
        self.spark = spark
        self.config = config
        self.docs = docs
        # docs keyed by the engine's "docid" name: the side every
        # result-to-document join takes
        self.docs_by_docid = docs.withColumnRenamed(config.docid_col, "docid")
        self.postings = postings
        self.dictionary = dictionary
        # the (field, term_len, term)-sorted copy fuzzy length bands scan
        self.dictionary_bylen = dictionary_bylen
        self.stats = stats
        self.tokenizer = Tokenizer(config.tokenizer)
        # (tokens, props, tolerance) -> Future of the collected fuzzy
        # expansion | None; the lock makes the first reader to miss a
        # key its only computer (_fuzzy_expansion)
        self._fuzzy_cache: dict[tuple, Future] = {}
        self._fuzzy_lock = threading.Lock()
        # props -> the (dictionary, postings) scans of the expansion
        # probe and the bounded path
        self._bases: dict[tuple, tuple] = {}
        self._where = WhereCompiler(
            config,
            docs,
            postings.select("field", "term", "docid"),
            self.tokenizer,
        )

    # ---------------------------------------------------------------- io
    @classmethod
    def load(cls, spark: SparkSession, index_dir: str, config: IndexConfig) -> "SearchIndex":
        """Load index tables; tombstones and dictionary deltas written by
        incremental maintenance (build/maintenance.py) are composed
        lazily — an anti-join on the (small) tombstone set and a df
        adjustment join on the (small) delta set — until compact()."""
        with open(os.path.join(index_dir, "stats.json")) as f:
            stats = json.load(f)
        docs = spark.read.parquet(os.path.join(index_dir, "docs"))
        postings = spark.read.parquet(os.path.join(index_dir, "postings"))
        dictionary = spark.read.parquet(os.path.join(index_dir, "dictionary"))
        dictionary_bylen = spark.read.parquet(os.path.join(index_dir, "dictionary_bylen"))

        tomb_path = os.path.join(index_dir, "tombstones")
        if os.path.exists(tomb_path):
            tombs = spark.read.parquet(tomb_path)
            docs = docs.join(
                tombs.withColumnRenamed("docid", config.docid_col),
                config.docid_col,
                "left_anti",
            )
            postings = postings.join(tombs, "docid", "left_anti")

        delta_path = os.path.join(index_dir, "dictionary_delta")
        if os.path.exists(delta_path):
            delta = (
                spark.read.parquet(delta_path)
                .groupBy("field", "term")
                .agg(F.sum("ddf").alias("ddf"))
            )
            dictionary = _with_delta(dictionary, delta)
            dictionary_bylen = _with_delta(dictionary_bylen, delta)

        return cls(spark, config, docs=docs, postings=postings, dictionary=dictionary,
                   dictionary_bylen=dictionary_bylen, stats=stats)

    # -------------------------------------------------------- expansion
    def _expansion_df(
        self, tokens: list[str], props: list[str], exact: bool, tolerance: int
    ) -> DataFrame:
        """Expansion plan: (field, qtoken, term, df) per matched word.
        Exact/prefix/fuzzy semantics per trees/radix.ts:240-303 and
        find_words in the oracle. Pure plan — no driver action."""
        d = self.dictionary
        parts = []
        for tok in tokens:
            base = d.where(F.col("field").isin(props))
            if tok == "" and not exact:
                cond = F.lit(True)  # empty token matches the whole trie
            elif exact:
                cond = F.col("term") == tok
            elif tolerance:
                # two prunable scans instead of one unprunable OR:
                #  (a) prefix matches from the (field, term)-sorted
                #      dictionary (startswith pushes into row-group
                #      min/max; accepted unconditionally,
                #      levenshtein.ts:26-31)
                #  (b) the length band from the (field, term_len,
                #      term)-sorted copy — the band is a pushdown range
                #      predicate there — refined by the bounded-
                #      Levenshtein Arrow UDF; NOT startswith keeps the
                #      two scans disjoint
                pre = base.where(F.col("term").startswith(tok)).select(
                    "field", F.lit(tok).alias("qtoken"), "term", "df"
                )
                band = (
                    self.dictionary_bylen.where(F.col("field").isin(props))
                    .where(
                        (F.col("term_len") >= F.lit(len(tok) - tolerance))
                        & (F.col("term_len") <= F.lit(len(tok) + tolerance))
                        & ~F.col("term").startswith(tok)
                    )
                    .where(_fuzzy_udf(tok, tolerance)(F.col("term")))
                    .select("field", F.lit(tok).alias("qtoken"), "term", "df")
                )
                parts.append(pre.unionByName(band))
                continue
            else:
                cond = F.col("term").startswith(tok)
            part = base.where(cond).select(
                "field", F.lit(tok).alias("qtoken"), "term", "df"
            )
            parts.append(part)
        exp = parts[0]
        for p in parts[1:]:
            exp = exp.unionByName(p)
        return exp

    def _postings_pushdown(
        self, tokens: list[str], props: list[str], exact: bool
    ) -> DataFrame:
        """Postings scan pre-filtered with LITERAL predicates so parquet
        min/max prunes row-groups on the sorted term column — the reason
        exact/prefix queries never shuffle or fully scan postings."""
        p = self.postings.where(F.col("field").isin(props))
        pred = _term_predicate(tokens, exact)
        return p if pred is None else p.where(pred)

    def _fuzzy_expansion(
        self, tokens: list[str], props: list[str], tolerance: int
    ) -> Optional[pd.DataFrame]:
        """The expansion rows of a fuzzy query, or None when there are
        more than EXPANSION_COLLECT_CAP. Their matched-word set is the
        literal IN-list that keeps the postings scan row-group-pruned (a
        fuzzy predicate can't push into parquet). They only depend on
        the dictionary, so they are collected once per (tokens, props,
        tolerance) and cached; repeated fuzzy queries skip the scan.
        Single flight: readers that miss the same key at once wait for
        the first one's job instead of each running their own. A failed
        job raises in every reader waiting on it and is not cached, so
        the next query retries. Callers must not modify the frame."""
        key = (tuple(tokens), tuple(props), tolerance)
        with self._fuzzy_lock:
            flight = self._fuzzy_cache.get(key)
            owner = flight is None
            if owner:
                flight = self._fuzzy_cache[key] = Future()
        if owner:
            try:
                cap = EXPANSION_COLLECT_CAP
                got = self._expansion_df(tokens, props, False, tolerance).limit(cap + 1).toArrow()
                flight.set_result(None if got.num_rows > cap else got.to_pandas())
            except BaseException as e:
                with self._fuzzy_lock:
                    del self._fuzzy_cache[key]
                flight.set_exception(e)
                raise
        return flight.result()

    def _expansion(
        self, tokens: list[str], props: list[str], exact: bool, tolerance: int
    ) -> tuple:
        """(rows, pred): the expansion rows (field, qtoken, term, df) on
        the driver, or None when there are more than
        EXPANSION_COLLECT_CAP, and the literal predicate on ``term`` that
        selects their postings (None: every term, or an over-cap fuzzy
        expansion, which only a join can select). Exact and prefix
        tokens read their matched dictionary rows in one job; a fuzzy
        query reads its cached expansion."""
        if tolerance and not exact and "" not in tokens:
            exp = self._fuzzy_expansion(tokens, props, tolerance)
            if exp is None:
                return None, None
            return exp, F.col("term").isin(sorted(set(exp["term"])))
        pred = _term_predicate(tokens, exact)
        dic = self._scans(props)[0]
        cap = EXPANSION_COLLECT_CAP
        got = (dic if pred is None else dic.where(pred)).limit(cap + 1).toArrow()
        return (None if got.num_rows > cap else _expand(tokens, exact, got)), pred

    def _text(
        self,
        term: str,
        props: list[str],
        exact: bool,
        tolerance: int,
        boost: dict[str, float],
        threshold: float,
        where_ids: Optional[DataFrame],
    ) -> dict:
        """``SearchResult`` arguments of a text search: ``ranked`` and
        ``fetch`` from the bounded driver path when the expansion fits
        under EXPANSION_COLLECT_CAP and its postings (Σdf over the
        matched (field, term) pairs, at least the postings rows they
        select) under DRIVER_POSTINGS_CAP; else ``scored``, the
        distributed plan. The caps are checked before any posting is
        read."""
        tokens = self.tokenizer.tokenize(term)
        if not tokens:
            if term:
                return {"ranked": _ranked()}
            tokens = [""]
        exp, pred = self._expansion(tokens, props, exact, tolerance)
        if exp is not None and (
            exp.drop_duplicates(["field", "term"])["df"].sum() <= DRIVER_POSTINGS_CAP
        ):
            ranked, fetch = self._bounded(tokens, exp, pred, props, boost, threshold, where_ids)
            if exact and term and len(ranked):
                ok = (
                    self._matched_docs(ranked["docid"].to_numpy())
                    .where(self._exact_predicate(term, props))
                    .select(F.col(self.config.docid_col).cast("long"))
                    .toArrow().column(0).to_numpy()
                )
                ranked = ranked[np.isin(ranked["docid"].to_numpy(), ok)].reset_index(drop=True)
            return {"ranked": ranked, "fetch": fetch}
        scored = self._scored(tokens, exp, pred, props, exact, tolerance, boost, threshold, where_ids)
        if exact and term:
            scored = self._exact_post_filter(scored, term, props)
        return {"scored": scored}

    # ----------------------------------------------------- bounded path
    def _local(self, data, schema: StructType) -> DataFrame:
        """A driver-side pandas frame or Arrow table as a local
        DataFrame: it plans as a LocalTableScan, so collecting it starts
        no Spark job (built from Arrow whatever the session's Arrow conf
        says)."""
        if isinstance(data, pd.DataFrame):
            data = pa.Table.from_pandas(data, preserve_index=False)
        return self.spark.createDataFrame(data, schema)

    def _scans(self, props: list[str]) -> tuple:
        """The (dictionary, postings) scans of the expansion probe and
        the bounded path over ``props``, projected to the columns they
        read; built on first use and shared by reader threads (a
        DataFrame is immutable; two threads missing at once build equal
        frames and the first stored wins). Reusing them keeps a query's
        plan-building py4j calls to its own predicates."""
        key = tuple(props)
        got = self._bases.get(key)
        if got is None:
            in_props = F.col("field").isin(list(props))
            got = self._bases.setdefault(key, (
                self.dictionary.where(in_props).select("field", "term", "df"),
                self.postings.where(in_props)
                .select("field", "term", "docid", "tf", "field_len"),
            ))
        return got

    def _matched_docs(self, ids: np.ndarray) -> DataFrame:
        """The docs rows of a driver-side docid set (a semi-join with
        the set as a local DataFrame, no literal IN-list)."""
        docid = self.config.docid_col
        ids_df = self._local(
            pa.table({docid: pa.array(ids, pa.int64())}),
            StructType([StructField(docid, LongType())]),
        )
        return self.docs.join(ids_df, docid, "left_semi")

    def _bounded(
        self,
        tokens: list[str],
        exp: pd.DataFrame,
        pred: Optional[Column],
        props: list[str],
        boost: dict[str, float],
        threshold: float,
        where_ids: Optional[DataFrame],
    ) -> tuple:
        """``_scored`` on the driver: (ranked frame, postings fetch).
        One job reads the postings under ``pred``, joined with the
        ``where`` docids as a broadcast of the bounded postings side
        (not run when the expansion leaves nothing to score)."""
        fetch = self._scans(props)[1]
        if pred is not None:
            fetch = fetch.where(pred)
        if where_ids is not None:
            fetch = where_ids.join(F.broadcast(fetch), "docid")
        if exp.empty or _misses_a_token(exp, tokens, threshold):
            return _ranked(), fetch
        exp = exp.assign(idf=idf_per_row(exp["df"].to_numpy(), float(self.stats["docs_count"])))
        hits = fetch.toArrow().to_pandas().merge(exp[["field", "term", "idf"]], on=["field", "term"])
        return self._rank(hits, len(tokens), boost, threshold), fetch

    def _rank(
        self,
        hits: pd.DataFrame,
        keywords_count: int,
        boost: dict[str, float],
        threshold: float,
    ) -> pd.DataFrame:
        """The scoring and threshold tail of ``_scored`` over one row per
        (posting, matched query token): BM25 per row (``bm25_scores``,
        the scorer WAND uses), summed per (docid, field) in term order
        and per docid in field order — so a score never depends on fetch
        order — then the threshold (components/index.ts:554-591) and rank order. Against the
        distributed sums only the float-addition order differs, which
        moves a score by a few ulp."""
        hits = hits.sort_values(["docid", "field", "term"], kind="stable")
        if hits.empty:
            return _ranked()
        field = hits["field"].to_numpy(object)
        docid = hits["docid"].to_numpy(np.int64)
        fl = hits["field_len"].to_numpy(np.float64)
        avgs = {f_: float(v["avg_field_length"]) for f_, v in self.stats["fields"].items()}
        s = bm25_scores(
            hits["idf"].to_numpy(), fl, hits["tf"].to_numpy(np.float64),
            hits["field"].map(avgs).to_numpy(np.float64), self.config.bm25,
        )
        if boost:
            s = s * hits["field"].map(boost).fillna(1.0).to_numpy(np.float64)
        starts = np.flatnonzero(np.r_[True, (docid[1:] != docid[:-1]) | (field[1:] != field[:-1])])
        per_field = np.add.reduceat(s, starts)
        full_field = np.diff(np.r_[starts, len(s)]) == keywords_count
        doc_of = docid[starts]
        dstarts = np.flatnonzero(np.r_[True, doc_of[1:] != doc_of[:-1]])
        ids = doc_of[dstarts]
        score = np.add.reduceat(per_field, dstarts)
        full = np.logical_or.reduceat(full_field, dstarts)
        if threshold == 0 and keywords_count > 1:
            ids, score = ids[full], score[full]
        elif threshold not in (0, 1) and full.any():
            # all full matches + ceil(|partial| * t) of the best partials
            partial = np.flatnonzero(~full)
            take = max(math.ceil(len(partial) * threshold), 0)
            sel = full.copy()
            sel[partial[_rank_order(ids[partial], score[partial])[:take]]] = True
            ids, score = ids[sel], score[sel]
        order = _rank_order(ids, score)
        return _ranked(ids[order], score[order])

    # ------------------------------------------------------------ search
    def search(
        self,
        term: Optional[str] = None,
        properties: Optional[list[str]] = None,
        exact: bool = False,
        tolerance: int = 0,
        boost: Optional[dict[str, float]] = None,
        threshold: float = 1.0,
        where: Optional[dict] = None,
        limit: int = 10,
        offset: int = 0,
    ) -> SearchResult:
        cfg = self.config
        # before_search may rewrite the query params (hooks.ts BeforeSearch)
        if cfg.hooks.before_search:
            params = dict(
                term=term, properties=properties, exact=exact,
                tolerance=tolerance, boost=boost, threshold=threshold,
                where=where, limit=limit, offset=offset,
            )
            params = cfg.hooks.run_transform("before_search", params, self)
            term, properties, exact = params["term"], params["properties"], params["exact"]
            tolerance, boost, threshold = params["tolerance"], params["boost"], params["threshold"]
            where, limit, offset = params["where"], params["limit"], params["offset"]
        docid = cfg.docid_col
        searchable = cfg.searchable_fields
        props = searchable
        if properties is not None:
            for p in properties:
                if p not in searchable:
                    raise ValueError(f"UNKNOWN_INDEX: {p}")
            props = [p for p in searchable if p in properties]
        boost = boost or {}
        for b in boost.values():
            if b <= 0:
                raise ValueError(f"INVALID_BOOST_VALUE: {b}")

        where_ids: Optional[DataFrame] = None
        if where:
            where_ids = self._where.docids(where)

        result = None
        if term or properties is not None:
            text = self._text(term or "", props, exact, tolerance, boost, threshold, where_ids)
            result = SearchResult(self, offset=offset, limit=limit, **text)
        else:
            if where is not None and where != {}:
                geo = self._geo_only(where)
                if geo is not None:
                    scored = geo
                else:
                    scored = (where_ids or self._empty_ids()).select(
                        "docid", F.lit(0.0).alias("score")
                    )
            else:
                scored = self.docs.select(
                    F.col(docid).alias("docid"), F.lit(0.0).alias("score")
                )
        if result is None:
            result = SearchResult(self, scored, offset=offset, limit=limit)
        if cfg.hooks.after_search:
            result = cfg.hooks.run_transform("after_search", result, self)
        return result

    def search_many(
        self,
        terms: list[str],
        k: int = 10,
        exact: bool = False,
        properties: Optional[list[str]] = None,
    ) -> DataFrame:
        """Batched top-k: N queries answered by ONE postings scan.

        At web scale the scan dominates query cost; issuing queries
        one-per-job re-reads the same row groups N times. Here the
        query batch becomes a broadcast (qid, qtoken) frame joined
        against the pruned dictionary, the postings scan is pre-filtered
        with the UNION of all queries' literal predicates (still
        row-group-prunable), and per-query top-k is one window over the
        (qid, docid) scores. Rank-identical with N separate ``search()``
        calls in the default mode (prefix, threshold=1, no filters), with
        scores equal within a few ulp (a bounded ``search()`` sums on the
        driver in another order) — pinned in tests. ``exact=True`` matches the
        tokenized-exact find; the reference's case-sensitive exact
        POST-filter (issue #866, ``search(exact=True)``) is a per-query
        doc-store pass and is not applied here.

        Returns (qid, docid, score, rank), rank 1..k per qid.
        """
        cfg = self.config
        searchable = cfg.searchable_fields
        props = searchable
        if properties is not None:
            props = [p for p in searchable if p in properties]
        qtok_rows = []
        for qid, term in enumerate(terms):
            for t in self.tokenizer.tokenize(term):
                qtok_rows.append((qid, t))
        if not qtok_rows:
            return self._empty_scored().select(
                F.lit(0).alias("qid"), "docid", "score",
                F.lit(0).alias("rank"),
            ).where(F.lit(False))
        qdf = F.broadcast(
            self.spark.createDataFrame(qtok_rows, "qid int, qtoken string")
        )
        d = self.dictionary.where(F.col("field").isin(props))
        cond = (
            (F.col("term") == F.col("qtoken"))
            if exact
            else F.col("term").startswith(F.col("qtoken"))
        )
        exp = d.join(qdf, cond).select("field", "term", "df", "qid")
        all_toks = sorted({t for _, t in qtok_rows})
        p = self._postings_pushdown(all_toks, props, exact)
        joined = p.join(exp, ["field", "term"])
        score_row = self._bm25_col(props, {})
        per_field = (
            joined.select("qid", "docid", "field", score_row.alias("s"))
            .groupBy("qid", "docid", "field")
            .agg(F.sum("s").alias("s"))
        )
        scored = per_field.groupBy("qid", "docid").agg(
            F.sum("s").alias("score")
        )
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("docid"))
        return scored.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= k
        )

    def _geo_only(self, where: dict) -> Optional[DataFrame]:
        """Geosearch-only query -> distance-ranked scores
        (isGeosearchOnlyQuery + searchByGeoWhereClause,
        components/index.ts:978-1051): exactly one filter key, geopoint-
        typed, radius/polygon operation, and no search term."""
        if len(where) != 1:
            return None
        prop, op = next(iter(where.items()))
        if self.config.schema.get(prop) != "geopoint" or not isinstance(op, dict):
            return None
        if "radius" not in op and "polygon" not in op:
            return None
        from .geo import geo_scored

        return geo_scored(self.docs, self.config.docid_col, prop, op)

    def _empty_ids(self) -> DataFrame:
        return self.docs.select(
            F.col(self.config.docid_col).alias("docid")
        ).where(F.lit(False))

    def _scored(
        self,
        tokens: list[str],
        exp: Optional[pd.DataFrame],
        pred: Optional[Column],
        props: list[str],
        exact: bool,
        tolerance: int,
        boost: dict[str, float],
        threshold: float,
        where_ids: Optional[DataFrame],
    ) -> DataFrame:
        """Port of index.search (components/index.ts:457-592) as a plan:
        the path of a search over either cap (see ``_text``). A collected
        expansion ``exp`` is joined as a broadcast; over
        EXPANSION_COLLECT_CAP (``exp`` None) the expansion stays a plan.
        Postings are pre-filtered by the literal ``pred`` either way, so
        parquet min/max prunes row-groups on the sorted term column."""
        keywords_count = len(tokens)
        if exp is not None:
            if exp.empty or _misses_a_token(exp, tokens, threshold):
                return self._empty_scored()
            exp_df = F.broadcast(self._local(exp, _EXPANSION))
        else:
            exp_df = self._expansion_df(tokens, props, exact, tolerance)
            if threshold == 0 and keywords_count > 1:
                # every token must match somewhere (index.ts:554-560):
                # one tiny action against the pruned dictionary scan
                found = {
                    r["qtoken"]
                    for r in exp_df.select("qtoken").distinct().collect()
                }
                if any(t not in found for t in tokens):
                    return self._empty_scored()
        p = self.postings.where(F.col("field").isin(props))
        joined = (p if pred is None else p.where(pred)).join(exp_df, ["field", "term"])

        score_row = self._bm25_col(props, boost)
        per_field = (
            joined.select("docid", "field", score_row.alias("s"))
            .groupBy("docid", "field")
            .agg(F.sum("s").alias("s"), F.count("*").alias("m"))
        )
        scored = per_field.groupBy("docid").agg(
            F.sum("s").alias("score"),
            F.max(F.when(F.col("m") == keywords_count, 1).otherwise(0)).alias("__full"),
        )
        if where_ids is not None:
            scored = scored.join(where_ids, "docid", "left_semi")

        if threshold == 1:
            return scored.select("docid", "score")
        if threshold == 0:
            if keywords_count == 1:
                return scored.select("docid", "score")
            return scored.where(F.col("__full") == 1).select("docid", "score")
        # fractional threshold (components/index.ts:574-591): all full
        # matches + ceil(|partial| * t) of the best partials. ONE agg
        # action for both counts; no persist (a long-lived session must
        # not accumulate cached partitions per query — the final plan
        # recomputes the scored lineage once, which is cheaper than a
        # cache leak at fleet scale).
        counts = scored.agg(
            F.sum("__full").alias("nf"), F.count("*").alias("nt")
        ).collect()[0]
        n_full = int(counts["nf"] or 0)
        if n_full == 0:
            return scored.select("docid", "score")
        full = scored.where(F.col("__full") == 1)
        partial = scored.where(F.col("__full") != 1)
        n_partial = int(counts["nt"]) - n_full
        take = math.ceil(n_partial * threshold)
        top_partial = partial.orderBy(F.desc("score"), F.asc("docid")).limit(take)
        return full.select("docid", "score").unionByName(
            top_partial.select("docid", "score")
        )

    def _empty_scored(self) -> DataFrame:
        return self._empty_ids().select("docid", F.lit(0.0).alias("score"))

    def _bm25_col(self, props: list[str], boost: dict[str, float]) -> Column:
        """BM25 (algorithms.ts:116-126) as a codegen-able expression over
        posting columns (tf, field_len) + expansion df + broadcast stats."""
        bm = self.config.bm25
        n_docs = float(self.stats["docs_count"])
        avg_expr: Column = F.lit(0.0)
        boost_expr: Column = F.lit(1.0)
        for f_ in props:
            avg = float(self.stats["fields"][f_]["avg_field_length"])
            avg_expr = F.when(F.col("field") == f_, F.lit(avg)).otherwise(avg_expr)
            if f_ in boost:
                boost_expr = F.when(F.col("field") == f_, F.lit(float(boost[f_]))).otherwise(boost_expr)
        # plain log(1+x), matching JS Math.log(1 + x) bit-for-bit
        # (algorithms.ts:124) — not log1p
        idf = F.log(
            F.lit(1.0) + (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5)
        )
        num = idf * (F.lit(bm.d) + F.col("tf") * F.lit(bm.k + 1.0))
        den = F.col("tf") + F.lit(bm.k) * (
            F.lit(1.0 - bm.b) + F.lit(bm.b) * F.col("field_len") / avg_expr
        )
        return (num / den * boost_expr).alias("s")

    def _exact_predicate(self, term: str, props: Optional[list[str]]) -> Column:
        """The exact-mode case-sensitive whole-word filter
        (methods/search-fulltext.ts:88-115) on docs columns: some
        property contains ALL whitespace-split query words as
        \\b-bounded case-sensitive matches."""
        search_terms = term.strip().split()
        per_prop = []
        for prop in props or self.config.searchable_fields:
            cond = F.lit(True)
            for t in search_terms:
                pat = r"\b" + _escape_java_regex(t) + r"\b"
                cond = cond & F.col(prop).cast("string").rlike(pat)
            per_prop.append(F.col(prop).isNotNull() & cond)
        return functools.reduce(Column.__or__, per_prop)

    def exact_filter_ids(self, term: str, props: Optional[list[str]] = None) -> DataFrame:
        """Docids passing the exact-mode post-filter (``_exact_predicate``).
        Reusable as a WAND keep_ids mask."""
        docid = self.config.docid_col
        return self.docs.where(self._exact_predicate(term, props)).select(
            F.col(docid).alias("docid")
        )

    def _exact_post_filter(
        self, scored: DataFrame, term: str, props: list[str]
    ) -> DataFrame:
        # The reference post-filters the MATCHED hits
        # (search-fulltext.ts:88-115), so restrict the \b-regex scan to
        # the BM25-matched docids before evaluating it — at 2M docs the
        # whole-corpus regex scan was 6-9 s while the matched set is
        # orders of magnitude smaller (SCALE_r04 wand_crossover notes).
        docid = self.config.docid_col
        matched = self.docs.join(
            scored.select(F.col("docid").alias(docid)).distinct(),
            docid,
            "left_semi",
        )
        ok = matched.where(self._exact_predicate(term, props)).select(
            F.col(docid).alias("docid")
        )
        return scored.join(ok, "docid", "left_semi")

    # ------------------------------------------------------------ facets
    def facets_df(self, result: SearchResult, prop: str, config: Optional[dict] = None) -> DataFrame:
        """String/enum/bool facet counts over the FULL match set
        (components/facets.ts:28-174). Returns (facet_value, facet_count)
        ordered per the reference (count desc default, limit 10), with
        value ASC as the deterministic tie-break."""
        cfg = config or {}
        typ = self.config.schema[prop]
        m = result.scored.join(self.docs_by_docid, "docid")
        if typ in ("number", "number[]"):
            aggs = []
            for r in cfg.get("ranges", []):
                key = f"{r['from']}-{r['to']}"
                val = F.col(prop)
                if typ == "number[]":
                    inr = F.exists(val, lambda x: (x >= r["from"]) & (x <= r["to"]))
                else:
                    inr = (val >= r["from"]) & (val <= r["to"])
                aggs.append(
                    F.sum(F.when(inr, 1).otherwise(0)).cast("long").alias(key)
                )
            wide = m.agg(*aggs)
            stack = ", ".join(f"'{c}', `{c}`" for c in wide.columns)
            return wide.selectExpr(
                f"stack({len(wide.columns)}, {stack}) as (facet_value, facet_count)"
            )
        vals = m.select(
            F.explode(F.array_distinct(F.col(prop))).alias("facet_value")
            if typ.endswith("[]")
            else F.col(prop).alias("facet_value")
        ).where(F.col("facet_value").isNotNull())
        counts = vals.groupBy("facet_value").agg(F.count("*").alias("facet_count"))
        if typ == "string":
            order = str(cfg.get("sort", "desc")).lower()
            direction = F.asc("facet_count") if order == "asc" else F.desc("facet_count")
            lo = cfg.get("offset", 0)
            hi = cfg.get("limit", 10)
            # reference quirk (facets.ts): .slice(offset, limit) — limit
            # is an END INDEX, so the page is rows lo+1..hi.
            counts = _paged(
                counts, [direction, F.asc("facet_value")], lo, max(hi - lo, 0)
            )
        return counts

    def facet_count_df(self, result: SearchResult, prop: str, config: Optional[dict] = None) -> DataFrame:
        """Facet ``count`` = number of distinct facet values
        (components/facets.ts:115-117). Scalar-number facets pre-seed
        every range key at 0 (facets.ts:139-141 via 522-524), so their
        count is len(ranges); number[] facets only create keys on first
        increment; string/enum/bool count distinct present values."""
        cfg = config or {}
        typ = self.config.schema[prop]
        if typ == "number":
            return self.docs.sparkSession.range(1).select(
                F.lit(len(cfg.get("ranges", []))).cast("long").alias("facet_count")
            )
        m = result.scored.join(self.docs_by_docid, "docid")
        if typ == "number[]":
            hits = []
            for r in cfg.get("ranges", []):
                inr = F.exists(F.col(prop), lambda x: (x >= r["from"]) & (x <= r["to"]))
                hits.append(F.max(F.when(inr, 1).otherwise(0)))
            if not hits:
                return m.agg(F.lit(0).cast("long").alias("facet_count"))
            total = hits[0]
            for h in hits[1:]:
                total = total + h
            return m.agg(total.cast("long").alias("facet_count"))
        vals = m.select(
            F.explode(F.array_distinct(F.col(prop))).alias("v")
            if typ.endswith("[]")
            else F.col(prop).alias("v")
        ).where(F.col("v").isNotNull())
        return vals.agg(F.countDistinct("v").alias("facet_count"))

    # ------------------------------------------------------------ groups
    def groups_df(
        self, result: SearchResult, properties: list[str], max_result: Optional[int] = None
    ) -> DataFrame:
        """groupBy (components/groups.ts:46-175): per distinct value
        combination, member docs in rank order.

        The reference caps per PROPERTY (pre-intersection, groups.ts:
        100-106): a doc enters a combination iff, for EVERY grouped
        property, its rank among docs sharing that property VALUE is
        <= maxResult. With one property the cap is the usual per-group
        top-k. Distributed as one window per property (shuffle on the
        property value) — no driver-side combination enumeration; empty
        combinations never materialize."""
        m = result.scored.join(self.docs_by_docid, "docid")
        for p in properties:
            m = m.where(F.col(p).isNotNull())
        if max_result is not None:
            for i, p in enumerate(properties):
                wp = Window.partitionBy(p).orderBy(F.desc("score"), F.asc("docid"))
                m = m.withColumn(f"__r{i}", F.row_number().over(wp))
            for i in range(len(properties)):
                m = m.where(F.col(f"__r{i}") <= max_result)
            m = m.drop(*[f"__r{i}" for i in range(len(properties))])
        w = Window.partitionBy(*properties).orderBy(F.desc("score"), F.asc("docid"))
        out = m.withColumn("group_rank", F.row_number().over(w))
        return out.select(*properties, "docid", "score", "group_rank")

    def groups_reduce_df(
        self,
        result: SearchResult,
        properties: list[str],
        reduce_fn,
        output_schema: str,
        max_result: Optional[int] = None,
    ) -> DataFrame:
        """groupBy with a CUSTOM reducer (types.ts:170-180; default
        reducer groups.ts:36-42 returns the doc list — here that is just
        ``groups_df``). ``reduce_fn(key_tuple, pdf) -> pdf`` runs via
        applyInPandas: each group's member documents (full doc columns +
        score + group_rank, rank order preserved by group_rank) arrive
        as one pandas frame — the Spark-native UDAF surface. Groups
        respect the same per-property maxResult cap as groups_df."""
        members = self.groups_df(result, properties, max_result=max_result)
        dup = [c for c in self.docs_by_docid.columns if c in set(properties)]
        joined = members.join(self.docs_by_docid.drop(*dup), "docid")
        return joined.groupBy(*properties).applyInPandas(reduce_fn, schema=output_schema)

    # -------------------------------------------------------- distinct_on
    def distinct_df(self, result: SearchResult, prop: str, offset: int = 0, limit: int = 10) -> DataFrame:
        """distinctOn (methods/search.ts:43-99): first (best-ranked) doc
        per distinct value, paginated over the distinct stream."""
        m = result.scored.join(self.docs_by_docid, "docid").where(F.col(prop).isNotNull())
        w = Window.partitionBy(prop).orderBy(F.desc("score"), F.asc("docid"))
        firsts = (
            m.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )
        return _paged(firsts, [F.desc("score"), F.asc("docid")], offset, limit)

    # ------------------------------------------------------------ sort_by
    def sorted_hits_df(
        self, result: SearchResult, prop: str, order: str = "ASC",
        offset: int = 0, limit: int = 10, collation: Optional[str] = "auto",
    ) -> DataFrame:
        """sortBy property (components/sorter.ts:239-283): docs lacking
        the property go last regardless of direction.

        String properties sort with ICU locale collation — the
        reference compares strings with ``value.localeCompare(other,
        lang)`` (components/sorter.ts:166-172), NOT binary order.
        ``collation="auto"`` derives the ICU locale from the index
        language; pass an explicit ICU collation name ("de",
        "UNICODE_CI", ...) or None for raw binary order.  Spark 4's
        ``F.collate`` keeps the comparison JVM-side (codegen'd), so the
        TakeOrdered pagination plan is unchanged."""
        m = result.scored.join(self.docs_by_docid, "docid")
        sort_col = F.col(prop)
        if collation is not None and self.config.schema.get(prop) == "string":
            name = (
                icu_collation_for(self.config.tokenizer.language)
                if collation == "auto"
                else collation
            )
            # explicit names go through the same capability guard as
            # 'auto' (icu_collation_for): on a runtime without collation
            # support degrade to binary order as documented instead of
            # raising AttributeError (r5 ADVICE)
            if name and hasattr(F, "collate"):
                sort_col = F.collate(F.col(prop), name)
        desc = str(order).upper() == "DESC"
        keys = [F.col(prop).isNull().asc()]
        if desc:
            keys += [sort_col.desc(), F.col("docid").desc()]
        else:
            keys += [sort_col.asc(), F.col("docid").asc()]
        return _paged(m, keys, offset, limit)

    def sorted_hits_by_key_df(
        self, result: SearchResult, key, order: str = "ASC",
        offset: int = 0, limit: int = 10, key_type: str = "double",
    ) -> DataFrame:
        """sortBy custom sorter (types.ts:260-265 ``sortBy: (a, b) =>
        number``).

        The reference accepts an arbitrary JS COMPARATOR — inherently
        sequential (pairwise calls on one node), which cannot
        distribute. The Spark-idiomatic equivalent surface is a SORT
        KEY: either a ``Column`` expression (codegen) or a vectorized
        Python function ``pandas.DataFrame -> pandas.Series`` over the
        hit rows (Arrow-batched). Any deterministic total order a
        comparator induces via a key is expressible this way. NULL keys
        sort last regardless of direction (the reference's
        missing-property rule); ties break on docid.
        """
        m = result.scored.join(self.docs_by_docid, "docid")
        if callable(key):
            cols = list(m.columns)

            @F.pandas_udf(key_type)
            def _key(batch: pd.DataFrame) -> pd.Series:
                return key(batch)

            key_col = _key(F.struct(*[F.col(c) for c in cols]))
        else:
            key_col = key
        m = m.withColumn("__key", key_col)
        desc = str(order).upper() == "DESC"
        keys = [F.col("__key").isNull().asc()]
        if desc:
            keys += [F.col("__key").desc(), F.col("docid").desc()]
        else:
            keys += [F.col("__key").asc(), F.col("docid").asc()]
        return _paged(m, keys, offset, limit).drop("__key")


def _fuzzy_udf(token: str, tolerance: int):
    @F.pandas_udf(BooleanType())
    def _ok(terms: pd.Series) -> pd.Series:
        arr = terms.to_numpy(dtype=object)
        return pd.Series(bounded_levenshtein_batch(token, arr, tolerance))

    return _ok
