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
  * small expansions (the normal case: a handful of query tokens, each
    expanding to < ~50k words) are collected and re-joined as a
    BROADCAST table, plus a literal term IN-list pre-filter on postings
    so the parquet scan prunes row-groups by the sorted term column —
    postings never shuffle for a query.
  * scoring is pure JVM expression code (whole-stage codegen): BM25 is
    log/arithmetic on (tf, field_len) columns already denormalized into
    postings, with df/avg_field_length/docs_count joined from the tiny
    expansion or inlined as literals. No Python in the per-posting path.
  * top-k uses orderBy().limit() = TakeOrdered (per-partition heaps +
    driver merge), never a global sort.
"""

from __future__ import annotations

import json
import math
import os
import re
from dataclasses import dataclass, field as dc_field
from typing import Any, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import BooleanType

from ..build.indexer import term_len
from ..config import IndexConfig
from ..kernel.levenshtein import bounded_levenshtein_batch
from ..kernel.tokenizer import Tokenizer
from .filters import WhereCompiler

# Collect-to-driver cap for term expansions; larger expansions stay
# distributed (plain join instead of broadcast + IN-list pushdown).
EXPANSION_COLLECT_CAP = 50_000


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


@dataclass
class SearchResult:
    """Lazy result: ``scored`` is the full pre-pagination match set
    (docid, score); hits/facets/groups derive from it."""

    index: "SearchIndex"
    scored: DataFrame
    offset: int = 0
    limit: int = 10

    def count(self) -> int:
        return self.scored.count()

    def top_df(self) -> DataFrame:
        """(docid, score) page in rank order (score DESC, docid ASC)."""
        return _paged(
            self.scored, [F.desc("score"), F.asc("docid")], self.offset, self.limit
        )

    def hits_df(self) -> DataFrame:
        """Page joined with full documents (late materialization:
        only offset+limit docs are ever fetched, search.ts:129-131)."""
        docs = self.index.docs
        docid = self.index.config.docid_col
        return (
            self.top_df()
            .join(docs.withColumnRenamed(docid, "docid"), "docid")
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
        self.postings = postings
        self.dictionary = dictionary
        # the (field, term_len, term)-sorted copy fuzzy length bands scan
        self.dictionary_bylen = dictionary_bylen
        self.stats = stats
        self.tokenizer = Tokenizer(config.tokenizer)
        # (tokens, props, tolerance) -> (collected expansion | None, tokens_found)
        self._fuzzy_cache: dict[tuple, tuple] = {}
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
        if any(t == "" for t in tokens):
            return p  # whole-trie expansion: all terms participate
        if exact:
            return p.where(F.col("term").isin(tokens))
        cond = F.col("term").startswith(tokens[0])
        for t in tokens[1:]:
            cond = cond | F.col("term").startswith(t)
        return p.where(cond)

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

        if term or properties is not None:
            scored = self._scored(
                term or "", props, exact, tolerance, boost, threshold, where_ids
            )
            if exact and term:
                scored = self._exact_post_filter(scored, term, props)
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
        (qid, docid) scores. Rank- and score-identical with N separate
        ``search()`` calls in the default mode (prefix, threshold=1,
        no filters) — pinned in tests. ``exact=True`` matches the
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
        term: str,
        props: list[str],
        exact: bool,
        tolerance: int,
        boost: dict[str, float],
        threshold: float,
        where_ids: Optional[DataFrame],
    ) -> DataFrame:
        """Port of index.search (components/index.ts:457-592) as a plan."""
        cfg = self.config
        tokens = self.tokenizer.tokenize(term)
        keywords_count = len(tokens) or 1
        if not tokens:
            if term:
                return self._empty_scored()
            tokens = [""]

        exp = self._expansion_df(tokens, props, exact, tolerance)
        fuzzy = bool(tolerance) and not exact and all(t != "" for t in tokens)

        if fuzzy:
            # fuzzy is the one path that must materialize the expansion:
            # the matched-word set is needed as a literal IN-list to keep
            # the postings scan row-group-pruned (a fuzzy predicate can't
            # push into parquet). The collected expansion is cached per
            # (tokens, props, tolerance) — it only depends on the
            # dictionary, so repeated fuzzy queries skip the scan.
            cache_key = (tuple(tokens), tuple(props), tolerance)
            hit = self._fuzzy_cache.get(cache_key)
            if hit is None:
                rows = exp.limit(EXPANSION_COLLECT_CAP + 1).collect()
                if len(rows) > EXPANSION_COLLECT_CAP:
                    # over-cap: the truncated sample is arbitrary — a
                    # qtoken can have all its matches outside the sample.
                    # tokens_found must come from a (tiny) distinct scan.
                    tokens_found = {
                        r["qtoken"]
                        for r in exp.select("qtoken").distinct().collect()
                    }
                    rows = None  # stay distributed
                else:
                    tokens_found = {r["qtoken"] for r in rows}
                    rows = [
                        (r["field"], r["qtoken"], r["term"], r["df"]) for r in rows
                    ]
                hit = (rows, tokens_found)
                self._fuzzy_cache[cache_key] = hit
            rows, tokens_found = hit
            if not tokens_found:
                return self._empty_scored()
            if threshold == 0 and keywords_count > 1:
                if any(t not in tokens_found for t in tokens):
                    return self._empty_scored()
            p = self.postings.where(F.col("field").isin(props))
            if rows is not None:
                p = p.where(F.col("term").isin(list({r[2] for r in rows})))
                exp = F.broadcast(
                    self.spark.createDataFrame(
                        rows,
                        schema="field string, qtoken string, term string, df long",
                    )
                )
            joined = p.join(exp, ["field", "term"])
        else:
            # exact / prefix / whole-trie: ZERO driver actions — literal
            # pushdown on postings + a join with the pruned dictionary
            # scan (AQE broadcasts the small expansion side at runtime)
            if threshold == 0 and keywords_count > 1:
                # every token must match somewhere (index.ts:554-560):
                # one tiny action against the pruned dictionary scan
                found = {
                    r["qtoken"]
                    for r in exp.select("qtoken").distinct().collect()
                }
                if any(t not in found for t in tokens):
                    return self._empty_scored()
            joined = self._postings_pushdown(tokens, props, exact).join(
                exp, ["field", "term"]
            )

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

    def exact_filter_ids(self, term: str, props: Optional[list[str]] = None) -> DataFrame:
        """Docids passing the exact-mode case-sensitive whole-word filter
        (methods/search-fulltext.ts:88-115): some property contains ALL
        whitespace-split query words as \\b-bounded case-sensitive
        matches. Reusable as a WAND keep_ids mask."""
        docid = self.config.docid_col
        props = props or self.config.searchable_fields
        search_terms = term.strip().split()
        per_prop = []
        for prop in props:
            cond = F.lit(True)
            for t in search_terms:
                pat = r"\b" + _escape_java_regex(t) + r"\b"
                cond = cond & F.col(prop).cast("string").rlike(pat)
            per_prop.append(F.col(prop).isNotNull() & cond)
        any_prop = per_prop[0]
        for c in per_prop[1:]:
            any_prop = any_prop | c
        return self.docs.where(any_prop).select(F.col(docid).alias("docid"))

    def _exact_post_filter(
        self, scored: DataFrame, term: str, props: list[str]
    ) -> DataFrame:
        # The reference post-filters the MATCHED hits
        # (search-fulltext.ts:88-115), so restrict the \b-regex scan to
        # the BM25-matched docids before evaluating it — at 2M docs the
        # whole-corpus regex scan was 6-9 s while the matched set is
        # orders of magnitude smaller (SCALE_r04 wand_crossover notes).
        docid = self.config.docid_col
        props = props or self.config.searchable_fields
        matched = self.docs.join(
            scored.select(F.col("docid").alias(docid)).distinct(),
            docid,
            "left_semi",
        )
        search_terms = term.strip().split()
        per_prop = []
        for prop in props:
            cond = F.lit(True)
            for t in search_terms:
                pat = r"\b" + _escape_java_regex(t) + r"\b"
                cond = cond & F.col(prop).cast("string").rlike(pat)
            per_prop.append(F.col(prop).isNotNull() & cond)
        any_prop = per_prop[0]
        for c in per_prop[1:]:
            any_prop = any_prop | c
        ok = matched.where(any_prop).select(F.col(docid).alias("docid"))
        return scored.join(ok, "docid", "left_semi")

    # ------------------------------------------------------------ facets
    def facets_df(self, result: SearchResult, prop: str, config: Optional[dict] = None) -> DataFrame:
        """String/enum/bool facet counts over the FULL match set
        (components/facets.ts:28-174). Returns (facet_value, facet_count)
        ordered per the reference (count desc default, limit 10), with
        value ASC as the deterministic tie-break."""
        cfg = config or {}
        typ = self.config.schema[prop]
        docid = self.config.docid_col
        m = result.scored.join(
            self.docs.withColumnRenamed(docid, "docid"), "docid"
        )
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
        docid = self.config.docid_col
        if typ == "number":
            return self.docs.sparkSession.range(1).select(
                F.lit(len(cfg.get("ranges", []))).cast("long").alias("facet_count")
            )
        m = result.scored.join(self.docs.withColumnRenamed(docid, "docid"), "docid")
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
        docid = self.config.docid_col
        m = result.scored.join(
            self.docs.withColumnRenamed(docid, "docid"), "docid"
        )
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
        docid = self.config.docid_col
        members = self.groups_df(result, properties, max_result=max_result)
        docs_side = self.docs.withColumnRenamed(docid, "docid")
        dup = [c for c in docs_side.columns if c in set(properties)]
        joined = members.join(docs_side.drop(*dup), "docid")
        return joined.groupBy(*properties).applyInPandas(reduce_fn, schema=output_schema)

    # -------------------------------------------------------- distinct_on
    def distinct_df(self, result: SearchResult, prop: str, offset: int = 0, limit: int = 10) -> DataFrame:
        """distinctOn (methods/search.ts:43-99): first (best-ranked) doc
        per distinct value, paginated over the distinct stream."""
        docid = self.config.docid_col
        m = result.scored.join(
            self.docs.withColumnRenamed(docid, "docid"), "docid"
        ).where(F.col(prop).isNotNull())
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
        docid = self.config.docid_col
        m = result.scored.join(
            self.docs.withColumnRenamed(docid, "docid"), "docid"
        )
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
        docid = self.config.docid_col
        m = result.scored.join(
            self.docs.withColumnRenamed(docid, "docid"), "docid"
        )
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
