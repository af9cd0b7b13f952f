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
    scans a length-banded slice refined by a numpy-vectorized bounded
    Levenshtein. So does a maintained index's: its pending df deltas
    are summed in by a union + groupBy (build/maintenance.py) that the
    literal field / term / term_len predicates pass.
  * a dictionary of at most EXPANSION_COLLECT_CAP rows (the bound is
    counted from parquet footers on the first text search) is held on
    the driver, as Orama holds its radix tree: one job reads it then
    (two over pending deltas), and from then on exact, prefix and fuzzy
    tokens expand against it with no Spark job. A larger dictionary is
    probed by one job per search (a fuzzy query reads its cached
    expansion instead).
  * bounded searches (the normal case: a handful of query tokens whose
    expansion has at most EXPANSION_COLLECT_CAP rows and whose postings
    number at most DRIVER_POSTINGS_CAP) score on the driver, as Orama
    scores in process. Σdf over the expansion bounds the postings rows,
    so a query over the cap is sent to the distributed plan before any
    posting is read. One job reads the postings under the same literal
    term predicate (parquet min/max prunes row-groups on the sorted
    term column), joined with the ``where`` docids by a broadcast of
    the bounded postings side. The rows are scored with the numpy BM25
    WAND uses (build/blocks.py ``bm25_scores``, idf per dictionary
    row), summed per doc in a fixed (field, term) order, thresholded
    and ranked by (score DESC, docid ASC); the result is a driver-side
    frame and its pages are local DataFrames (a LocalTableScan:
    collecting one starts no job).
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
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F
from pyspark.sql.types import (
    ArrayType, BooleanType, DoubleType, LongType, StringType, StructField, StructType,
)

from ..build.blocks import bm25_scores, idf_per_row
from ..build.maintenance import live_tables
from ..config import IndexConfig
from ..kernel.levenshtein import bounded_levenshtein_batch
from ..kernel.tokenizer import Tokenizer
from .filters import WhereCompiler, held_columns

# Rows a collected expansion (field, qtoken, term, df) may have. Over it
# a search runs the distributed plan, and a fuzzy expansion is joined as
# a plan (no broadcast or literal IN-list pushdown). A loaded index whose
# dictionary has at most this many rows holds it on the driver
# (SearchIndex._held_dictionary).
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
# (between 484k and 916k rows). A loaded index whose docs have at most this
# many rows holds their filter and facet columns on the driver
# (SearchIndex._held_columns). Both caps are read at call time, so a test can
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
        parts.append(_with_qtoken(hit, tok))
    return pd.concat(parts, ignore_index=True)


def _fuzzy_expand(tokens: list[str], tolerance: int, dic: pa.Table) -> pd.DataFrame:
    """``_expand`` for fuzzy tokens: per token the prefix matches plus
    the words of the length band |len(term) - len(tok)| <= tolerance
    that are not prefix matches and pass the bounded Levenshtein — the
    two sets ``_expansion_df`` unions. Lengths count characters, as
    Spark's ``length`` (``term_len``) does."""
    term = dic.column("term")
    lens = pc.utf8_length(term)
    parts = []
    for tok in tokens:
        pre = pc.starts_with(term, tok)
        in_band = pc.and_(
            pc.and_(pc.greater_equal(lens, len(tok) - tolerance),
                    pc.less_equal(lens, len(tok) + tolerance)),
            pc.invert(pre),
        )
        band = dic.filter(in_band)
        words = band.column("term").to_numpy(zero_copy_only=False)
        ok = bounded_levenshtein_batch(tok, words, tolerance)
        parts.append(_with_qtoken(dic.filter(pre), tok))
        parts.append(_with_qtoken(band.filter(pa.array(ok)), tok))
    return pd.concat(parts, ignore_index=True)


def _in_props(dic: pa.Table, props: list[str]) -> pa.Table:
    return dic.filter(pc.is_in(dic.column("field"), value_set=pa.array(props, pa.string())))


def _with_qtoken(rows: pa.Table, tok: str) -> pd.DataFrame:
    part = rows.to_pandas()
    part.insert(1, "qtoken", tok)
    return part


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


def _rows_over(files: list[str], cap: int) -> bool:
    """Whether the parquet ``files`` (URIs) hold more than ``cap`` rows
    in all, summed from their footers with no Spark job. Footers past
    the first ``cap`` rows are not read."""
    rows = 0
    for uri in files:
        fs, path = pafs.FileSystem.from_uri(uri)
        with fs.open_input_file(path) as src:
            rows += pq.read_metadata(src).num_rows
        if rows > cap:
            return True
    return False


class _Flights:
    """Values computed at most once per key and shared by reader
    threads. Single flight: readers that miss the same key at once wait
    for the first one's computation instead of each running their own.
    A failed computation raises in every reader waiting on it and is not
    kept, so the next call retries. Callers must not modify a value."""

    def __init__(self):
        self._flights: dict = {}
        self._lock = threading.Lock()

    def get(self, key, compute):
        with self._lock:
            flight = self._flights.get(key)
            owner = flight is None
            if owner:
                flight = self._flights[key] = Future()
        if owner:
            try:
                flight.set_result(compute())
            except BaseException as e:
                with self._lock:
                    del self._flights[key]
                flight.set_exception(e)
                raise
        return flight.result()


class _Held:
    """The held columns of a loaded index: its live docs' docid and
    every column of ``filters.held_columns``, sorted by docid, with
    their Spark schema."""

    def __init__(self, table: pa.Table, schema: StructType, docid: str):
        self.table = table.take(pc.sort_indices(table, [(docid, "ascending")]))
        self.schema = schema
        self.ids = self.table.column(docid).to_numpy()

    def rows(self, ids) -> pa.Table:
        """The held rows of the docids ``ids`` (those not held dropped,
        as an inner join with the docs drops them)."""
        ids = np.asarray(ids, np.int64)
        pos = np.searchsorted(self.ids, ids)
        hit = pos < len(self.ids)
        hit[hit] = self.ids[pos[hit]] == ids[hit]
        return self.table.take(pos[hit])


def _value_counts(col: pa.ChunkedArray, is_array: bool) -> pa.Table:
    """(facet_value, facet_count) of a held column over the matched
    docs, as the Spark facet plan counts: docs per non-null value, an
    array's values counted once per doc; count DESC, value ASC."""
    if is_array:
        arr = col.combine_chunks()
        pairs = pa.table({"d": pc.list_parent_indices(arr), "v": pc.list_flatten(arr)})
        col = pairs.filter(pc.is_valid(pairs["v"])).group_by(["d", "v"]).aggregate([])["v"]
    vc = pc.value_counts(pc.drop_null(col))
    return pa.table({"facet_value": vc.field("values"), "facet_count": vc.field("counts")}).sort_by(
        [("facet_count", "descending"), ("facet_value", "ascending")]
    )


def _range_key(r: dict) -> str:
    return f"{r['from']}-{r['to']}"


def _range_counts(col: pa.ChunkedArray, is_array: bool, ranges: list) -> pa.Table:
    """(facet_value, facet_count) of a held number column over the
    matched docs, as the Spark range plan counts: docs inside each
    inclusive range (an array: some element inside), in range order,
    a ``number[]`` range only once a doc falls in it."""
    vals = col.combine_chunks()
    if is_array:
        parents = pc.list_parent_indices(vals).to_numpy()
        vals = pc.list_flatten(vals)
    keys, counts = [], []
    for r in ranges:
        inr = pc.and_(pc.greater_equal(vals, r["from"]), pc.less_equal(vals, r["to"]))
        inr = pc.fill_null(inr, False).to_numpy(zero_copy_only=False)
        n = len(np.unique(parents[inr])) if is_array else int(np.count_nonzero(inr))
        if n or not is_array:
            keys.append(_range_key(r))
            counts.append(n)
    return pa.table({"facet_value": pa.array(keys, pa.string()),
                     "facet_count": pa.array(counts, pa.int64())})


def _facet_schema(value_type, value_nullable: bool = True) -> StructType:
    return StructType([
        StructField("facet_value", value_type, value_nullable),
        StructField("facet_count", LongType(), False),
    ])


class SearchIndex:
    """A loaded index: docs + postings + dictionary + stats.

    Two tables may be held on the driver, each read by one job on first
    use (single flight across reader threads) and kept as long as the
    index: the dictionary (``_held_dictionary``: exact, prefix and fuzzy
    expansion start no job) and the held columns (``_held_columns``:
    the live docs' docid and every enum, enum[], number, number[],
    boolean and boolean[] column, held when the docs' row bound is at
    most DRIVER_POSTINGS_CAP). A ``where`` over held columns only is
    evaluated once per tree on the held rows (``_held_passing``: the
    filter's one evaluator, the compiled Column, over a local frame),
    so a bounded search drops the candidates that fail it with no
    job, and a facet over a held property of a bounded result counts
    on the driver; over the cap both stay Spark plans."""

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
        # ("over", cap) -> whether the dictionary's row bound is over
        # cap, "dictionary" -> the held dictionary table
        # (_held_dictionary); ("docs over", cap), "columns": the same
        # for the held columns (_held_columns); ("where", repr(tree)) ->
        # its passing docids (_held_passing); (tokens, props, tolerance)
        # -> the fuzzy expansion | None (_fuzzy_expansion)
        self._flights = _Flights()
        # props -> the (dictionary, postings) scans (_scans)
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
        """Load the index's live tables (``build.maintenance.live_tables``:
        pending incremental maintenance composed lazily into the plans,
        each table read with its stored schema). Starts no Spark job and
        reads no table: the first text search decides whether the
        dictionary is held on the driver (``_held_dictionary``), the
        first filtered or faceted one whether the filter and facet
        columns are (``_held_columns``)."""
        with open(os.path.join(index_dir, "stats.json")) as f:
            stats = json.load(f)
        live = live_tables(
            spark, index_dir, config, ("docs", "postings", "dictionary", "dictionary_bylen")
        )
        return cls(spark, config, stats=stats, **live)

    # -------------------------------------------------------- expansion
    def _expansion_df(
        self, tokens: list[str], props: list[str], exact: bool, tolerance: int
    ) -> DataFrame:
        """Expansion plan: (field, qtoken, term, df) per matched word.
        Exact/prefix/fuzzy semantics per trees/radix.ts:240-303 and
        find_words in the oracle. Pure plan — no driver action."""
        base = self._scans(props)[0]
        parts = []
        for tok in tokens:
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

    def _held_dictionary(self) -> Optional[pa.Table]:
        """The live dictionary's (field, term, df) rows on the driver,
        or None when its row bound is over EXPANSION_COLLECT_CAP (read at
        call time). The bound is the rows of every file its plan reads
        (pending df deltas included: the composition has at most one
        row per input row), summed from parquet footers once per cap.
        The first text search reads the table (one job, two while df
        deltas are pending: their aggregate's shuffle; single flight
        across reader threads; a failed read is retried by the next
        search), and it is kept as long as the index. A dictionary this
        small never gives an over-cap probe."""
        cap = EXPANSION_COLLECT_CAP
        over = self._flights.get(
            ("over", cap), lambda: _rows_over(self.dictionary.inputFiles(), cap)
        )
        if over:
            return None
        return self._flights.get(
            "dictionary", lambda: self.dictionary.select("field", "term", "df").toArrow()
        )

    def _held_columns(self) -> Optional[_Held]:
        """The held columns (``_Held``), or None when the docs' row bound
        is over DRIVER_POSTINGS_CAP (read at call time): the rows of
        every file the docs plan reads (pending tombstones included),
        summed from parquet footers once per cap. The first filtered or
        faceted search reads them (one job over ``docs``, so pending
        tombstones are applied; single flight across reader threads; a
        failed read is retried by the next search)."""
        cap = DRIVER_POSTINGS_CAP
        over = self._flights.get(
            ("docs over", cap), lambda: _rows_over(self.docs.inputFiles(), cap)
        )
        if over:
            return None

        def read() -> _Held:
            docid = self.config.docid_col
            cols = [p for p in held_columns(self.config) if p != docid]
            frame = self.docs.select(docid, *cols)
            return _Held(frame.toArrow(), frame.schema, docid)

        return self._flights.get("columns", read)

    def _held_passing(self, where: dict) -> Optional[np.ndarray]:
        """The sorted docids of the live docs that pass ``where``, from
        the held columns; None when a leaf is not over a held column
        (string, geopoint, nested or unknown) or nothing is held. The
        tree's one evaluator, its ``compile_column_predicate`` Column,
        runs over a local frame of every held row
        (``WhereCompiler.passing``: no job) once per tree and loaded
        index, single flight like the held tables: a repeated filter
        costs a lookup. An invalid tree raises and is not kept."""
        if not self._where.held_only(where):
            return None
        held = self._held_columns()
        if held is None:
            return None
        return self._flights.get(
            ("where", repr(where)),
            lambda: self._where.passing(where, self._local(held.table, held.schema)),
        )

    def _fuzzy_expansion(
        self, tokens: list[str], props: list[str], tolerance: int,
        held: Optional[pa.Table],
    ) -> Optional[pd.DataFrame]:
        """The expansion rows of a fuzzy query, or None when there are
        more than EXPANSION_COLLECT_CAP: expanded on the driver against
        the ``held`` dictionary, else collected by one job that scans the
        length band with the Levenshtein UDF. Their matched-word set is
        the literal IN-list that keeps the postings scan row-group-pruned
        (a fuzzy predicate can't push into parquet). They only depend on
        the dictionary, so they are computed once per (tokens, props,
        tolerance), single flight, and kept; a repeated fuzzy query skips
        the scan and the Levenshtein work."""

        def collect():
            cap = EXPANSION_COLLECT_CAP
            if held is not None:
                exp = _fuzzy_expand(tokens, tolerance, _in_props(held, props))
                return None if len(exp) > cap else exp
            got = self._expansion_df(tokens, props, False, tolerance).limit(cap + 1).toArrow()
            return None if got.num_rows > cap else got.to_pandas()

        return self._flights.get((tuple(tokens), tuple(props), tolerance), collect)

    def _expansion(
        self, tokens: list[str], props: list[str], exact: bool, tolerance: int
    ) -> tuple:
        """(rows, pred): the expansion rows (field, qtoken, term, df) on
        the driver, or None when there are more than
        EXPANSION_COLLECT_CAP, and the literal predicate on ``term`` that
        selects their postings (None: every term, or an over-cap fuzzy
        expansion, which only a join can select). Against a held
        dictionary every token expands on the driver with no Spark job;
        otherwise exact and prefix tokens read their matched dictionary
        rows in one job. A fuzzy query reads its cached expansion."""
        held = self._held_dictionary()
        if tolerance and not exact and "" not in tokens:
            exp = self._fuzzy_expansion(tokens, props, tolerance, held)
            if exp is None:
                return None, None
            return exp, F.col("term").isin(sorted(set(exp["term"])))
        pred = _term_predicate(tokens, exact)
        if held is not None:
            return _expand(tokens, exact, _in_props(held, props)), pred
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
        passing: Optional[np.ndarray],
        where_ids: Optional[DataFrame],
    ) -> dict:
        """``SearchResult`` arguments of a text search: ``ranked`` and
        ``fetch`` from the bounded driver path when the expansion fits
        under EXPANSION_COLLECT_CAP and its postings (Σdf over the
        matched (field, term) pairs, at least the postings rows they
        select) under DRIVER_POSTINGS_CAP; else ``scored``, the
        distributed plan. The caps are checked before any posting is
        read. The ``where`` is ``passing`` (``_held_passing``) or
        ``where_ids``, at most one of them set."""
        tokens = self.tokenizer.tokenize(term)
        if not tokens:
            if term:
                return {"ranked": _ranked()}
            tokens = [""]
        exp, pred = self._expansion(tokens, props, exact, tolerance)
        if exp is not None and (
            exp.drop_duplicates(["field", "term"])["df"].sum() <= DRIVER_POSTINGS_CAP
        ):
            ranked, fetch = self._bounded(
                tokens, exp, pred, props, boost, threshold, passing, where_ids
            )
            if exact and term and len(ranked):
                ids = ranked["docid"].to_numpy()
                ok = self._exact_ids(term, props, self._id_frame(ids)).toArrow().column(0)
                ranked = ranked[np.isin(ids, ok.to_numpy())].reset_index(drop=True)
            return {"ranked": ranked, "fetch": fetch}
        if passing is not None:
            where_ids = self._id_frame(passing)
        scored = self._scored(tokens, exp, pred, props, exact, tolerance, boost, threshold, where_ids)
        if exact and term:
            scored = scored.join(self._exact_ids(term, props, scored), "docid", "left_semi")
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
        """The (dictionary, postings) scans over ``props``, projected to
        the columns a search reads: the only builder of them, for the
        expansion probe and plan, the bounded fetch, the distributed
        plan and ``search_many``. Built on first use and shared by
        reader threads (a DataFrame is immutable; two threads missing at
        once build equal frames and the first stored wins). Reusing them
        keeps a query's plan-building py4j calls to its own predicates."""
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

    def _id_frame(self, ids: np.ndarray) -> DataFrame:
        """A driver-side docid set as a local DataFrame of one column
        ``docid`` (joined as a set, no literal IN-list)."""
        return self._local(
            pa.table({"docid": pa.array(ids, pa.int64())}),
            StructType([StructField("docid", LongType())]),
        )

    def _bounded(
        self,
        tokens: list[str],
        exp: pd.DataFrame,
        pred: Optional[Column],
        props: list[str],
        boost: dict[str, float],
        threshold: float,
        passing: Optional[np.ndarray],
        where_ids: Optional[DataFrame],
    ) -> tuple:
        """``_scored`` on the driver: (ranked frame, postings fetch).
        One job reads the postings under ``pred`` (not run when the
        expansion leaves nothing to score). A ``where`` over held
        columns drops the candidates not in its ``passing`` docids
        before ranking (no job); any other ``where`` joins its docids
        ``where_ids`` with the fetch, as a broadcast of the bounded
        postings side."""
        fetch = self._scans(props)[1]
        if pred is not None:
            fetch = fetch.where(pred)
        if where_ids is not None:
            fetch = where_ids.join(F.broadcast(fetch), "docid")
        if exp.empty or _misses_a_token(exp, tokens, threshold):
            return _ranked(), fetch
        exp = exp.assign(idf=idf_per_row(exp["df"].to_numpy(), float(self.stats["docs_count"])))
        hits = fetch.toArrow().to_pandas().merge(exp[["field", "term", "idf"]], on=["field", "term"])
        if passing is not None:
            hits = hits[np.isin(hits["docid"].to_numpy(), passing)]
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
        props = self._props(properties)
        boost = boost or {}
        for b in boost.values():
            if b <= 0:
                raise ValueError(f"INVALID_BOOST_VALUE: {b}")

        # {} filters nothing; any other tree is compiled here, so an
        # invalid one raises whatever path the search takes
        where = where or None
        passing = self._held_passing(where) if where else None
        where_ids = None
        if where and passing is None:
            where_ids = self._where.docids(where)  # lazy: no job

        result = None
        if term or properties is not None:
            text = self._text(
                term or "", props, exact, tolerance, boost, threshold, passing, where_ids
            )
            result = SearchResult(self, offset=offset, limit=limit, **text)
        else:
            if where is not None:
                geo = self._geo_only(where)
                if geo is not None:
                    scored = geo
                else:
                    if passing is not None:
                        where_ids = self._id_frame(passing)
                    scored = where_ids.select("docid", F.lit(0.0).alias("score"))
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
        props = self._props(properties)
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
        d, p = self._scans(props)
        cond = (
            (F.col("term") == F.col("qtoken"))
            if exact
            else F.col("term").startswith(F.col("qtoken"))
        )
        exp = d.join(qdf, cond).select("field", "term", "df", "qid")
        # the literal predicate of all the batch's tokens: parquet
        # min/max still prunes row-groups on the sorted term column
        pred = _term_predicate(sorted({t for _, t in qtok_rows}), exact)
        joined = (p if pred is None else p.where(pred)).join(exp, ["field", "term"])
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

    def _props(self, properties: Optional[list[str]]) -> list[str]:
        """The searchable properties a search runs over, in schema order:
        all of them, or those named in ``properties``; a name that is not
        searchable raises UNKNOWN_INDEX."""
        searchable = self.config.searchable_fields
        if properties is None:
            return searchable
        for p in properties:
            if p not in searchable:
                raise ValueError(f"UNKNOWN_INDEX: {p}")
        return [p for p in searchable if p in properties]

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
        p = self._scans(props)[1]
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
        return self._exact_ids(term, props)

    def _exact_ids(
        self, term: str, props: Optional[list[str]], among: Optional[DataFrame] = None
    ) -> DataFrame:
        """The docids (column ``docid``) among those of ``among`` (a
        frame with a ``docid`` column; None: every doc) whose docs pass
        ``_exact_predicate``. The reference post-filters the MATCHED
        hits (search-fulltext.ts:88-115), so a search restricts the
        \\b-regex scan to its matched docids: at 2M docs the
        whole-corpus regex scan was 6-9 s while the matched set is
        orders of magnitude smaller (SCALE_r04 wand_crossover notes)."""
        docid = self.config.docid_col
        docs = self.docs
        if among is not None:
            docs = docs.join(among.select(F.col("docid").alias(docid)), docid, "left_semi")
        return docs.where(self._exact_predicate(term, props)).select(F.col(docid).alias("docid"))

    # ------------------------------------------------------------ facets
    def _facet_counts(self, result: SearchResult, prop: str, ranges: list) -> tuple:
        """(counts, rows): the unpaged (facet_value, facet_count) of
        ``prop`` over the full match set, the one facet rule
        (components/facets.ts:28-174), and their row count when it is
        known on the driver (else None). A value is counted once per doc
        that has it (an array's values once per doc, nulls never). A
        number facet counts the docs inside each inclusive range (an
        array: some element inside): a ``number`` range is listed from
        0, as the reference pre-seeds it (facets.ts:139-141), a
        ``number[]`` range only once a doc falls in it, and no ranges
        give no rows. A bounded result's facet over a held property is
        counted on the driver from the held columns (a local frame:
        collecting it starts no job); any other is a Spark plan."""
        typ = self.config.schema[prop]
        is_array, is_range = typ.endswith("[]"), typ.startswith("number")
        range_schema = _facet_schema(StringType(), False)
        if is_range and not ranges:
            empty = pa.table({"facet_value": pa.array([], pa.string()),
                              "facet_count": pa.array([], pa.int64())})
            return self._local(empty, range_schema), 0
        held = None
        if result.ranked is not None and prop in held_columns(self.config):
            held = self._held_columns()
        if held is not None:
            col = held.rows(result.ranked["docid"].to_numpy()).column(prop)
            if is_range:
                counts, schema = _range_counts(col, is_array, ranges), range_schema
            else:
                value_type = held.schema[prop].dataType
                if isinstance(value_type, ArrayType):
                    value_type = value_type.elementType
                counts, schema = _value_counts(col, is_array), _facet_schema(value_type)
            return self._local(counts, schema), counts.num_rows
        m = result.scored.join(self.docs_by_docid, "docid")
        if is_range:
            cells = []
            for r in ranges:
                val = F.col(prop)
                if is_array:
                    inr = F.exists(val, lambda x: (x >= r["from"]) & (x <= r["to"]))
                else:
                    inr = (val >= r["from"]) & (val <= r["to"])
                cells.append(F.struct(
                    F.lit(_range_key(r)).alias("facet_value"),
                    F.count(F.when(inr, True)).alias("facet_count"),
                ))
            counts = m.agg(F.array(*cells).alias("r")).select(F.inline("r"))
            if is_array:
                return counts.where(F.col("facet_count") > 0), None
            return counts, len(ranges)
        vals = m.select(
            F.explode(F.array_distinct(F.col(prop))).alias("facet_value")
            if is_array
            else F.col(prop).alias("facet_value")
        ).where(F.col("facet_value").isNotNull())
        return vals.groupBy("facet_value").agg(F.count("*").alias("facet_count")), None

    def facets_df(self, result: SearchResult, prop: str, config: Optional[dict] = None) -> DataFrame:
        """Facet counts over the FULL match set (``_facet_counts``) as
        (facet_value, facet_count). A string facet is paged per the
        reference (count desc default, limit 10), with value ASC as the
        deterministic tie-break."""
        cfg = config or {}
        counts, _ = self._facet_counts(result, prop, cfg.get("ranges", []))
        if self.config.schema[prop] == "string":
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
        """Facet ``count`` = number of facet values
        (components/facets.ts:115-117): the rows of the unpaged
        ``_facet_counts``, a local constant when they are known on the
        driver."""
        counts, rows = self._facet_counts(result, prop, (config or {}).get("ranges", []))
        if rows is not None:
            return self._local(
                pa.table({"facet_count": pa.array([rows], pa.int64())}),
                StructType([StructField("facet_count", LongType(), False)]),
            )
        return counts.agg(F.count("*").alias("facet_count"))

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
