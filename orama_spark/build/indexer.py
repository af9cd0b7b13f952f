"""Distributed inverted-index builder (the Spark rewrite of Orama insert)
and the single owner of the index table format.

Every derived table is defined once, here, as a function of its input
frame: ``tokens_table`` (docs -> per-field token lists),
``postings_table`` (tokens -> postings, scalar and string[]),
``docmeta_table`` (tokens -> per-doc field lengths), ``dictionary_table``
(postings -> df = Σocc) and ``dictionary_bylen_table`` (dictionary ->
the length-banded copy), plus ``postings_layout`` and
``dictionary_layout`` for the postings and dictionary file order, and
``field_stats`` (a batch of inserts or removes -> stats.json, its events
from ``insert_events`` or ``remove_events``). ``IndexBuilder.build``,
incremental insert / remove / compact and the live view readers see
(maintenance.py) and the verbatim dump restore (persistence/restore.py)
all call these; each caller chooses only paths, write mode and an
optional width override (the default widths come from ``layout``), and
``field_stats``' callers only the batch, its order and the start state.

Reference semantics being reproduced (see SURVEY.md §2.3, §7-M2):
  * field_len  = len(token list)  — with the default deduplicating
    tokenizer this is the count of UNIQUE tokens (index.ts:79-91)
  * tf         = occurrences / len(token list) — 1/field_len under
    dedup (index.ts:93-111)
  * df         = per-(field, term) number of (doc, token) inserts
    (index.ts:113-118)
  * avg_field_length = running mean over the live doc count at each
    insert and remove (index.ts:79-91, 121-132) — it telescopes to a
    closed form when every doc of a batch fires exactly once, the fast
    path; otherwise it depends on the order, which a build takes from
    the docids and insert / remove from the caller's rows (any docids)

Scale design (the part Catalyst doesn't give us):
  * one tokenize pass (Arrow UDF) -> explode -> postings carry
    (tf, field_len) denormalized, so the query path needs NO join with
    docmeta — it joins only the tiny query-term expansion.
  * dictionary df via groupBy(field, term).sum(occ): partial (map-side)
    aggregation makes Zipf skew a non-issue for counts.
  * postings are written repartitionByRange(field, term, docid) +
    sortWithinPartitions(field, term, docid): range partitioning SAMPLES
    the key distribution, so a hot term ('the' at 10^12 docs) simply
    spans several contiguous partitions instead of exploding one reducer
    — nothing ever collect_list()s an unsalted hot key. Sorted layout
    gives parquet min/max row-group pruning for term IN-list lookups.
  * every stage is checkpoint-resumable via BuildManifest.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import uuid

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .. import layout
from ..config import IndexConfig
from .manifest import BuildManifest
from .tokenize import tokens_arr_udf, tokens_udf


def _tok_col(field: str) -> str:
    """Internal token-column alias; dots in nested paths (meta.tag) must
    not look like struct accessors in column references."""
    return "__tok_" + field.replace(".", "__")


def _union(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ------------------------------------------------------- table format

def tokens_table(docs: DataFrame, config: IndexConfig) -> DataFrame:
    """(docid, one token column per searchable field) — the single
    Arrow-UDF tokenize pass. Scalar string: array<string> of tokens.
    string[]: one token list per array ELEMENT (the reference inserts
    each element separately, index.ts:260-301 — order matters, see
    ``_array_field_postings``)."""
    tok_cols = [
        (
            tokens_arr_udf(config.tokenizer, f_)(F.col(f_))
            if config.schema[f_] == "string[]"
            else tokens_udf(config.tokenizer, f_)(F.col(f_).cast("string"))
        ).alias(_tok_col(f_))
        for f_ in config.searchable_fields
    ]
    return docs.select(F.col(config.docid_col).alias("docid"), *tok_cols)


def _scalar_field_postings(tokenized: DataFrame, f_: str, allow_duplicates: bool) -> DataFrame:
    t = tokenized.select(
        "docid",
        F.col(_tok_col(f_)).alias("toks"),
    ).where(F.col("toks").isNotNull())
    base = t.select(
        "docid",
        F.size("toks").alias("field_len"),
        F.explode("toks").alias("term"),
    )
    if allow_duplicates:
        base = base.groupBy("docid", "field_len", "term").agg(
            F.count("*").alias("occ")
        )
        tf = F.col("occ") / F.col("field_len")
        occ = F.col("occ")
    else:
        tf = F.lit(1.0) / F.col("field_len")
        occ = F.lit(1)
    # occ: token occurrences behind this posting. The reference
    # increments tokenOccurrences once per OCCURRENCE
    # (index.ts:113-118), so with allow_duplicates df must be
    # sum(occ), not the distinct-doc count.
    return base.select(
        F.lit(f_).alias("field"),
        "term",
        "docid",
        tf.cast("double").alias("tf"),
        F.col("field_len").cast("int").alias("field_len"),
        occ.cast("int").alias("occ"),
    )


def _array_field_postings(tokenized: DataFrame, f_: str) -> DataFrame:
    """string[] postings replicating the per-element insert
    (components/index.ts:260-301 + 79-119):
      * the radix set holds every token of every element -> one
        posting per distinct (doc, term) across ALL elements
      * df counts occurrences across elements (occ)
      * frequencies are RESET per element (index.ts:90), so the
        stored tf is the token's tf within the LAST element — 0 for
        tokens only in earlier elements (calculateResultScores
        falls back to 0, index.ts:107)
      * field_len is the LAST element's token count (overwritten per
        element, index.ts:88)
    """
    col = _tok_col(f_)
    t = tokenized.select("docid", F.col(col).alias("toks")).where(
        F.col("toks").isNotNull() & (F.size("toks") > 0)
    )
    base = t.select(
        "docid",
        F.element_at("toks", -1).alias("last_toks"),
        F.explode(F.flatten("toks")).alias("term"),
    )
    grouped = base.groupBy("docid", "term").agg(
        F.count("*").alias("occ"), F.first("last_toks").alias("last_toks")
    )
    field_len = F.size("last_toks")
    in_last = F.size(F.filter("last_toks", lambda x: x == F.col("term")))
    tf = F.when(field_len > 0, in_last.cast("double") / field_len).otherwise(0.0)
    return grouped.select(
        F.lit(f_).alias("field"),
        "term",
        "docid",
        tf.cast("double").alias("tf"),
        field_len.cast("int").alias("field_len"),
        F.col("occ").cast("int").alias("occ"),
    )


def postings_table(tokenized: DataFrame, config: IndexConfig) -> DataFrame:
    """(field, term, docid, tf, field_len, occ): one union over the
    searchable fields, in no particular order (see ``postings_layout``)."""
    return _union([
        _array_field_postings(tokenized, f_)
        if config.schema[f_] == "string[]"
        else _scalar_field_postings(tokenized, f_, config.tokenizer.allow_duplicates)
        for f_ in config.searchable_fields
    ])


def postings_layout(postings: DataFrame, n_part: int | None = None) -> DataFrame:
    """Postings files sorted by (field, term, docid). With ``n_part``
    they are first range partitioned on the same key: including docid
    means a Zipf-hot term ('the' at 10^12 docs) SPLITS across partitions
    by docid range instead of landing on one reducer (equal range keys
    co-locate, so (field, term) alone would re-create the skew). Term
    min/max per file/row-group still prunes IN-list lookups. Without
    ``n_part`` (an append) each input partition is sorted in place."""
    if n_part is not None:
        postings = postings.repartitionByRange(max(n_part, 1), "field", "term", "docid")
    return postings.sortWithinPartitions("field", "term", "docid")


def docmeta_table(tokenized: DataFrame, config: IndexConfig) -> DataFrame:
    """(docid, field, field_len) per doc that has the field. Scalar:
    field_len = token count. string[]: the LAST element's token count
    (fieldLengths is overwritten per element, index.ts:88-89); docs
    with an empty array have no entry (the per-element loop never
    runs)."""

    def meta_col(f_: str):
        if config.schema[f_] == "string[]":
            return F.size(F.element_at(_tok_col(f_), -1))
        return F.size(_tok_col(f_))

    def present(f_: str):
        c = F.col(_tok_col(f_))
        if config.schema[f_] == "string[]":
            return c.isNotNull() & (F.size(c) > 0)
        return c.isNotNull()

    return _union([
        tokenized.select(
            "docid",
            F.lit(f_).alias("field"),
            meta_col(f_).alias("field_len"),
        ).where(present(f_))
        for f_ in config.searchable_fields
    ])


def term_df(postings: DataFrame) -> DataFrame:
    """(field, term, df) with df = Σocc: one unit per token OCCURRENCE,
    as the reference's tokenOccurrences (index.ts:113-118). Incremental
    maintenance derives its df deltas from the same aggregate."""
    return postings.groupBy("field", "term").agg(F.sum("occ").cast("long").alias("df"))


def dictionary_layout(dictionary: DataFrame, n_part: int) -> DataFrame:
    """(field, term, df) rows in the dictionary's file layout: range
    partitioned into ``n_part`` files and sorted by (field, term) so
    exact/prefix lookups row-group-prune."""
    return (
        dictionary.repartitionByRange(max(n_part, 1), "field", "term")
        .sortWithinPartitions("field", "term")
    )


def dictionary_table(postings: DataFrame, n_part: int) -> DataFrame:
    """The term dictionary of ``postings`` in ``dictionary_layout``."""
    return dictionary_layout(term_df(postings), n_part)


def term_len() -> Column:
    """The dictionary_bylen ``term_len`` column, derived from ``term``."""
    return F.length("term").cast("int")


def dictionary_bylen_table(dictionary: DataFrame, n_part: int) -> DataFrame:
    """Length-banded dictionary copy for the fuzzy path. The primary
    dictionary's (field, term) order can't prune a tolerance query's
    length band (|len(term) - len(tok)| <= tol), which would force a
    full dictionary scan per fuzzy query (~GBs at 10^12 docs). This copy
    is sorted by (field, term_len, term) so the band becomes a pushdown
    range predicate."""
    return (
        dictionary.select("field", term_len().alias("term_len"), "term", "df")
        .repartitionByRange(max(n_part, 1), "field", "term_len", "term")
        .sortWithinPartitions("field", "term_len", "term")
    )


# --------------------------------------------------- avg_field_length

# Bucket count of the distributed rank and suffix scan. 64 keeps the
# driver-side offset tables trivial while bounding any one window
# partition to ~1/64 of the batch; at 1000 executors raise it to
# O(cores) — the collects stay tiny either way.
_STATS_BUCKETS = 64


def _doc_rows(docs: DataFrame, order: str) -> DataFrame:
    """The batch's documents as event rows with a null ``field``: each
    advances the live count c."""
    nul = F.lit(None).cast("int")
    return docs.select(
        order, F.lit(None).cast("string").alias("field"), nul.alias("pos"), nul.alias("len")
    )


def insert_events(tokens: DataFrame, config: IndexConfig, order: str) -> DataFrame:
    """(order, field, pos, len) for inserting the ``tokens`` rows: a row
    per document, then one per score-parameter event the reference
    fires: per element of the field at its token count
    (index.ts:260-301), a scalar being a one-element array, none for a
    field the document lacks."""

    def events(f_: str) -> DataFrame:
        c = F.col(_tok_col(f_))
        if config.schema[f_] != "string[]":
            c = F.when(c.isNotNull(), F.array(c))
        return tokens.select(
            order, F.lit(f_).alias("field"),
            F.posexplode(F.transform(c, F.size)).alias("pos", "len"),
        )

    return _union([_doc_rows(tokens, order)] + [events(f_) for f_ in config.searchable_fields])


def remove_events(spark: SparkSession, index_dir: str, ids: DataFrame,
                  config: IndexConfig, order: str) -> DataFrame:
    """(order, field, pos, len) for removing the documents of ``ids``
    (``docid``, ``order``) from the index at ``index_dir``: a row per
    document, then its stored length (docmeta) once per field it holds,
    then — the quirk of index.ts:383-405, whose first call clears
    fieldLengths and whose second subtracts undefined — a null len for
    every further element of a string[]. Reads docmeta, and tokens only
    when the schema has a string[] field (its element counts)."""
    stored = spark.read.parquet(os.path.join(index_dir, "docmeta")).join(ids, "docid").select(
        order, "field", F.lit(0).alias("pos"), F.col("field_len").alias("len")
    )
    arr = [f_ for f_ in config.searchable_fields if config.schema[f_] == "string[]"]
    if arr:
        removed = spark.read.parquet(os.path.join(index_dir, "tokens")).join(ids, "docid")

    def poisoned(f_: str) -> DataFrame:
        n = F.size(_tok_col(f_))
        return removed.where(n > 1).select(
            order, F.lit(f_).alias("field"),
            F.explode(F.sequence(F.lit(1), n - 1)).alias("pos"),
            F.lit(None).cast("int").alias("len"),
        )

    return _union([_doc_rows(ids, order), stored] + [poisoned(f_) for f_ in arr])


def _bucket_expr(col: Column, lo: int, hi: int) -> Column:
    """Value-range bucket of ``col`` over [lo, hi]: monotone in it."""
    span = max(int(hi) - int(lo) + 1, 1)
    return F.floor(
        (col.cast("long") - F.lit(int(lo))) * _STATS_BUCKETS / F.lit(span)
    ).cast("int")


def field_stats(
    events: DataFrame, config: IndexConfig, order: str, start: dict | None = None,
    sign: int = 1,
) -> dict:
    """``stats.json`` after one batch of inserts (``sign`` +1) or removes
    (-1) applied to ``start`` (an empty index when None): the live
    ``docs_count``, and per searchable field ``docs_with_field`` and the
    reference's running mean ``avg_field_length``.

    ``events`` holds the batch's rows from ``insert_events`` or
    ``remove_events``, applied in ascending (``order``, pos). With c the
    live document count before a document's events, each event updates
    A <- (A*c + s*len) / (c + s) (index.ts:79-91 for inserts, 121-132
    for removes), 0 when c + s = 0 and NaN for a null len. All events
    of one document share its c (string[], index.ts:290-296); documents
    lacking the field fire nothing, but advance c.

    One aggregate over ``events`` decides each field. When every
    document fires exactly once the recurrence telescopes to
    (A0*c0 + s*Σlen) / (c0 + s*m); otherwise the distributed suffix
    scan (``_suffix_avg_df``) evaluates it."""
    start = start or {"docs_count": 0, "fields": {}}
    c0 = int(start["docs_count"])
    fields = config.searchable_fields
    aggs = [
        F.count_if(F.col("field").isNull()).alias("m"),
        F.min(order).alias("lo"), F.max(order).alias("hi"),
    ]
    for i, f_ in enumerate(fields):
        on = F.col("field") == f_
        aggs += [
            F.count_if(on).alias(f"n{i}"),  # events
            F.count_if(on & (F.col("pos") == 0)).alias(f"k{i}"),  # docs with the field
            F.sum(F.when(on, F.col("len"))).alias(f"s{i}"),
        ]
    row = events.agg(*aggs).collect()[0]
    m = int(row["m"])
    out = {"docs_count": c0 + sign * m, "fields": dict(start["fields"])}
    a0s: dict[str, float] = {}
    for i, f_ in enumerate(fields):
        info = start["fields"].get(f_, {"avg_field_length": 0.0, "docs_with_field": 0})
        a0 = float(info["avg_field_length"])
        n, k = int(row[f"n{i}"] or 0), int(row[f"k{i}"] or 0)
        if n == 0:
            avg = a0
        elif n == k == m:
            c_end = c0 + sign * m
            avg = (a0 * c0 + sign * int(row[f"s{i}"])) / c_end if c_end else 0.0
        else:
            avg, a0s[f_] = None, a0
        out["fields"][f_] = {
            "avg_field_length": avg,
            "docs_with_field": int(info["docs_with_field"]) + sign * k,
        }
    if a0s:
        for r in _suffix_avg_df(
            _events(events, order, list(a0s), row["lo"], row["hi"], c0, sign),
            sign, a0s,
        ).collect():
            out["fields"][r["field"]]["avg_field_length"] = float(r["avg"])
    return out


def _events(
    events: DataFrame, order: str, fields: list[str], lo: int, hi: int, c0: int, sign: int,
) -> DataFrame:
    """(field, bucket, rank, c, pos, len): one row per event of
    ``fields``. ``rank`` is the document's 1-based place in the batch,
    distributed: value-range buckets on ``order``, per-bucket document
    counts collected for the offsets, a running count of document rows
    in a window PARTITIONED on bucket."""
    from pyspark.sql import Window

    doc = F.col("field").isNull()
    rows = events.where(doc | F.col("field").isin(fields)).withColumn(
        "bucket", _bucket_expr(F.col(order), lo, hi)
    )
    counts = {r["bucket"]: r["count"] for r in rows.where(doc).groupBy("bucket").count().collect()}
    offs, acc = {}, 0
    for b in sorted(counts):
        offs[b] = acc
        acc += counts[b]
    rmap = F.create_map(*[F.lit(x) for kv in offs.items() for x in kv])
    # a document's row sorts before its events (nulls first)
    w = (
        Window.partitionBy("bucket").orderBy(order, "field", "pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rank = F.sum(doc.cast("int")).over(w) + rmap[F.col("bucket")]
    c = (F.lit(c0) + sign * (F.col("rank") - 1)).cast("double").alias("c")
    return rows.withColumn("rank", rank).where(~doc).select(
        "field", "bucket", "rank", c, "pos",
        F.coalesce(F.col("len").cast("double"), F.lit(float("nan"))).alias("len"),
    )


def _suffix_avg_df(rows: DataFrame, sign: int, start: dict[str, float]) -> DataFrame:
    """Per field, the running mean after the events in ``rows`` (field,
    bucket, rank, c, pos, len), applied in (rank, pos) order from
    ``start[field]`` (0 when absent). Each event is affine,
    A <- a*A + b with a = c/(c+s) and b = s*len/(c+s) (a = b = 0 where
    c + s = 0), so
        A = A0 * Π a + Σ_i b_i * Π_{j>i} a_j
    with the products in log space: lp = log a (-inf where a = 0).

    ``bucket`` must be monotone non-decreasing in rank. The suffix sum
    is a two-stage scan, never a global Window.orderBy:
      1. per-(field, bucket) lp totals -> driver; a bucket's offset is
         the sum of the totals of the field's LATER buckets;
      2. the within-bucket suffix via a window PARTITIONED on
         (bucket, field), each partition at most one bucket of rows.
    A term whose suffix is -inf precedes a reset and is dropped, NaN
    included (a remove to 0 resets the field); the head A0 * Π a keeps
    NaN * 0 = NaN on inserts, as the reference does."""
    from pyspark.sql import Window

    s = float(sign)
    c, ln = F.col("c"), F.col("len")
    lp = F.when((c > 0) & (c + s > 0), F.log(c) - F.log(c + s)).otherwise(
        F.lit(float("-inf"))
    )
    b = F.when(c + s != 0, s * ln / (c + s)).otherwise(ln * 0.0)
    rows = rows.withColumn("lp", lp).withColumn("b", b)
    totals: dict[str, dict[int, float]] = {}
    for r in rows.groupBy("field", "bucket").agg(F.sum("lp").alias("t")).collect():
        totals.setdefault(r["field"], {})[r["bucket"]] = float(r["t"])
    offs, heads = {}, {}
    for f_, per in totals.items():
        offs[f_], acc = {}, 0.0
        for bk in sorted(per, reverse=True):
            offs[f_][bk] = acc
            acc += per[bk]
        a0 = start.get(f_, 0.0)
        heads[f_] = 0.0 if sign < 0 and acc == float("-inf") else a0 * math.exp(acc)
    omap = F.create_map(*[
        x for f_, per in offs.items()
        for x in (F.lit(f_), F.create_map(*[F.lit(v) for kv in per.items() for v in kv]))
    ])
    hmap = F.create_map(*[F.lit(v) for kv in heads.items() for v in kv])
    w = (
        Window.partitionBy("bucket", "field")
        .orderBy(F.desc("rank"), F.desc("pos"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    suffix = F.coalesce(F.sum("lp").over(w), F.lit(0.0)) + omap[F.col("field")][F.col("bucket")]
    term = F.when(F.col("suffix") > float("-inf"), F.col("b") * F.exp("suffix")).otherwise(0.0)
    return rows.withColumn("suffix", suffix).groupBy("field").agg(
        (F.sum(term) + F.first(hmap[F.col("field")])).alias("avg")
    )


def _config_fingerprint(config: IndexConfig, extra: str = "") -> str:
    cfg = json.dumps(
        {
            "layout": 2,  # postings carry occ; df = sum(occ)
            "schema": config.schema,
            "language": config.tokenizer.language,
            "stemming": config.tokenizer.stemming,
            "stopwords": sorted(config.tokenizer.stopwords),
            "allow_duplicates": config.tokenizer.allow_duplicates,
            "extra": extra,
        },
        sort_keys=True,
    )
    return hashlib.sha256(cfg.encode()).hexdigest()[:16]


def input_digest(input_id: str) -> str:
    """How the docs entry records the build's ``input_id``: fixed-length,
    so the manifest's size does not depend on the name (often a path)."""
    return hashlib.sha256(input_id.encode()).hexdigest()[:16]


# the stages of IndexBuilder.build, as named in its manifest
BUILD_STAGES = (
    "docs", "tokens", "postings", "dictionary", "dictionary_bylen", "docmeta", "stats",
)


class IndexBuilder:
    def __init__(
        self,
        config: IndexConfig,
        postings_partitions: int | None = None,
        docs_already_sorted: bool = False,
    ):
        """``postings_partitions`` overrides the postings width, and
        docs and both dictionaries follow it (``layout.index_widths``);
        by default a build sizes its tables from its input through
        ``layout``. ``docs_already_sorted``: the input is already
        partitioned in docid order (e.g. a spark.range-derived source or
        a previously sorted table) — skip the docs-table range shuffle, a
        full-corpus shuffle that would dominate a 100 TB ingest for no
        benefit."""
        config.validate()
        self.config = config
        self.postings_partitions = postings_partitions
        self.docs_already_sorted = docs_already_sorted
        config.hooks.run_observe("after_create", config)

    # -------------------------------------------------------------- build
    def build(self, df: DataFrame, out_dir: str, input_id: str = "") -> dict:
        """Build the index tables under ``out_dir``.

        ``df`` must contain ``config.docid_col`` (int64, unique; ranking
        ties break on it ascending, mirroring Orama's internal-ID order,
        utils.ts:184-190) plus every schema property as a column.

        ``input_id`` names the input. A re-run with the same
        ``input_id``, config and layout into the same ``out_dir`` skips
        every stage the manifest records as complete: resume is for
        callers that name their input, and naming it promises that the
        same name means the same content. Without ``input_id`` the
        fingerprint takes a fresh nonce, so every stage runs.
        """
        cfg = self.config
        docid = cfg.docid_col
        spark = df.sparkSession
        df = cfg.hooks.run_transform("before_insert_multiple", df)
        manifest = BuildManifest.load(out_dir)

        widths = layout.index_widths(df, self.postings_partitions)
        # the output layout is part of the fingerprint: a rebuild with a
        # different width or docs ordering into the same dir re-runs
        fp = _config_fingerprint(
            cfg,
            extra=json.dumps(
                [input_id or uuid.uuid4().hex, widths["postings"], self.docs_already_sorted]
            ),
        )

        # blocks are sound only over the tables they were built from: not
        # current once one below is overwritten, even if stats never is
        if not manifest.is_complete("stats", fp):
            manifest.forget("blocks")

        # --- stage: docs (the document store, late-materialized at query);
        # its entry names the input, so a stream knows its own bootstrap
        docs_out = df
        if not self.docs_already_sorted:
            docs_out = df.repartitionByRange(widths["docs"], docid).sortWithinPartitions(docid)
        results: dict = {"docs": manifest.write_table("docs", fp, docs_out, input=input_digest(input_id))}

        # downstream stages read the WRITTEN docs parquet: the input DAG
        # (which may be an expensive synthetic source or a remote scan)
        # is evaluated exactly once, and resume-after-failure re-reads
        # local columnar data instead of recomputing upstream.
        def _read(table: str) -> DataFrame:
            return spark.read.parquet(os.path.join(out_dir, table))

        docs_df = _read("docs")

        # --- stage: tokens — the single Arrow-UDF tokenize pass, written
        # once so the (CPU-bound) stemmer never runs twice per doc; the
        # tokens table also serves incremental remove/update later.
        results["tokens"] = manifest.write_table("tokens", fp, tokens_table(docs_df, cfg))
        tokenized = _read("tokens")

        # --- stage: stats (global doc count + per-field avg field length)
        stats_path = os.path.join(out_dir, "stats.json")

        def _stats():
            # the build is one insert batch into an empty index, its
            # documents inserted in docid order
            stats = field_stats(insert_events(tokenized, cfg, "docid"), cfg, "docid")
            with open(stats_path, "w") as fh:
                json.dump(stats, fh, indent=1)
            return {"path": stats_path, "docs_count": stats["docs_count"]}

        # Overlap the two independent stage chains (guide §2.6): the
        # postings chain (postings -> dictionary -> dictionary_bylen)
        # and the docmeta chain (docmeta -> stats, both read only the
        # tokens table) share no data, so a
        # second driver thread lets the shorter chain's jobs backfill
        # executor slots freed by the longer one's stragglers. Spark's
        # scheduler handles concurrent jobs natively; the manifest
        # serializes its own writes.
        from concurrent.futures import ThreadPoolExecutor

        def _chain_postings() -> dict:
            postings = postings_layout(postings_table(tokenized, cfg), widths["postings"])
            out = {"postings": manifest.write_table("postings", fp, postings)}
            dictionary = dictionary_table(_read("postings"), widths["dictionary"])
            out["dictionary"] = manifest.write_table("dictionary", fp, dictionary)
            bylen = dictionary_bylen_table(_read("dictionary"), widths["dictionary"])
            out["dictionary_bylen"] = manifest.write_table("dictionary_bylen", fp, bylen)
            return out

        def _chain_docmeta() -> dict:
            # no shuffle: docmeta inherits the tokens partitioning (it is
            # only aggregated for stats / maintenance, never key-probed)
            return {
                "docmeta": manifest.write_table("docmeta", fp, docmeta_table(tokenized, cfg)),
                "stats": manifest.run_stage("stats", fp, _stats),
            }

        with ThreadPoolExecutor(max_workers=2) as pool:
            fa = pool.submit(_chain_postings)
            fb = pool.submit(_chain_docmeta)
            results.update(fa.result())
            results.update(fb.result())
        cfg.hooks.run_observe("after_insert_multiple", df, results)
        return results
