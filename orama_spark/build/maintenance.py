"""Incremental index maintenance: insert / remove / update / upsert.

Reference semantics (methods/insert.ts, methods/remove.ts:10-318,
methods/update.ts:8-49, methods/upsert.ts):
  * remove reverses insert: postings/doc gone, df decremented per
    (field, term) (components/index.ts:134-136), avgFieldLength updated
    by the telescoped removal recurrence (index.ts:121-132):
    sequentially A' = (A*c - fl)/(c-1) collapses to
    A_final = (A*N - sum(fl_removed)) / (N - m).
  * insert appends and advances the running mean the same way:
    A_final = (A*N + sum(fl_new)) / (N + m).
  * update = remove + insert; upsert = exists ? update : insert.

Scale design: removals NEVER rewrite the posting store. They append to
  * ``tombstones``        (docid)            — anti-joined at query time
  * ``dictionary_delta``  (field, term, ddf) — df decrements, joined at
                                               expansion time (tiny)
and patch stats.json. ``compact()`` folds tombstones/deltas into the
base tables (the periodic rewrite a real deployment schedules). Inserts
append parquet files in the same layouts (no rewrite of existing data).
This is the LSM-ish pattern every mutable columnar store uses; with an
Iceberg catalog the same operations become MERGE INTO + snapshot
expiry, which TableIO can adopt without touching engine logic.
"""

from __future__ import annotations

import functools
import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import IndexConfig
from .indexer import (
    _tok_col,
    dictionary_bylen_table,
    dictionary_table,
    docmeta_table,
    postings_layout,
    postings_table,
    term_df,
    tokens_table,
)


def _array_fields(config: IndexConfig) -> list[str]:
    return [
        f_ for f_ in config.searchable_fields
        if config.schema[f_] == "string[]"
    ]


def _stats_path(index_dir: str) -> str:
    return os.path.join(index_dir, "stats.json")


def _load_stats(index_dir: str) -> dict:
    with open(_stats_path(index_dir)) as f:
        return json.load(f)


def _save_stats(index_dir: str, stats: dict) -> None:
    with open(_stats_path(index_dir), "w") as f:
        json.dump(stats, f, indent=1)


def remove_documents(
    spark: SparkSession, index_dir: str, config: IndexConfig, remove_ids: DataFrame
) -> dict:
    """Tombstone the given docids (DataFrame with one column ``docid``).

    Appends tombstones + df-decrement deltas, patches stats. Returns
    stats after removal. Idempotence: ids already tombstoned are ignored;
    ids that never existed are ignored too (the reference remove is a
    no-op returning false for unknown ids, methods/remove.ts), so stats
    are only adjusted for documents that actually leave the index.
    """
    remove_ids = config.hooks.run_transform("before_remove_multiple", remove_ids)
    remove_ids = remove_ids.select(F.col(remove_ids.columns[0]).alias("docid")).distinct()
    # only docs that exist: semi-join against the live docs table —
    # without this, removing (or upserting) unknown ids would decrement
    # docs_count and rescale avg_field_length for nothing, permanently
    # skewing BM25
    live = spark.read.parquet(os.path.join(index_dir, "docs")).select(
        F.col(config.docid_col).alias("docid")
    )
    remove_ids = remove_ids.join(live, "docid", "left_semi")
    tomb_path = os.path.join(index_dir, "tombstones")
    if os.path.exists(tomb_path):
        existing = spark.read.parquet(tomb_path)
        remove_ids = remove_ids.join(existing, "docid", "left_anti")
    remove_ids = remove_ids.persist()
    n_removed = remove_ids.count()
    if n_removed == 0:
        remove_ids.unpersist()
        return _load_stats(index_dir)

    postings = spark.read.parquet(os.path.join(index_dir, "postings"))
    removed_postings = postings.join(remove_ids, "docid", "left_semi")

    # df decrements per (field, term) (index.ts:134-136)
    delta = term_df(removed_postings).select("field", "term", (-F.col("df")).alias("ddf"))
    delta.write.mode("append").parquet(os.path.join(index_dir, "dictionary_delta"))

    # field-length sums for the telescoped avg update (index.ts:121-132)
    docmeta = spark.read.parquet(os.path.join(index_dir, "docmeta"))
    fl_sums = {
        r["field"]: (r["s"], r["c"])
        for r in docmeta.join(remove_ids, "docid", "left_semi")
        .groupBy("field")
        .agg(F.sum("field_len").alias("s"), F.count("*").alias("c"))
        .collect()
    }
    # string[] removal quirk (REPLICATED from the reference): remove
    # runs removeDocumentScoreParameters once PER ELEMENT
    # (index.ts:383-405 -> removeScalar -> index.ts:121-132), but the
    # first element call clears fieldLengths[internalId]; the second
    # element then computes (avg*N - undefined)/(N-1) = NaN, permanently
    # poisoning avgFieldLength for that field until a rebuild. So:
    # removing ANY doc whose array field holds >= 2 elements sets the
    # field average to NaN; 1-element docs behave exactly like scalars.
    poisoned: set[str] = set()
    arr_fields = _array_fields(config)
    if arr_fields:
        tokens = spark.read.parquet(os.path.join(index_dir, "tokens")).join(
            remove_ids, "docid", "left_semi"
        )
        for f_ in arr_fields:
            c_ = F.col(_tok_col(f_))
            if tokens.where(c_.isNotNull() & (F.size(c_) >= 2)).limit(1).count():
                poisoned.add(f_)
    stats = _load_stats(index_dir)
    n = stats["docs_count"]
    for field, info in stats["fields"].items():
        s, c = fl_sums.get(field, (0, 0))
        # per-field telescoped mean over docs-with-field: removing docs
        # that lack the field leaves its average untouched (the reference
        # recurrence only fires for props present on the doc,
        # index.ts:121-132 / remove.ts)
        dwf = info["docs_with_field"]
        denom = dwf - c
        if field in poisoned:
            info["avg_field_length"] = float("nan")
        else:
            info["avg_field_length"] = (
                (info["avg_field_length"] * dwf - s) / denom if denom > 0 else 0.0
            )
        info["docs_with_field"] = denom
    stats["docs_count"] = n - n_removed

    remove_ids.write.mode("append").parquet(tomb_path)
    _save_stats(index_dir, stats)
    config.hooks.run_observe("after_remove_multiple", remove_ids, stats)
    remove_ids.unpersist()
    return stats


def _insert_probe(
    spark: SparkSession, new_ids: DataFrame, doc_ids: DataFrame, tomb_path: str
) -> tuple:
    """(new rows, new rows whose docid is live in the index, new rows
    whose docid is tombstoned) in ONE aggregate: the new, stored and
    tombstoned docids are tagged, unioned and grouped by docid, so
    duplicates on any side count as the separate semi-join counts they
    replace would count them."""
    one, zero = F.lit(1), F.lit(0)
    tagged = [
        new_ids.select("docid", one.alias("n"), zero.alias("stored"), zero.alias("dead")),
        doc_ids.select("docid", zero.alias("n"), one.alias("stored"), zero.alias("dead")),
    ]
    if os.path.exists(tomb_path):
        tagged.append(spark.read.parquet(tomb_path).select(
            "docid", zero.alias("n"), zero.alias("stored"), one.alias("dead")
        ))
    per_id = (
        functools.reduce(DataFrame.unionByName, tagged)
        .groupBy("docid")
        .agg(F.sum("n").alias("n"), F.max("stored").alias("stored"), F.max("dead").alias("dead"))
        .where(F.col("n") > 0)
    )
    row = per_id.agg(
        F.sum("n").alias("n_new"),
        F.sum(F.when((F.col("stored") == 1) & (F.col("dead") == 0), F.col("n"))).alias("dup"),
        F.sum(F.when(F.col("dead") == 1, F.col("n"))).alias("reinserts"),
    ).collect()[0]
    return int(row["n_new"] or 0), int(row["dup"] or 0), int(row["reinserts"] or 0)


def insert_documents(
    spark: SparkSession, index_dir: str, config: IndexConfig, new_docs: DataFrame
) -> dict:
    """Append new documents (must carry config.docid_col; ids must be new
    — duplicate ids raise, mirroring DOCUMENT_ALREADY_EXISTS,
    documents-store.ts:54)."""
    new_docs = config.hooks.run_transform("before_insert_multiple", new_docs)
    docid = config.docid_col
    docs_path = os.path.join(index_dir, "docs")
    tomb_path = os.path.join(index_dir, "tombstones")
    new_docs = new_docs.persist()
    n_new, dup, tombstoned_reinserts = _insert_probe(
        spark, new_docs.select(F.col(docid).alias("docid")),
        spark.read.parquet(docs_path).select(F.col(docid).alias("docid")),
        tomb_path,
    )
    if dup:
        new_docs.unpersist()
        raise ValueError(f"DOCUMENT_ALREADY_EXISTS: {dup} duplicate docids")

    # re-inserting a tombstoned id: simply clearing the tombstone would
    # REVIVE the dead base rows alongside the new ones. Fold tombstones
    # physically first (compact), then append — correct always, costs a
    # rewrite only on the remove-then-reinsert path.
    if tombstoned_reinserts:
        compact(spark, index_dir, config)

    new_docs.write.mode("append").parquet(docs_path)

    # the builder's table derivations, appended in place: new files are
    # sorted but not range partitioned (no rewrite of existing data)
    tokenized = tokens_table(new_docs, config).persist()
    tokenized.write.mode("append").parquet(os.path.join(index_dir, "tokens"))
    new_postings = postings_table(tokenized, config).persist()
    postings_layout(new_postings).write.mode("append").parquet(
        os.path.join(index_dir, "postings")
    )
    dm = docmeta_table(tokenized, config)
    dm.write.mode("append").parquet(os.path.join(index_dir, "docmeta"))
    delta = term_df(new_postings).withColumnRenamed("df", "ddf")
    delta.write.mode("append").parquet(os.path.join(index_dir, "dictionary_delta"))

    # stats: per-field telescoped running-mean extension over
    # docs-with-field (docs lacking the field leave its average alone)
    fl_sums = {
        r["field"]: (r["s"], r["c"])
        for r in dm.groupBy("field")
        .agg(F.sum("field_len").alias("s"), F.count("*").alias("c"))
        .collect()
    }
    stats = _load_stats(index_dir)
    n = stats["docs_count"]
    arr_fields = set(_array_fields(config))
    arr_rows: dict[str, list] = {}
    if arr_fields:
        # per-element order-dependent recurrence (index.ts:88 fires once
        # per element with the GLOBAL running doc count; docs lacking
        # the field still advance it): fold sequentially from the stored
        # average. Bounded by the user's insert batch (lengths only
        # cross the driver), like the reference's own per-doc loop.
        # The reference folds in the insert BATCH's encounter order, not
        # docid order — replay in the caller's row order (partition
        # index + in-partition position via monotonically_increasing_id
        # over the persisted frame), so stats match the reference even
        # when insertion order differs from docid sort order.
        enc = {
            r["docid"]: r["_ord"]
            for r in tokenized.select(
                "docid", F.monotonically_increasing_id().alias("_ord")
            ).collect()
        }
        for f_ in arr_fields:
            c_ = F.col(_tok_col(f_))
            rows = (
                tokenized.select("docid", F.posexplode(c_).alias("pos", "etoks"))
                .select("docid", "pos", F.size("etoks").alias("len"))
                .collect()
            )
            rows.sort(key=lambda r: (enc[r["docid"]], r["pos"]))
            arr_rows[f_] = rows
        id_rank = {
            d: i + 1
            for i, d in enumerate(sorted(enc, key=enc.get))
        }
    for field, info in stats["fields"].items():
        s, c = fl_sums.get(field, (0, 0))
        dwf = info["docs_with_field"]
        denom = dwf + c
        if field in arr_fields:
            avg = info["avg_field_length"]
            for r in arr_rows[field]:
                cj = float(n + id_rank[r["docid"]])
                avg = (avg * (cj - 1) + r["len"]) / cj
            info["avg_field_length"] = avg
        else:
            info["avg_field_length"] = (
                (info["avg_field_length"] * dwf + s) / denom if denom > 0 else 0.0
            )
        info["docs_with_field"] = denom
    stats["docs_count"] = n + n_new
    _save_stats(index_dir, stats)
    tokenized.unpersist()
    new_postings.unpersist()
    new_docs.unpersist()
    return stats


def update_documents(
    spark: SparkSession, index_dir: str, config: IndexConfig, docs: DataFrame
) -> dict:
    """update = remove + insert (methods/update.ts:8-49)."""
    docid = config.docid_col
    remove_documents(spark, index_dir, config, docs.select(docid))
    return insert_documents(spark, index_dir, config, docs)


def upsert_documents(
    spark: SparkSession, index_dir: str, config: IndexConfig, docs: DataFrame
) -> dict:
    """upsert = get + (update | insert) (methods/upsert.ts:8-264); with
    set semantics the tombstone+insert path covers both branches."""
    return update_documents(spark, index_dir, config, docs)


def _replace(df: DataFrame, path: str) -> None:
    """Write ``df`` beside ``path``, then swap it in (``df`` may read
    ``path`` itself)."""
    df.write.mode("overwrite").parquet(path + ".compact")
    shutil.rmtree(path)
    os.rename(path + ".compact", path)


def compact(spark: SparkSession, index_dir: str, config: IndexConfig) -> None:
    """Fold tombstones + dictionary deltas into the base tables (the
    periodic rewrite; query plans shrink back to zero-merge reads)."""
    tomb_path = os.path.join(index_dir, "tombstones")
    delta_path = os.path.join(index_dir, "dictionary_delta")
    if not os.path.exists(tomb_path) and not os.path.exists(delta_path):
        return
    tombs = (
        spark.read.parquet(tomb_path)
        if os.path.exists(tomb_path)
        else None
    )
    for table in ("docs", "tokens", "postings", "docmeta"):
        path = os.path.join(index_dir, table)
        df = spark.read.parquet(path)
        if tombs is not None:
            key = config.docid_col if table == "docs" else "docid"
            df = df.join(tombs.withColumnRenamed("docid", key), key, "left_anti")
        _replace(df, path)
    # both dictionaries are re-derived from the compacted postings, at
    # the dictionary's current width
    dict_path = os.path.join(index_dir, "dictionary")
    bylen_path = os.path.join(index_dir, "dictionary_bylen")
    width = len(spark.read.parquet(dict_path).inputFiles())
    postings = spark.read.parquet(os.path.join(index_dir, "postings"))
    _replace(dictionary_table(postings, width), dict_path)
    _replace(dictionary_bylen_table(spark.read.parquet(dict_path), width), bylen_path)
    for p in (tomb_path, delta_path):
        if os.path.exists(p):
            shutil.rmtree(p)
    # block-max WAND metadata (blocks/, champions/) embeds the
    # PRE-compact (df, avgfl, N): once the tombstone markers above are
    # gone, BlockIndex.load()'s staleness check would pass and silently
    # serve bounds/θ computed for the old corpus — a stale θ can exceed
    # the true k-th score and drop true top-k hits. Delete the derived
    # dirs (and their build stamp) so load() refuses until
    # BlockIndex.build() re-runs.
    for derived in ("blocks", "champions"):
        p = os.path.join(index_dir, derived)
        if os.path.exists(p):
            shutil.rmtree(p)
    stamp = os.path.join(index_dir, "blocks_build.json")
    if os.path.exists(stamp):
        os.remove(stamp)
