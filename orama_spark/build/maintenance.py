"""Incremental index maintenance: insert / remove / update / upsert,
compaction, and the one reader of the pending maintenance tables.

Reference semantics (methods/insert.ts, methods/remove.ts:10-318,
methods/update.ts:8-49, methods/upsert.ts):
  * remove reverses insert: postings/doc gone, df decremented per
    (field, term) (components/index.ts:134-136), avgFieldLength updated
    by the removal recurrence (index.ts:121-132) A' = (A*c - fl)/(c-1),
    c the live count before each removed doc, in the caller's order.
  * insert appends and advances the running mean A' = (A*c + fl)/(c+1).
    Only when every doc of the batch holds the field once do the two
    collapse to A_final = (A*N -/+ sum(fl)) / (N -/+ m); both, and the
    general case, are ``indexer.field_stats``.
  * update = remove + insert; upsert = exists ? update : insert.

Scale design: the reference removes a document in place; here removals
NEVER rewrite the posting store. They append to
  * ``tombstones``        (docid)            — removed docs
  * ``dictionary_delta``  (field, term, ddf) — df decrements (inserts
                                               append increments)
and patch stats.json. This module is the only one that knows that
format: ``live_tables`` gives every reader (``SearchIndex.load``,
``compact()``, the writers here) the tables with tombstoned docs and
df deltas composed in, and ``compact()`` writes that live view back as
the base tables (the periodic rewrite a real deployment schedules).
This is the LSM-ish pattern every mutable columnar store uses; with an
Iceberg catalog the same operations become MERGE INTO + snapshot
expiry, which TableIO can adopt without touching engine logic.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..config import IndexConfig
from .indexer import (
    dictionary_bylen_table,
    dictionary_layout,
    docmeta_table,
    field_stats,
    insert_events,
    postings_layout,
    postings_table,
    remove_events,
    term_df,
    term_len,
    tokens_table,
)
from .manifest import BuildManifest


def _stats_path(index_dir: str) -> str:
    return os.path.join(index_dir, "stats.json")


def _load_stats(index_dir: str) -> dict:
    with open(_stats_path(index_dir)) as f:
        return json.load(f)


def _save_stats(index_dir: str, stats: dict) -> None:
    with open(_stats_path(index_dir), "w") as f:
        json.dump(stats, f, indent=1)


_TOMBSTONES = "tombstones"
_DELTA = "dictionary_delta"
_DICTIONARIES = ("dictionary", "dictionary_bylen")


def _pending(spark: SparkSession, index_dir: str, name: str) -> Optional[DataFrame]:
    path = os.path.join(index_dir, name)
    return spark.read.parquet(path) if os.path.exists(path) else None


def pending_tables(index_dir: str) -> list[str]:
    """The pending maintenance tables ``index_dir`` holds (empty once
    compacted or never maintained)."""
    return [t for t in (_TOMBSTONES, _DELTA) if os.path.exists(os.path.join(index_dir, t))]


def _with_deltas(table: DataFrame, delta: DataFrame) -> DataFrame:
    """Compose df deltas (field, term, ddf) into either dictionary table:
    one union of the table's rows and the delta rows in its columns
    (``term_len`` derived), summed per (field, [term_len,] term), terms
    whose df falls to 0 dropped. A filter on the grouping columns passes
    the aggregate and the union, so a literal ``field`` / ``term`` /
    ``term_len`` predicate still reaches the base table's parquet scan."""
    keys = [c for c in table.columns if c != "df"]
    rows = delta.select(
        *[term_len().alias(c) if c == "term_len" else c for c in keys],
        F.col("ddf").alias("df"),
    )
    return (
        table.unionByName(rows)
        .groupBy(*keys)
        .agg(F.sum("df").alias("df"))
        .where(F.col("df") > 0)
    )


def live_tables(
    spark: SparkSession, index_dir: str, config: IndexConfig, names: Sequence[str]
) -> dict[str, DataFrame]:
    """name -> the lazy table a reader of ``index_dir`` sees, for each
    of ``names``: tombstoned docs anti-joined out of docs / tokens /
    postings / docmeta, df deltas composed into both dictionaries. Opens
    only the tables named and the pending ones they need."""
    tombs = delta = None
    if set(names) - set(_DICTIONARIES):
        tombs = _pending(spark, index_dir, _TOMBSTONES)
    if set(names) & set(_DICTIONARIES):
        delta = _pending(spark, index_dir, _DELTA)
    out = {}
    for name in names:
        table = spark.read.parquet(os.path.join(index_dir, name))
        if name in _DICTIONARIES:
            if delta is not None:
                table = _with_deltas(table, delta)
        elif tombs is not None:
            key = config.docid_col if name == "docs" else "docid"
            table = table.join(tombs.withColumnRenamed("docid", key), key, "left_anti")
        out[name] = table
    return out


def remove_documents(
    spark: SparkSession, index_dir: str, config: IndexConfig, remove_ids: DataFrame
) -> dict:
    """Tombstone the given docids (DataFrame with one column ``docid``).

    Appends tombstones + df-decrement deltas, patches stats. Returns
    stats after removal. Idempotence: ids already tombstoned are ignored;
    ids that never existed are ignored too (the reference remove is a
    no-op returning false for unknown ids, methods/remove.ts), so stats
    are only adjusted for documents that actually leave the index. The
    documents leave in the frame's row order, which the running mean
    depends on; a repeated id counts at its first occurrence.
    """
    remove_ids = config.hooks.run_transform("before_remove_multiple", remove_ids)
    # the caller's row order, a repeated id at its first occurrence
    remove_ids = remove_ids.select(
        F.col(remove_ids.columns[0]).alias("docid"),
        F.monotonically_increasing_id().alias("_ord"),
    ).groupBy("docid").agg(F.min("_ord").alias("_ord"))
    # only docs that are live: one semi-join against the live docs —
    # without it, removing (or upserting) unknown or already removed ids
    # would decrement docs_count and rescale avg_field_length for
    # nothing, permanently skewing BM25
    live = live_tables(spark, index_dir, config, ["docs"])["docs"].select(
        F.col(config.docid_col).alias("docid")
    )
    remove_ids = remove_ids.join(live, "docid", "left_semi").persist()
    if remove_ids.count() == 0:
        remove_ids.unpersist()
        return _load_stats(index_dir)

    postings = spark.read.parquet(os.path.join(index_dir, "postings"))
    removed_postings = postings.join(remove_ids, "docid", "left_semi")

    # df decrements per (field, term) (index.ts:134-136)
    delta = term_df(removed_postings).select("field", "term", (-F.col("df")).alias("ddf"))
    delta.write.mode("append").parquet(os.path.join(index_dir, _DELTA))

    # stats: the removed docs' events in the caller's order
    events = remove_events(spark, index_dir, remove_ids, config, "_ord")
    stats = field_stats(events, config, "_ord", _load_stats(index_dir), sign=-1)

    removed = remove_ids.select("docid")
    removed.write.mode("append").parquet(os.path.join(index_dir, _TOMBSTONES))
    _save_stats(index_dir, stats)
    config.hooks.run_observe("after_remove_multiple", removed, stats)
    remove_ids.unpersist()
    return stats


def _insert_probe(
    spark: SparkSession, index_dir: str, new_ids: DataFrame, doc_ids: DataFrame
) -> tuple:
    """(new rows that repeat a docid, new rows whose docid is
    tombstoned) in ONE aggregate: the new, stored and tombstoned docids
    are tagged, unioned and grouped by docid. A docid live in the index
    is repeated by all n of its new rows; any other docid by n - 1 (the
    reference's insertMultiple raises on the second insert of an id)."""
    one, zero = F.lit(1), F.lit(0)
    tagged = [
        new_ids.select("docid", one.alias("n"), zero.alias("stored"), zero.alias("dead")),
        doc_ids.select("docid", zero.alias("n"), one.alias("stored"), zero.alias("dead")),
    ]
    tombs = _pending(spark, index_dir, _TOMBSTONES)
    if tombs is not None:
        tagged.append(tombs.select(
            "docid", zero.alias("n"), zero.alias("stored"), one.alias("dead")
        ))
    per_id = (
        functools.reduce(DataFrame.unionByName, tagged)
        .groupBy("docid")
        .agg(F.sum("n").alias("n"), F.max("stored").alias("stored"), F.max("dead").alias("dead"))
        .where(F.col("n") > 0)
    )
    row = per_id.agg(
        F.sum(
            F.when((F.col("stored") == 1) & (F.col("dead") == 0), F.col("n"))
            .otherwise(F.col("n") - 1)
        ).alias("dup"),
        F.sum(F.when(F.col("dead") == 1, F.col("n"))).alias("reinserts"),
    ).collect()[0]
    return int(row["dup"] or 0), int(row["reinserts"] or 0)


def insert_documents(
    spark: SparkSession, index_dir: str, config: IndexConfig, new_docs: DataFrame
) -> dict:
    """Append new documents (must carry config.docid_col; ids must be new
    — duplicate ids raise, mirroring DOCUMENT_ALREADY_EXISTS,
    documents-store.ts:54). They are inserted in the frame's row order,
    which the running mean depends on."""
    new_docs = config.hooks.run_transform("before_insert_multiple", new_docs)
    docid = config.docid_col
    docs_path = os.path.join(index_dir, "docs")
    new_docs = new_docs.persist()
    dup, tombstoned_reinserts = _insert_probe(
        spark, index_dir, new_docs.select(F.col(docid).alias("docid")),
        spark.read.parquet(docs_path).select(F.col(docid).alias("docid")),
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
    delta.write.mode("append").parquet(os.path.join(index_dir, _DELTA))

    # stats: the new docs' events in the caller's row order (partition
    # index + in-partition position over the persisted frame), the
    # order the reference inserts the batch in
    ordered = tokenized.withColumn("_ord", F.monotonically_increasing_id())
    stats = field_stats(
        insert_events(ordered, config, "_ord"), config, "_ord", _load_stats(index_dir)
    )
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


def compact(spark: SparkSession, index_dir: str, config: IndexConfig) -> None:
    """Write the live view (``live_tables``) back as the base tables and
    drop the pending ones (the periodic rewrite; query plans shrink back
    to zero-merge reads): docs, tokens, postings and docmeta without the
    tombstoned docs (only when tombstones are pending: otherwise their
    live view is their raw read, and they stay as they are), the
    dictionary with its deltas summed in, at its current width, and
    ``dictionary_bylen`` from the new dictionary. Drops the manifest's
    ``blocks`` entry: BlockIndex.load refuses until BlockIndex.build
    re-runs over the compacted tables."""
    pending = pending_tables(index_dir)
    if not pending:
        return
    # blocks/ bounds embed the PRE-compact (df, avgfl, N): once the
    # tombstones are gone, a stale θ could exceed the true k-th score and
    # drop true top-k hits. Forget first, so a torn compact is refused too.
    BuildManifest.load(index_dir).forget("blocks")
    path = functools.partial(os.path.join, index_dir)
    width = len(spark.read.parquet(path("dictionary")).inputFiles())
    names = ("docs", "tokens", "postings", "docmeta") if _TOMBSTONES in pending else ()
    names += ("dictionary",)
    live = live_tables(spark, index_dir, config, names)
    live["dictionary"] = dictionary_layout(live["dictionary"], width)
    for name, df in live.items():
        df.write.mode("overwrite").parquet(path(name + ".compact"))
    bylen = dictionary_bylen_table(spark.read.parquet(path("dictionary.compact")), width)
    bylen.write.mode("overwrite").parquet(path("dictionary_bylen.compact"))
    # swap only once every table is written, so a compact that dies in
    # the writes leaves the index as it was: the new dictionary has the
    # deltas summed in, and one re-run over it and the deltas would sum
    # them twice. Only these renames stand between the two.
    for name in (*names, "dictionary_bylen"):
        shutil.rmtree(path(name))
        os.rename(path(name + ".compact"), path(name))
    for name in pending:
        shutil.rmtree(path(name))
