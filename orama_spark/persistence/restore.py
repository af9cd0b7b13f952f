"""load(db, raw): restore a reference dump into a Spark index.

The migration path for a reference user: take the JSON (or msgpack-hex
'binary') string their instance saved with ``save(db)`` /
``persist(db, format)`` and turn it into our parquet index layout,
query-ready via SearchIndex.load.

The restore trusts the dump's own structures — walk the radix trees
for (term -> internal ids), take tf from ``frequencies``, field lengths
from ``fieldLengths``, stats from ``avgFieldLength``
(methods/serialization.ts:13-20 applied to our table layout), with each
posting's occ = tf * field_len for scalar fields. A string[] dump keeps
only the last element's frequencies, which undercount a token repeated
across elements, so string[] occ comes from the builder's postings over
the regenerated ``tokens`` table. This reproduces the saved instance
EXACTLY even if it was built with custom components we don't replicate
(custom tokenizer hooks, manual tf edits). The dictionaries and the
``tokens`` table (the maintenance re-tokenize input; token order is not
in the dump) are derived by the builder's table functions
(build/indexer.py). Every table is written as a build-manifest stage
under one fresh fingerprint, so blocks built over an earlier index in
the same directory are refused.

The dump parse + table assembly are driver-side (the dump is one JSON
document — see dump.py's scale posture); the parquet writes run
distributed.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Any, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from .. import layout
from ..build.indexer import (
    dictionary_bylen_table,
    dictionary_table,
    postings_layout,
    postings_table,
    tokens_table,
)
from ..build.manifest import BuildManifest, read_table
from ..config import IndexConfig
from .format import walk_radix


def parse_payload(data: str, format: str = "json") -> dict:
    """plugin-data-persistence ``restore`` payload decode
    (src/index.ts:96-160): 'json' = JSON.parse, 'binary' = hex ->
    msgpack decode."""
    if format == "json":
        return json.loads(data)
    if format == "binary":
        from .msgpack_codec import decode

        return decode(bytes.fromhex(data))
    raise ValueError(f"UNSUPPORTED_FORMAT: {format}")


def restore_index(
    spark: SparkSession, raw: dict, out_dir: str, config: IndexConfig
) -> str:
    """Materialize a reference RawData dump as our index layout at
    ``out_dir``. Returns ``out_dir`` (load with SearchIndex.load)."""
    internal_ids = raw["internalDocumentIDStore"]["internalIdToId"]
    docs_raw = raw["docs"]["docs"]
    docs_rows = []
    for i, oid in enumerate(internal_ids):
        # explicit None check: an empty document {} is falsy but present
        doc = docs_raw.get(str(i + 1))
        if doc is None:
            doc = docs_raw.get(i + 1)
        if doc is not None:
            docs_rows.append((i + 1, oid, doc))

    docs_df = _docs_df(spark, docs_rows, config)

    # postings/docmeta/stats straight from the dump
    index_dump = raw["index"]
    freqs = index_dump.get("frequencies", {})
    flens = index_dump.get("fieldLengths", {})
    docid_type = _docid_sql_type(docs_rows, config)
    id_of_internal = {
        i + 1: _coerce_id(oid, docid_type) for i, oid in enumerate(internal_ids)
    }

    post_rows = []
    for prop, entry in index_dump.get("indexes", {}).items():
        if entry.get("type") != "Radix":
            continue  # filter trees live in the docs table natively
        pf = freqs.get(prop, {})
        fl = flens.get(prop, {})
        terms: list = walk_radix(entry["node"], [])
        for term, iids in terms:
            for iid in iids:
                tf = (pf.get(str(iid)) or pf.get(iid) or {}).get(term)
                length = fl.get(str(iid), fl.get(iid))
                if tf is None or length is None:
                    continue  # dangling radix entry (reference remove
                    # leaves the structures consistent; guard anyway)
                occ = int(round(float(tf) * int(length)))
                post_rows.append(
                    (prop, term, id_of_internal[iid], float(tf),
                     int(length), max(occ, 1))
                )

    post_schema = T.StructType([
        T.StructField("field", T.StringType()),
        T.StructField("term", T.StringType()),
        T.StructField("docid", docid_type),
        T.StructField("tf", T.DoubleType()),
        T.StructField("field_len", T.IntegerType()),
        T.StructField("occ", T.IntegerType()),
    ])
    # postings and docmeta come from the dump; tokens and both
    # dictionaries are derived by the builder's table functions. Token
    # order is not in the dump: the tokens table is regenerated with
    # our tokenizer.
    # a fresh fingerprint, and blocks forgotten before any table is
    # overwritten: blocks over an earlier index here are refused, even
    # if this restore is torn
    manifest = BuildManifest.load(out_dir)
    manifest.forget("blocks")
    fp = f"restored-{uuid.uuid4().hex}"

    def stage(name: str, df) -> DataFrame:
        manifest.write_table(name, fp, df)
        return read_table(spark, os.path.join(out_dir, name))

    tokens = stage("tokens", tokens_table(docs_df, config))
    # a local relation (arrow), so layout sizes it on Catalyst's estimate
    cols = zip(*post_rows) if post_rows else [()] * len(post_schema)
    postings = spark.createDataFrame(pa.table(dict(zip(post_schema.names, cols))), post_schema)
    widths = layout.index_widths(postings)
    arrays = [f_ for f_ in config.searchable_fields if config.schema[f_] == "string[]"]
    if arrays:
        # the dump's string[] tf is the last element's: occ spanning
        # elements comes from the regenerated tokens
        occ = (
            postings_table(tokens, config)
            .where(F.col("field").isin(arrays))
            .select("field", "term", "docid", F.col("occ").alias("_occ"))
        )
        postings = postings.join(occ, ["field", "term", "docid"], "left").select(
            *post_schema.names[:-1], F.coalesce("_occ", "occ").alias("occ")
        )
    postings = stage("postings", postings_layout(postings, widths["postings"]))
    dictionary = stage("dictionary", dictionary_table(postings, widths["dictionary"]))
    stage("dictionary_bylen", dictionary_bylen_table(dictionary, widths["dictionary"]))
    stage("docs", docs_df)

    dm_rows = [
        (id_of_internal[int(iid)], prop, int(length))
        for prop, by_id in flens.items()
        for iid, length in by_id.items()
        if length is not None
    ]
    dm_schema = T.StructType([
        T.StructField("docid", docid_type),
        T.StructField("field", T.StringType()),
        T.StructField("field_len", T.IntegerType()),
    ])
    stage("docmeta", spark.createDataFrame(dm_rows, dm_schema))

    stats = {
        "docs_count": int(raw["docs"]["count"]),
        "fields": {
            prop: {
                "avg_field_length": float(avg),
                "docs_with_field": len(flens.get(prop, {})),
            }
            for prop, avg in index_dump.get("avgFieldLength", {}).items()
        },
    }
    stats_path = os.path.join(out_dir, "stats.json")

    def _stats() -> dict:
        with open(stats_path, "w") as f:
            json.dump(stats, f, indent=1)
        return {"path": stats_path, "docs_count": stats["docs_count"]}

    manifest.run_stage("stats", fp, _stats)
    return out_dir


def restore(
    spark: SparkSession,
    data: str,
    out_dir: str,
    config: IndexConfig,
    *,
    format: str = "json",
) -> str:
    """One-call plugin-data-persistence ``restore(format, data)``."""
    return restore_index(spark, parse_payload(data, format), out_dir, config)


# ------------------------------------------------------------ helpers

def _docs_df(spark, docs_rows, config):
    cols: list[str] = []
    for _, _, doc in docs_rows:
        for k in doc:
            if k not in cols:
                cols.append(k)
    data = [{k: doc.get(k) for k in cols} for _, _, doc in docs_rows]
    schema = T.StructType([
        T.StructField(c, _sql_type_for(config.schema.get(c), data, c))
        for c in cols
    ])
    # msgpack (like JS) collapses integral doubles to ints — coerce
    # back to the column's float type before the strict createDataFrame
    data = [
        {c: _coerce(v, schema[c].dataType) for c, v in row.items()}
        for row in data
    ]
    return spark.createDataFrame(data, schema)


def _coerce(v, dt: T.DataType):
    if v is None:
        return None
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return float(v)
    if isinstance(dt, T.ArrayType):
        return [_coerce(x, dt.elementType) for x in v]
    if isinstance(dt, T.StructType):
        return {f.name: _coerce(v.get(f.name), f.dataType) for f in dt}
    return v


def _sql_type_for(schema_type: Optional[str], data, col) -> T.DataType:
    if schema_type == "number":
        # ints stay ints when every observed value is integral
        vals = [d[col] for d in data if d.get(col) is not None]
        if vals and all(isinstance(v, int) for v in vals):
            return T.LongType()
        return T.DoubleType()
    if schema_type == "boolean":
        return T.BooleanType()
    if schema_type == "string[]" or schema_type == "enum[]":
        return T.ArrayType(T.StringType())
    if schema_type == "number[]":
        return T.ArrayType(T.DoubleType())
    if schema_type == "boolean[]":
        return T.ArrayType(T.BooleanType())
    if schema_type and schema_type.startswith("vector["):
        return T.ArrayType(T.FloatType())
    if schema_type == "geopoint":
        return T.StructType([
            T.StructField("lon", T.DoubleType()),
            T.StructField("lat", T.DoubleType()),
        ])
    if schema_type in ("string", "enum"):
        return T.StringType()
    # docid or extra column: infer from values
    vals = [d[col] for d in data if d.get(col) is not None]
    if vals and all(isinstance(v, bool) for v in vals):
        return T.BooleanType()
    if vals and all(isinstance(v, int) and not isinstance(v, bool)
                    for v in vals):
        return T.LongType()
    if vals and all(isinstance(v, (int, float)) and not isinstance(v, bool)
                    for v in vals):
        return T.DoubleType()
    if vals and all(isinstance(v, list) for v in vals):
        inner = [x for v in vals for x in v]
        if inner and all(isinstance(x, (int, float)) for x in inner):
            return T.ArrayType(T.DoubleType())
        return T.ArrayType(T.StringType())
    return T.StringType()


def _docid_sql_type(docs_rows, config) -> T.DataType:
    ids = [doc.get(config.docid_col) for _, _, doc in docs_rows]
    ids = [i for i in ids if i is not None]
    if ids and all(isinstance(i, int) and not isinstance(i, bool)
                   for i in ids):
        return T.LongType()
    return T.StringType()


def _coerce_id(oid: Any, docid_type: T.DataType):
    if isinstance(docid_type, T.LongType):
        return int(oid)
    return str(oid)
