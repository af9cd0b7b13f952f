"""save(db): export a Spark-built index as a reference-shaped dump.

Produces the exact ``RawData`` object the reference's ``save(db)``
returns (methods/serialization.ts:22-31):

    {internalDocumentIDStore, index, docs, sorting, pinning, language}

so a reference user can move state in either direction: our
``restore`` loads a dump the reference saved, and a dump we save is
``load``-able by the reference (components/*.ts ``load`` accept any
valid instance of the documented shapes — see format.py).

Scale posture: a dump is BY DESIGN a single JSON document — the
reference's own interchange format, not a big-data layout. Export is
therefore a driver-side materialization with explicit row guards
(``max_docs`` / ``max_postings``); the 100 TB persistence path remains
the parquet tables themselves (SURVEY §2.1: "the index IS durable
tables"). Everything up to the final collect (tombstone composition,
semi-joins, aggregation to per-term rows) runs distributed.
"""

from __future__ import annotations

import json
import math
import os
from typing import Any, Optional

from pyspark.sql import SparkSession, functions as F

from ..config import IndexConfig
from .format import (
    build_avl,
    build_bkd,
    build_bool,
    build_flat,
    build_radix,
    build_vector,
)

# reference tree type per schema type (components/index.ts:177-214)
_TREE_FOR_TYPE = {
    "string": "Radix",
    "string[]": "Radix",
    "number": "AVL",
    "number[]": "AVL",
    "enum": "Flat",
    "enum[]": "Flat",
    "boolean": "Bool",
    "boolean[]": "Bool",
    "geopoint": "BKD",
}


def save_dump(
    spark: SparkSession,
    index_dir: str,
    config: IndexConfig,
    *,
    sortable_props: Optional[list[str]] = None,
    pin_rules: Optional[list] = None,
    max_docs: int = 500_000,
    max_postings: int = 5_000_000,
) -> dict:
    """Export the logical index state (tombstones/deltas composed, as
    SearchIndex.load sees it) as a reference RawData dict."""
    from ..query.engine import SearchIndex

    idx = SearchIndex.load(spark, index_dir, config)

    n_docs = idx.docs.count()
    if n_docs > max_docs:
        raise ValueError(
            f"save_dump: {n_docs} docs > max_docs={max_docs}. A JSON dump "
            "is a single-document interchange format; for indexes this "
            "size the parquet tables are the persistence layer."
        )

    docid_col = config.docid_col
    docs_pdf = idx.docs.orderBy(docid_col).toPandas()
    # internal ids are insertion order, 1-based
    # (internal-document-id-store.ts:28-40); our builder's insertion
    # order is docid ascending (docs_already_sorted), so the export's
    # internal ids match what a reference instance fed the same docs in
    # the same order would assign.
    orig_ids = docs_pdf[docid_col].tolist()
    internal_of = {str(oid): i + 1 for i, oid in enumerate(orig_ids)}

    n_postings = idx.postings.count()
    if n_postings > max_postings:
        raise ValueError(
            f"save_dump: {n_postings} postings > max_postings="
            f"{max_postings}; use the parquet tables for indexes this size."
        )
    post_pdf = (
        idx.postings.select("field", "term", "docid", "tf", "occ")
        .orderBy("field", "term", "docid")
        .toPandas()
    )
    post_pdf["iid"] = [
        internal_of[str(d)] for d in post_pdf["docid"].tolist()
    ]

    searchable = set(config.searchable_fields)
    indexes: dict[str, Any] = {}
    frequencies: dict[str, Any] = {}
    token_occurrences: dict[str, Any] = {}

    for prop in config.schema:
        ptype = config.schema[prop]
        tree = _TREE_FOR_TYPE.get(ptype)
        if prop in searchable:
            sub = post_pdf[post_pdf["field"] == prop]
            term_docs: list[tuple[str, list[int]]] = []
            occs: dict[str, int] = {}
            for term, g in sub.groupby("term", sort=True):
                iids = sorted(int(i) for i in g["iid"])
                term_docs.append((str(term), iids))
                # tokenOccurrences is the dictionary's df = Σocc
                # (build/indexer.py term_df): a string[] doc counts a
                # token once per element that holds it
                occs[str(term)] = int(g["occ"].sum())
            indexes[prop] = {
                "type": "Radix",
                "node": build_radix(term_docs),
                "isArray": ptype.endswith("[]"),
            }
            token_occurrences[prop] = occs
            freq: dict[str, dict[str, float]] = {}
            for (iid,), g in sub.groupby(["iid"]):
                freq[str(int(iid))] = {
                    str(t): float(tf)
                    for t, tf in zip(g["term"], g["tf"])
                }
            frequencies[prop] = freq
        elif tree is not None:
            indexes[prop] = {
                "type": tree,
                "node": _filter_tree(tree, docs_pdf, prop, internal_of,
                                     docid_col, ptype),
                "isArray": ptype.endswith("[]"),
            }

    # fieldLengths / avgFieldLength from docmeta + stats
    # (components/index.ts:86-90)
    field_lengths: dict[str, dict[str, int]] = {p: {} for p in searchable}
    dm_path = os.path.join(index_dir, "docmeta")
    if os.path.exists(dm_path):
        dm = (
            spark.read.parquet(dm_path)
            .join(idx.docs.select(F.col(docid_col).alias("docid")),
                  "docid", "left_semi")
            .toPandas()
        )
        for fld, did, fl in zip(dm["field"], dm["docid"], dm["field_len"]):
            if fld in field_lengths:
                field_lengths[fld][str(internal_of[str(did)])] = int(fl)
    avg_field_length = {
        p: float(idx.stats["fields"][p]["avg_field_length"])
        for p in searchable
        if p in idx.stats.get("fields", {})
    }

    # vector properties (schema type 'vector[N]') -> vectorIndexes
    vector_indexes: dict[str, Any] = {}
    for prop, ptype in config.schema.items():
        if ptype.startswith("vector[") and prop in docs_pdf.columns:
            size = int(ptype[len("vector["):-1])
            id_vecs = [
                (internal_of[str(oid)], list(vec))
                for oid, vec in zip(orig_ids, docs_pdf[prop])
                if vec is not None
            ]
            vector_indexes[prop] = build_vector(size, id_vecs)

    docs_dump = {}
    doc_cols = [c for c in docs_pdf.columns]
    for i, oid in enumerate(orig_ids):
        row = docs_pdf.iloc[i]
        docs_dump[str(i + 1)] = {c: _py(row[c]) for c in doc_cols}

    index_dump = {
        "indexes": indexes,
        "vectorIndexes": vector_indexes,
        "searchableProperties": sorted(searchable),
        "searchablePropertiesWithTypes": {
            p: config.schema[p] for p in sorted(searchable)
        },
        "frequencies": frequencies,
        "tokenOccurrences": token_occurrences,
        "avgFieldLength": avg_field_length,
        "fieldLengths": field_lengths,
    }

    sorting = _sorting_dump(docs_pdf, orig_ids, internal_of, docid_col,
                            config, sortable_props)

    return {
        "internalDocumentIDStore": {
            "internalIdToId": [str(o) for o in orig_ids]
        },
        "index": index_dump,
        "docs": {"docs": docs_dump, "count": int(n_docs)},
        "sorting": sorting,
        "pinning": {"rules": list(pin_rules or [])},
        "language": config.tokenizer.language,
    }


def _sorting_dump(docs_pdf, orig_ids, internal_of, docid_col, config,
                  sortable_props):
    """components/sorter.ts:338-369: {enabled, sorts: {prop: {docs:
    {iid: rank}, orderedDocs: [[iid, value]...], type}}, ...}."""
    if not sortable_props:
        return {"enabled": False}
    sorts = {}
    types = {}
    for prop in sortable_props:
        vals = [
            (internal_of[str(oid)], _py(v))
            for oid, v in zip(orig_ids, docs_pdf[prop])
            if v is not None
        ]
        vals.sort(key=lambda t: (t[1], t[0]))
        sorts[prop] = {
            "docs": {str(iid): rank for rank, (iid, _) in enumerate(vals)},
            "orderedDocs": [[iid, v] for iid, v in vals],
            "type": _sort_type(config.schema.get(prop, "string")),
        }
        types[prop] = sorts[prop]["type"]
    return {
        "enabled": True,
        "language": config.tokenizer.language,
        "sortableProperties": list(sortable_props),
        "sortablePropertiesWithTypes": types,
        "sorts": sorts,
        "isSorted": True,
    }


def _sort_type(schema_type: str) -> str:
    if schema_type in ("number", "number[]"):
        return "number"
    if schema_type in ("boolean", "boolean[]"):
        return "boolean"
    return "string"


def _filter_tree(tree: str, docs_pdf, prop, internal_of, docid_col, ptype):
    """Non-searchable filter property -> its reference tree dump."""
    is_array = ptype.endswith("[]")

    def pairs():
        for oid, v in zip(docs_pdf[docid_col], docs_pdf[prop]):
            if v is None:
                continue
            iid = internal_of[str(oid)]
            if is_array:
                for item in v:
                    yield _py(item), iid
            else:
                yield _py(v), iid

    if tree == "Bool":
        t, f = [], []
        for v, iid in pairs():
            (t if v else f).append(iid)
        return build_bool(t, f)
    if tree == "BKD":
        by_pt: dict[tuple, list[int]] = {}
        for v, iid in pairs():
            key = (float(v["lon"]), float(v["lat"]))
            by_pt.setdefault(key, []).append(iid)
        return build_bkd([(lon, lat, ids)
                          for (lon, lat), ids in sorted(by_pt.items())])
    by_val: dict = {}
    for v, iid in pairs():
        by_val.setdefault(v, []).append(iid)
    items = sorted(by_val.items(), key=lambda kv: (str(type(kv[0])), kv[0]))
    if tree == "AVL":
        return build_avl(items)
    return build_flat(items)


def _py(v):
    """numpy / pandas scalar -> plain python (JSON-safe)."""
    import decimal

    import numpy as np

    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        # JS numbers are doubles; DECIMAL columns flow through as float
        return float(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, np.ndarray):
        return [_py(x) for x in v.tolist()]
    if hasattr(v, "asDict"):  # pyspark Row (struct cells in toPandas)
        return {k: _py(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [_py(x) for x in v]
    if isinstance(v, dict):
        return {k: _py(x) for k, x in v.items()}
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


# ------------------------------------------------------------ formats

def persist(
    spark: SparkSession,
    index_dir: str,
    config: IndexConfig,
    format: str = "binary",
    **kwargs,
) -> str:
    """plugin-data-persistence ``persist(db, format)``
    (src/index.ts:54-93): 'json' = JSON.stringify(save(db)); 'binary' =
    msgpack(save(db)) hex-encoded. 'dpack' and 'seqproto' are
    deliberately unsupported (niche runtime-specific codecs of the same
    RawData; the shape is already covered by the two portable ones)."""
    dump = save_dump(spark, index_dir, config, **kwargs)
    if format == "json":
        return json.dumps(dump, separators=(",", ":"))
    if format == "binary":
        from .msgpack_codec import encode

        return encode(dump).hex()
    raise ValueError(f"UNSUPPORTED_FORMAT: {format}")
