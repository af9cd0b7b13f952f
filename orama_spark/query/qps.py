"""QPS (Quantum Proximity Scoring) — port of @orama/plugin-qps.

Reference: plugin-qps/src/algorithm.ts:76-215 —
  * insert: a field's text splits into sentences on /\\.|\\?|!/; each
    sentence is a "quantum" (bit 0..20, only advanced when a sentence
    has >1 token). Per (doc, token) a 32-bit descriptor packs
    (occurrence count << 20) | sentence bitmask.
  * search: matched words contribute
    (occurrences^2 / doc_token_count + isExactMatch) * boost, plus a
    proximity bonus 2 * popcount(accumulated_mask & word_mask) as
    words accumulate — words sharing sentences with already-counted
    words score higher.

ORDER NOTE: the reference accumulates words in radix-traversal order
(JS Map insertion order — an implementation accident of the trie
layout). This port defines the accumulation order as
(property order, term lexicographic) — deterministic and
replicable distributedly; totals match the reference whenever word
masks don't overlap or a single word matches (the common case), and
the divergence is bounded by the proximity term only (documented the
same way the oracle's flat fuzzy-accept set is).

Spark mapping: build = one Arrow kernel per doc -> (field, term, docid,
occ, mask, tokens_len) table, range-partitioned by (field, term) for
IN-list/prefix pushdown; query = literal-pushdown scan + per-doc
collect of the (tiny) matched-word set + a vectorized fold — postings
never shuffle (same shape as the BM25 path).
"""

from __future__ import annotations

import os
import re
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import layout
from ..build.manifest import read_table
from ..config import IndexConfig
from ..kernel.levenshtein import is_bounded
from ..kernel.tokenizer import Tokenizer

BIT_MASK_20 = (1 << 20) - 1
_SENT_RE = re.compile(r"\.|\?|!")

_QPS_SCHEMA = "array<struct<term:string,occ:int,mask:int,tokens_len:int>>"


def token_quantums(text: str, tokenizer: Tokenizer, prop: str) -> tuple[dict, int]:
    """algorithm.ts:100-132: {token: (occ, mask)} + total token count."""
    quantums: dict[str, tuple[int, int]] = {}
    quantum_index = 0
    token_number = 0
    for sentence in _SENT_RE.split(text):
        tokens = tokenizer.tokenize(sentence, prop)
        for token in tokens:
            token_number += 1
            bit = min(quantum_index, 20)
            occ, mask = quantums.get(token, (0, 0))
            quantums[token] = (occ + 1, mask | (1 << bit))
        if len(tokens) > 1:
            quantum_index += 1
    return quantums, token_number


class QPSIndex:
    """(field, term, docid, occ, mask, tokens_len) + per-field stats."""

    def __init__(self, spark: SparkSession, config: IndexConfig, table: DataFrame):
        self.spark = spark
        self.config = config
        self.table = table
        self.tokenizer = Tokenizer(config.tokenizer)

    @classmethod
    def build(cls, df: DataFrame, out_dir: str, config: IndexConfig) -> "QPSIndex":
        from ..build.tokenize import _get_tokenizer

        config.validate()
        docid = config.docid_col
        tok_cfg = config.tokenizer
        parts = []
        for f_ in config.searchable_fields:
            if config.schema[f_] != "string":
                raise NotImplementedError("QPS: string fields only")

            def make_kernel(prop):
                @F.pandas_udf(_QPS_SCHEMA)
                def _quanta(col: pd.Series) -> pd.Series:
                    tok = _get_tokenizer(tok_cfg)

                    def one(text):
                        if not isinstance(text, str):
                            return []
                        q, n = token_quantums(text, tok, prop)
                        # tokens_len rides along in every row (cheap int)
                        return [(t, occ, mask, n) for t, (occ, mask) in q.items()]

                    return col.map(one)

                return _quanta

            kern = make_kernel(f_)
            parts.append(
                df.select(
                    F.col(docid).alias("docid"),
                    F.explode(kern(F.col(f_).cast("string"))).alias("e"),
                ).select(
                    F.lit(f_).alias("field"),
                    F.col("e.term").alias("term"),
                    "docid",
                    F.col("e.occ").alias("occ"),
                    F.col("e.mask").alias("mask"),
                    F.col("e.tokens_len").alias("tokens_len"),
                )
            )
        all_e = parts[0]
        for p in parts[1:]:
            all_e = all_e.unionByName(p)
        width = layout.index_widths(df)["postings"]
        (
            all_e.repartitionByRange(width, "field", "term", "docid")
            .sortWithinPartitions("field", "term", "docid")
            .write.mode("overwrite")
            .parquet(os.path.join(out_dir, "qps"))
        )
        return cls.load(df.sparkSession, out_dir, config)

    @classmethod
    def load(cls, spark: SparkSession, out_dir: str, config: IndexConfig) -> "QPSIndex":
        return cls(spark, config, read_table(spark, os.path.join(out_dir, "qps")))

    def search(
        self,
        term: str,
        properties: Optional[list[str]] = None,
        exact: bool = False,
        tolerance: int = 0,
        boost: Optional[dict[str, float]] = None,
        where_ids: Optional[DataFrame] = None,
        limit: int = 10,
    ) -> DataFrame:
        """(docid, score) page — algorithm.ts:134-211 with the
        documented deterministic accumulation order."""
        props = properties or self.config.searchable_fields
        boost = boost or {}
        qtokens = self.tokenizer.tokenize(term)
        if not qtokens:
            return self.spark.createDataFrame([], "docid long, score double")

        m = self.table.where(F.col("field").isin(props))
        if exact:
            cond = F.col("term").isin(qtokens)
        elif tolerance:
            band = F.lit(False)
            for t in qtokens:
                band = band | (
                    (F.length("term") >= F.lit(len(t) - tolerance))
                    & (F.length("term") <= F.lit(len(t) + tolerance))
                ) | F.col("term").startswith(t)
            m = m.where(band)
            cond = _fuzzy_any_udf(qtokens, tolerance)(F.col("term"))
        else:
            cond = F.col("term").startswith(qtokens[0])
            for t in qtokens[1:]:
                cond = cond | F.col("term").startswith(t)
        m = m.where(cond)
        if where_ids is not None:
            m = m.join(where_ids, "docid", "left_semi")

        boosts = {f_: float(boost.get(f_, 1.0)) for f_ in props}
        qtok_set = set(qtokens)
        order = {f_: i for i, f_ in enumerate(props)}

        # one partial-agg shuffle to gather each doc's (tiny) matched
        # set, then ONE vectorized pandas UDF over the lists — an
        # applyInPandas per docid group would build a pandas frame per
        # document (~10x slower for thousands of 2-row groups)
        from pyspark.sql.types import DoubleType

        @F.pandas_udf(DoubleType())
        def _fold(entries: pd.Series) -> pd.Series:
            def one(es):
                es = sorted(es, key=lambda e: (order[e["field"]], e["term"]))
                total, acc = 0.0, 0
                for e in es:
                    occ = int(e["occ"])
                    mask = int(e["mask"]) & BIT_MASK_20
                    is_exact = 1 if e["term"] in qtok_set else 0
                    score = (occ * occ / int(e["tokens_len"]) + is_exact) * boosts[e["field"]]
                    total += bin(acc & mask).count("1") * 2 + score
                    acc |= mask
                return total

            return entries.map(one)

        g = m.groupBy("docid").agg(
            F.collect_list(
                F.struct("field", "term", "occ", "mask", "tokens_len")
            ).alias("entries")
        )
        scored = g.select("docid", _fold("entries").alias("score"))
        return scored.orderBy(F.desc("score"), F.asc("docid")).limit(limit)


def _fuzzy_any_udf(qtokens: list[str], tolerance: int):
    from pyspark.sql.types import BooleanType

    @F.pandas_udf(BooleanType())
    def _ok(terms: pd.Series) -> pd.Series:
        return terms.map(
            lambda w: any(is_bounded(t, w, tolerance) for t in qtokens)
        )

    return _ok
