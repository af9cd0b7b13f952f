"""Match highlighting (port of @orama/plugin-match-highlight).

Reference: plugin-match-highlight/src/index.ts:36-135 —
  * at insert, every word occurrence (regex /[\\p{L}0-9_'-]+/gimu) is
    recorded as (prop, token, {start, length}) where token is the
    FIRST token of tokenize(word.toLowerCase())
  * searchWithHighlight filters each hit's tokens to those matching a
    query token: token.startsWith(queryToken), or bounded Levenshtein
    when tolerance is set (index.ts:113-124)

Spark mapping (scale-first): the reference materializes a positions
map for EVERY document at insert — at 10^12 docs that is a second
index larger than the postings. Highlighting is only ever rendered for
the returned page, so positions are computed lazily for the top-k hits
only: one Arrow kernel over k documents (late materialization, same
pattern as hits_df). Output is exploded to scalar rows
(docid, prop, token, start, length) so results are directly
comparable/hashable.
"""

from __future__ import annotations

import re
from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernel.levenshtein import is_bounded

# /[\p{L}0-9_'-]+/gimu: unicode letters, ASCII digits, _ ' -
# (python: [^\W\d_] == unicode letter)
WORD_RE = re.compile(r"(?:[^\W\d_]|[0-9_'-])+")

_POS_SCHEMA = "array<struct<token:string,start:int,length:int>>"


def _match(token: str, qtokens: list[str], tolerance: int) -> bool:
    for qt in qtokens:
        if tolerance:
            if is_bounded(token, qt, tolerance):
                return True
        elif token.startswith(qt):
            return True
    return False


def match_positions_df(
    index,
    result,
    term: str,
    tolerance: int = 0,
    properties: Optional[list[str]] = None,
) -> DataFrame:
    """(docid, prop, token, pos, start, length) for every matched word
    occurrence in the RESULT PAGE's documents (rank order not implied —
    join back to the page for ordering)."""
    cfg = index.config
    props = properties or cfg.searchable_fields
    qtokens = index.tokenizer.tokenize(term)
    tokenizer = index.tokenizer
    tok_cfg = cfg.tokenizer

    def make_kernel():
        from ..build.tokenize import _get_tokenizer

        @F.pandas_udf(_POS_SCHEMA)
        def _positions(texts: pd.Series) -> pd.Series:
            tok = _get_tokenizer(tok_cfg)
            cache: dict[str, Optional[str]] = {}

            def one(text):
                if not isinstance(text, str):
                    return []
                out = []
                for m in WORD_RE.finditer(text):
                    word = m.group(0).lower()
                    token = cache.get(word, "\0")
                    if token == "\0":
                        toks = tok.tokenize(word)
                        token = toks[0] if toks else None
                        cache[word] = token
                    if token is None:
                        continue
                    if _match(token, qtokens, tolerance):
                        out.append((token, m.start(), len(m.group(0))))
                return out

            return texts.map(one)

        return _positions

    kernel = make_kernel()
    hits = result.top_df().join(
        index.docs.withColumnRenamed(cfg.docid_col, "docid"), "docid"
    )
    parts = []
    for p in props:
        parts.append(
            hits.select(
                "docid",
                F.lit(p).alias("prop"),
                F.explode(kernel(F.col(p).cast("string"))).alias("m"),
            ).select(
                "docid", "prop", F.col("m.token").alias("token"),
                F.col("m.start").alias("start"), F.col("m.length").alias("length"),
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out
