"""Arrow-vectorized tokenization UDF — the only Python in the build path.

Wraps the shared kernel tokenizer (orama_spark.kernel.tokenizer) in a
pandas UDF. The per-executor memo inside ``Tokenizer`` caches
normalization per unique (prop, token) — the same optimization the
reference applies with its normalizationCache (tokenizer/index.ts:20-43)
— so the Porter stemmer runs once per unique surface form per executor,
not once per occurrence. Batches arrive via Arrow (no per-row Python
serialization, per BASELINE.json input_hint: "no per-row Python").
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

from ..kernel.tokenizer import Tokenizer, TokenizerConfig

# Executor-local tokenizer cache (one memo dict per (config, lifetime of
# the Python worker), shared across batches), keyed by the frozen config.
_TOKENIZERS: dict[TokenizerConfig, Tokenizer] = {}


def _get_tokenizer(cfg: TokenizerConfig) -> Tokenizer:
    tok = _TOKENIZERS.get(cfg)
    if tok is None:
        tok = _TOKENIZERS[cfg] = Tokenizer(cfg)
    return tok


def tokens_udf(config: TokenizerConfig, prop: str):
    """Returns a pandas UDF: string column -> array<string> of tokens."""

    @F.pandas_udf(ArrayType(StringType()))
    def _tokenize(col: pd.Series) -> pd.Series:
        tok = _get_tokenizer(config)
        # Whole-batch tokenize: the CJK path segments the entire Arrow
        # batch in one vectorized pass.  None for missing values: the
        # reference skips absent properties entirely (no field_len
        # entry, no avg update), while an empty string is a present
        # value that tokenizes to [].
        vals = col.tolist()
        res = tok.tokenize_many(vals, prop)
        return pd.Series(
            [r if isinstance(v, str) else None for v, r in zip(vals, res)]
        )

    return _tokenize


def tokens_arr_udf(config: TokenizerConfig, prop: str):
    """Pandas UDF for string[] props: array<string> column ->
    array<array<string>>, one token list per array ELEMENT in order —
    the reference inserts each element separately (index.ts:260-301),
    and element order matters (last element's tf/field_len win)."""

    @F.pandas_udf(ArrayType(ArrayType(StringType())))
    def _tokenize_arr(col: pd.Series) -> pd.Series:
        tok = _get_tokenizer(config)
        # Flatten every element of every row into one batch call (the
        # CJK path segments them all in one vectorized pass), then
        # regroup per row.
        vals = col.tolist()
        flat = [x for arr in vals if arr is not None for x in arr]
        res_iter = iter(tok.tokenize_many(flat, prop))
        out = []
        for arr in vals:
            if arr is None:
                out.append(None)
                continue
            row = []
            for x in arr:
                r = next(res_iter)
                row.append(r if isinstance(x, str) else [])
            out.append(row)
        return pd.Series(out)

    return _tokenize_arr
