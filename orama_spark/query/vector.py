"""Vector & hybrid search (SURVEY §2.9) — Spark-native cosine scoring.

Reference semantics reproduced exactly:
  * vector search: brute-force cosine over (optionally where-filtered)
    vectors, keep sim >= similarity (default 0.8), vectors are Float32
    (trees/vector.ts:9,77-111; methods/search-vector.ts:13-46); results
    sorted (score DESC, docid ASC) (search-vector.ts:56, utils.ts:184-190)
  * hybrid: full-text scores ÷ max, vector scores ÷ max, weighted sum
    (default 0.5/0.5); a doc missing from one side contributes 0 there
    (methods/search-hybrid.ts:105-157)

Spark mapping: the cosine is a single JVM expression (zip_with +
aggregate) over a float32-cast array column — whole-stage codegen, no
Python in the loop, no shuffle (scan + TakeOrdered). The hybrid is two
scored DataFrames full-outer-joined on docid. At 10^12 scale the
brute-force baseline is scan-bound by design; the LSH-bucketed ANN in
orama_spark.datapipe.similarity is the sublinear path.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, functions as F

DEFAULT_SIMILARITY = 0.8  # trees/vector.ts:9


def _f32(col: Column) -> Column:
    """Round-trip through float32 to mirror Float32Array storage."""
    return col.cast("array<float>").cast("array<double>")


def cosine_sim(vec_col: Column, query: Sequence[float]) -> Column:
    """cos(doc, query) with float32-quantized values, float64 math —
    mirrors findSimilarVectors (trees/vector.ts:77-111)."""
    import numpy as np

    q32 = np.asarray(query, dtype=np.float32).astype(float)
    qlit = F.array(*[F.lit(float(x)) for x in q32])
    v = _f32(vec_col)
    dot = F.aggregate(
        F.zip_with(v, qlit, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    vmag = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    qmag = float(np.sqrt((q32 * q32).sum()))
    return dot / (vmag * F.lit(qmag))


def vector_search(
    vectors: DataFrame,
    query: Sequence[float],
    vector_col: str = "embedding",
    docid_col: str = "docid",
    similarity: float = DEFAULT_SIMILARITY,
    where_ids: Optional[DataFrame] = None,
) -> DataFrame:
    """Returns (docid, score) for all vectors with cosine >= similarity."""
    out = vectors.select(
        F.col(docid_col).alias("docid"),
        cosine_sim(F.col(vector_col), query).alias("score"),
    ).where(F.col("score") >= similarity)
    if where_ids is not None:
        out = out.join(where_ids, "docid", "left_semi")
    return out


def hybrid_merge(
    text_scored: DataFrame,
    vector_scored: DataFrame,
    text_weight: float = 0.5,
    vector_weight: float = 0.5,
) -> DataFrame:
    """mergeAndRankResults (search-hybrid.ts:124-157): each side is
    normalized by ITS max score, then weighted-summed; missing side = 0.
    Empty sides yield the other side unchanged (max of empty -> skip).

    ZERO driver actions: the two max-normalizers are 1-row aggregates
    broadcast-cross-joined into the plan instead of two collect()s. It
    is not one Spark job: AQE runs each shuffle and broadcast stage as
    its own job. At sf0.01, the top 10 of a merge over a bounded
    search's local result ran 8 jobs, and the ``hybrid_topk`` driver
    query, its search's probe and fetch included, 12."""
    t_max = text_scored.agg(F.max("score").alias("__tmax"))
    v_max = vector_scored.agg(F.max("score").alias("__vmax"))
    safe = lambda c: F.when(c.isNull() | (c == 0.0), F.lit(1.0)).otherwise(c)  # noqa: E731
    return (
        text_scored.select("docid", F.col("score").alias("t_score"))
        .join(
            vector_scored.select("docid", F.col("score").alias("v_score")),
            "docid",
            "full_outer",
        )
        .crossJoin(F.broadcast(t_max))
        .crossJoin(F.broadcast(v_max))
        .select(
            "docid",
            (
                F.coalesce(F.col("t_score") / safe(F.col("__tmax")), F.lit(0.0))
                * F.lit(text_weight)
                + F.coalesce(F.col("v_score") / safe(F.col("__vmax")), F.lit(0.0))
                * F.lit(vector_weight)
            ).alias("score"),
        )
    )
