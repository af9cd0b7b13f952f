"""Posting-block physical layout: length-ordered docid reassignment +
docid-delta varint compressed blocks with per-block max-score bounds
(the custom data modeling Catalyst doesn't provide — SURVEY §4 item 1).

Two ideas from the published inverted-index literature compose here:

* **Docid reassignment** (document reordering): the block index assigns
  its own *internal* docid = rank of the document by ascending total
  field length. BM25 with the deduplicating-tokenizer identity
  tf = 1/field_len is strictly decreasing in field_len, so per-block
  max-score bounds now DECAY along the internal-docid axis instead of
  being flat — which is what makes docid-aligned block-max pruning
  (query/wand.py) actually eliminate blocks. Reassignment is a pure
  permutation: original docids are stored alongside, scores and
  tie-breaks always use the original docid, so results are
  rank-identical with the plain path for ANY permutation.

* **Delta + varint compression**: internal docids are delta+varint
  encoded (~1-2 B/posting), field lengths varint (small ints), original
  docids varint (the price of reordering — they are no longer sorted
  within a block, so no delta; ~2-4 B at these scales).

Block table schema (one row per <=BLOCK_SIZE postings of one term):
  field string, term string, block_id int, n int,
  first_docid long, last_docid long,   -- INTERNAL id range (disjoint
                                        -- per term, sorted)
  docid_deltas binary (varint of internal deltas),
  orig_docids binary (varint),
  field_lens binary (varint),
  tfns binary,      -- varint of per-posting tf NUMERATORS
                    -- (tf = tfn/field_len); b"" means all-ones — the
                    -- deduplicating-tokenizer identity, which costs
                    -- zero bytes. Non-trivial tfns cover
                    -- allow_duplicates (tfn = occurrence count) and
                    -- string[] fields (tfn = last-element occurrences,
                    -- possibly 0 — index.ts:90,107).
  max_score double, -- BM25 upper bound for any posting in the block
  min_score double, -- BM25 lower bound — needed because df counts
                    -- OCCURRENCES (index.ts:113-118): a term repeating
                    -- more often than there are docs gets df > N, a
                    -- NEGATIVE idf and negative scores, and the WAND θ
                    -- seed must then be lowered by the possible missing
                    -- negative contributions (query/wand.py)
  df long           -- denormalized per-(field,term) document frequency,
                    -- so queries score without a dictionary join

``max_score`` is the max of the EXACT per-posting BM25 scores of the
block (computed at build time with the final (N, avgfl, df) statistics)
— an ACHIEVED bound by construction, for every tfn shape. For the
all-ones identity this equals the old analytic bound score(min fl):
BM25 with tf=1/fl is strictly decreasing in fl.

Encoding runs inside mapInArrow over partitions range-partitioned and
sorted by (field, term, internal). Each task streams through its slice
one Arrow batch at a time: every (field, term) run that ends inside the
batch is encoded in one vectorized pass (one varint encode per column,
block byte ranges cut from the cumulative byte counts), and only the
run still open at the batch end is carried into the next batch. A hot
term spans several tasks; each emits blocks over a disjoint internal
range, so (field, term, first_docid) is a unique block key (skew-proof:
no task ever holds a whole hot term).

Decoding is the mirror image: ``decode_blocks`` runs one segmented
varint decode per binary column over a whole Arrow batch of block rows.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from ..kernel.bm25 import BM25Params

BLOCK_SIZE = 128

BLOCKS_SCHEMA = StructType(
    [
        StructField("field", StringType(), False),
        StructField("term", StringType(), False),
        StructField("block_id", IntegerType(), False),
        StructField("n", IntegerType(), False),
        StructField("first_docid", LongType(), False),
        StructField("last_docid", LongType(), False),
        StructField("docid_deltas", BinaryType(), False),
        StructField("orig_docids", BinaryType(), False),
        StructField("field_lens", BinaryType(), False),
        StructField("tfns", BinaryType(), False),
        StructField("max_score", DoubleType(), False),
        StructField("min_score", DoubleType(), False),
        StructField("df", LongType(), False),
        # per-ENCODER-FRAGMENT champion-candidate mark (>0 = candidate;
        # 0 = not). Candidates are the UNION of (a) the fragment's top
        # champion_blocks blocks by (max_score desc, first_docid asc)
        # and (b) the fragment's FIRST champion_blocks blocks in
        # internal order — the internal axis is length-ordered, so
        # scores decay along it and the first blocks hold each term's
        # top-scoring postings (exactly so for single-field trivial-tf
        # indexes; approximately otherwise, which is why (a) is kept).
        # A term split across range partitions gets marks per fragment,
        # so this is a SUPERSET prefilter under BOTH orderings: the
        # global winners are always contained in rows with champ_rk > 0,
        # and the champion pass (query/wand.py) re-ranks them at posting
        # level, one (field, term) at a time.
        StructField("champ_rk", IntegerType(), False),
    ]
)



# Arrow mirror of BLOCKS_SCHEMA for the mapInArrow output batches.
PA_BLOCKS_SCHEMA = to_arrow_schema(BLOCKS_SCHEMA)

# The postings and dictionary columns the block build reads. Passing
# them to spark.read.schema skips parquet schema inference, which is a
# Spark job of its own per read. Integer docids written as int widen to
# long on read.
POSTINGS_READ_SCHEMA = StructType(
    [
        StructField("field", StringType()),
        StructField("term", StringType()),
        StructField("docid", LongType()),
        StructField("tf", DoubleType()),
        StructField("field_len", IntegerType()),
    ]
)
DICTIONARY_READ_SCHEMA = StructType(
    [
        StructField("field", StringType()),
        StructField("term", StringType()),
        StructField("df", LongType()),
    ]
)


# ------------------------------------------------------------ varint codec

def _varint_nb(a: np.ndarray) -> np.ndarray:
    """Per-value encoded byte counts for LEB128 varints."""
    nb = np.ones(len(a), dtype=np.int64)
    for shift in range(7, 64, 7):
        more = a >= (np.uint64(1) << np.uint64(shift))
        if not more.any():
            break
        nb += more
    return nb


def varint_encode_stream(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 varint encode of a uint64 array, vectorized by byte slot.

    Returns (bytes as uint8, cuts): value i occupies bytes
    [cuts[i], cuts[i + 1]), so any run of consecutive values is one
    contiguous byte range — how the encoder cuts blocks out of a whole
    column's stream."""
    a = np.asarray(arr).astype(np.uint64)
    cuts = np.zeros(len(a) + 1, dtype=np.int64)
    np.cumsum(_varint_nb(a), out=cuts[1:])
    out = np.empty(int(cuts[-1]), dtype=np.uint8)
    pos, rem = cuts[:-1], a
    while len(rem):
        more = rem >= np.uint64(0x80)
        out[pos] = (rem & np.uint64(0x7F)).astype(np.uint8) | (
            more.astype(np.uint8) << np.uint8(7)
        )
        pos, rem = pos[more] + 1, rem[more] >> np.uint64(7)
    return out, cuts


def varint_encode(arr: np.ndarray) -> bytes:
    """LEB128 varint encode of a uint64 array."""
    return varint_encode_stream(arr)[0].tobytes()


def _varint_decode_bytes(b: np.ndarray) -> np.ndarray:
    """Decode a uint8 array holding back-to-back varints (bytes after
    the last terminator are ignored)."""
    ends = np.flatnonzero(b < 0x80)
    if len(ends) == 0:
        return np.zeros(0, dtype=np.uint64)
    b = b[: ends[-1] + 1]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    # bit shift of each byte = 7 × its position inside its value
    shift = np.arange(len(b), dtype=np.int64) - np.repeat(starts, ends - starts + 1)
    payload = (b & 0x7F).astype(np.uint64) << (shift * 7).astype(np.uint64)
    return np.add.reduceat(payload, starts)


def varint_decode(buf: bytes) -> np.ndarray:
    """Inverse of varint_encode."""
    return _varint_decode_bytes(np.frombuffer(buf, dtype=np.uint8))


def varint_decode_binary(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Segmented decode of a whole Arrow ``binary`` or ``large_binary``
    column of varint streams (Spark sends BinaryType as ``binary``, or
    as ``large_binary`` under spark.sql.execution.arrow.useLargeVarTypes).

    The data buffer is decoded once; per-row value counts come from the
    terminator bytes (< 0x80) between consecutive offsets. Returns
    (values of all rows concatenated in row order, per-row counts).
    Null cells decode as empty streams."""
    if arr.null_count:
        arr = pc.fill_null(arr, pa.scalar(b"", type=arr.type))
    n = len(arr)
    _, obuf, dbuf = arr.buffers()
    width = np.dtype(np.int64 if pa.types.is_large_binary(arr.type) else np.int32)
    offs = np.frombuffer(
        obuf, dtype=width, count=n + 1, offset=arr.offset * width.itemsize
    ).astype(np.int64)
    lo, hi = int(offs[0]), int(offs[-1])
    b = (
        np.frombuffer(dbuf, dtype=np.uint8, count=hi - lo, offset=lo)
        if hi > lo else np.zeros(0, dtype=np.uint8)
    )
    ends = np.zeros(len(b) + 1, dtype=np.int64)
    np.cumsum(b < 0x80, out=ends[1:])
    return _varint_decode_bytes(b), np.diff(ends[offs - lo])


def _binary_array(data: np.ndarray, offsets: np.ndarray) -> pa.Array:
    """Arrow binary array straight from a byte buffer and row offsets."""
    return pa.Array.from_buffers(
        pa.binary(), len(offsets) - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)],
    )


def decode_blocks(batch: pa.RecordBatch, internal: bool = False) -> dict:
    """Arrow batch of block rows -> per-posting numpy columns.

    ``rid`` is the row of the block each posting came from, ``docid``
    the ORIGINAL id (scoring + tie-breaks), ``field_len`` and ``tfn``
    the tf inputs (an empty ``tfns`` cell means all ones). With
    ``internal`` the length-ordered ids are decoded too (block-range
    arithmetic only)."""
    origs, cnt = varint_decode_binary(batch.column("orig_docids"))
    fls, _ = varint_decode_binary(batch.column("field_lens"))
    tvals, tcnt = varint_decode_binary(batch.column("tfns"))
    rid = np.repeat(np.arange(batch.num_rows, dtype=np.int64), cnt)
    tfn = np.ones(len(rid), dtype=np.int64)
    if len(tvals):
        tfn[np.repeat(tcnt > 0, cnt)] = tvals.astype(np.int64)
    out = {
        "rid": rid,
        "docid": origs.astype(np.int64),
        "field_len": fls.astype(np.int64),
        "tfn": tfn,
    }
    if internal:
        deltas, _ = varint_decode_binary(batch.column("docid_deltas"))
        d = deltas.astype(np.int64)
        starts = np.cumsum(cnt) - cnt
        d[starts[cnt > 0]] = 0  # a block's first delta is a placeholder
        run = np.cumsum(d)
        first = batch.column("first_docid").to_numpy(zero_copy_only=False)
        out["internal"] = first[rid] + run - run[starts[rid]]
    return out


# ------------------------------------------------------------------ BM25

def _idf(df: float, n_docs: float) -> float:
    return math.log(1 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_scores(idf, fl: np.ndarray, tf: np.ndarray, avgfl, p: BM25Params) -> np.ndarray:
    """BM25 with precomputed idf; idf and avgfl may be per-posting arrays
    or scalars — each element runs the same float operations either way,
    so the two forms are bit-identical."""
    return (idf * (p.d + tf * (p.k + 1))) / (tf + p.k * (1 - p.b + (p.b * fl) / avgfl))


def bm25_for_fl(fl: np.ndarray, df: float, n_docs: float, avgfl: float,
                p: BM25Params, tfn: np.ndarray | None = None) -> np.ndarray:
    """BM25 with tf = tfn/fl; tfn=None means the all-ones identity of the
    deduplicating tokenizer (tf = 1/fl)."""
    tf = (1.0 if tfn is None else tfn) / fl
    return bm25_scores(_idf(df, n_docs), fl, tf, avgfl, p)


def idf_per_row(df: np.ndarray, n_docs: float) -> np.ndarray:
    """math.log per row (not np.log), so scores match bm25_for_fl bit
    for bit."""
    return np.array(
        [_idf(d, n_docs) for d in np.asarray(df, dtype=np.float64).tolist()],
        dtype=np.float64,
    )


def avgfl_per_row(fields: pa.Array, avgs: dict) -> np.ndarray:
    """Average field length per row of an Arrow string column."""
    enc = pc.dictionary_encode(fields)
    table = np.array([avgs[f_] for f_ in enc.dictionary.to_pylist()], dtype=np.float64)
    return table[enc.indices.to_numpy(zero_copy_only=False)]


# ------------------------------------------------------- segment helpers

def run_starts(field: pa.Array, term: pa.Array) -> np.ndarray:
    """Row indices where a (field, term) run starts in a sorted batch
    (row 0 included; empty for an empty batch). Compared on the Arrow
    string arrays — no per-row Python strings."""
    n = len(field)
    if n == 0:
        return np.zeros(0, dtype=np.int64)
    neq = pc.or_(
        pc.not_equal(field.slice(1), field.slice(0, n - 1)),
        pc.not_equal(term.slice(1), term.slice(0, n - 1)),
    ).to_numpy(zero_copy_only=False)
    return np.concatenate(([0], np.flatnonzero(neq) + 1)).astype(np.int64)


def segment_ids(starts: np.ndarray, n: int) -> np.ndarray:
    """Per-row segment index for segments starting at ``starts``."""
    return np.repeat(
        np.arange(len(starts), dtype=np.int64), np.diff(np.append(starts, n))
    )


# ---------------------------------------------------------------- encoder

def block_encoder(avgs: dict, n_docs: float, params: BM25Params,
                  block_size: int = BLOCK_SIZE, champion_blocks: int = 8):
    """mapInArrow kernel: sorted (field, term, docid, internal, field_len,
    df, tfn) batches -> BLOCKS_SCHEMA batches.

    Input must be sorted by (field, term, internal) within the task.
    Each (field, term) run of a task is one encoder FRAGMENT: it is cut
    into blocks of ``block_size`` postings numbered from 0, and its
    champion candidates are marked (BLOCKS_SCHEMA ``champ_rk``). The
    run still open at the end of a batch is carried until a later batch
    closes it, so a fragment is encoded whole wherever batches split
    it."""

    def encode_runs(rb: pa.RecordBatch, gstarts: np.ndarray, m: int) -> pa.RecordBatch:
        # every run starting at gstarts is complete inside rows [0, m)
        col = lambda nm: rb.column(nm).to_numpy(zero_copy_only=False)[:m]
        internal = col("internal").astype(np.int64)
        tfn = col("tfn").astype(np.int64)
        fl = col("field_len").astype(np.float64)
        gid = segment_ids(gstarts, m)
        pos = np.arange(m, dtype=np.int64) - gstarts[gid]
        bs = np.flatnonzero(pos % block_size == 0)
        bounds = np.append(bs, m)
        bgid, bpos = gid[bs], pos[bs] // block_size
        # block-local docid deltas: global diff, reset at block starts
        deltas = np.diff(internal, prepend=internal[:1])
        deltas[bs] = 0
        # exact per-posting scores; idf per run through math.log
        idf = idf_per_row(col("df")[gstarts], n_docs)
        avg = avgfl_per_row(pc.take(rb.column("field"), pa.array(gstarts)), avgs)
        sc = bm25_scores(idf[gid], fl, tfn.astype(np.float64) / fl, avg[gid], params)
        # ACHIEVED bounds: max/min of the exact per-posting scores
        ubs = np.maximum.reduceat(sc, bs)
        lbs = np.minimum.reduceat(sc, bs)
        # fragment-local champion candidates (see BLOCKS_SCHEMA): union
        # of the top champion_blocks by (max_score desc, internal asc)
        # and the first champion_blocks blocks of the run (score decays
        # along the length-ordered internal axis, so these hold the
        # term's top-scoring postings — the multi-term-overlap docs
        # that max_score ranking alone misses)
        order = np.lexsort((internal[bs], -ubs, bgid))
        rank = np.empty(len(bs), dtype=np.int64)
        rank[order] = np.arange(len(bs)) - np.flatnonzero(bpos == 0)[bgid[order]]
        champ = np.where(rank < champion_blocks, rank + 1, 0)
        head = (bpos < champion_blocks) & (champ == 0)
        champ[head] = champion_blocks + 1 + bpos[head]

        def stream(vals: np.ndarray, rows: np.ndarray | None = None) -> pa.Array:
            if rows is None:
                buf, cuts = varint_encode_stream(vals)
                return _binary_array(buf, cuts[bounds])
            # only the selected rows are encoded; other blocks get b""
            buf, cuts = varint_encode_stream(vals[rows])
            k = np.zeros(m + 1, dtype=np.int64)
            np.cumsum(rows, out=k[1:])
            return _binary_array(buf, cuts[k[bounds]])

        # tfns stay b"" (all ones, zero bytes) for runs whose tfns are
        # all 1 — the deduplicating-tokenizer identity
        nontrivial = np.logical_or.reduceat(tfn != 1, gstarts)[gid]
        take_bs = pa.array(bs)
        return pa.record_batch(
            [
                pc.take(rb.column("field"), take_bs),
                pc.take(rb.column("term"), take_bs),
                pa.array(bpos.astype(np.int32)),
                pa.array(np.diff(bounds).astype(np.int32)),
                pa.array(internal[bs]),
                pa.array(internal[bounds[1:] - 1]),
                stream(deltas),
                stream(col("docid").astype(np.int64)),
                stream(col("field_len").astype(np.int64)),
                stream(tfn, nontrivial),
                pa.array(ubs),
                pa.array(lbs),
                # df rides on the block row so the query path can score
                # without a dictionary join (it is constant per
                # (field, term) — denormalized metadata)
                pa.array(col("df")[bs].astype(np.int64)),
                pa.array(champ.astype(np.int32)),
            ],
            schema=PA_BLOCKS_SCHEMA,
        )

    def flush(pend: list, final: bool):
        """Encode the complete runs of the pending batches; return
        (output batch or None, pending batches left for the open run)."""
        rb = pend[0] if len(pend) == 1 else pa.Table.from_batches(pend).combine_chunks().to_batches()[0]
        starts = run_starts(rb.column("field"), rb.column("term"))
        m = rb.num_rows if final else int(starts[-1])
        gstarts = starts if final else starts[:-1]
        out = encode_runs(rb, gstarts, m) if len(gstarts) else None
        return out, ([] if final else [rb.slice(m)])

    def closes_run(prev: pa.RecordBatch, rb: pa.RecordBatch) -> bool:
        """Whether ``rb`` holds a (field, term) change, at its first row
        or inside it — only then can a pending run be complete."""
        j = prev.num_rows - 1
        if (rb.column("field")[0].as_py() != prev.column("field")[j].as_py()
                or rb.column("term")[0].as_py() != prev.column("term")[j].as_py()):
            return True
        return len(run_starts(rb.column("field"), rb.column("term"))) > 1

    def encode(batches) -> Iterator[pa.RecordBatch]:
        # mapInArrow, not mapInPandas: Arrow string arrays stay in C++
        # and numeric columns come out as zero-copy numpy views. Batches
        # that continue the open run only queue up (a hot fragment is
        # concatenated once, when it closes).
        pend: list = []
        for rb in batches:
            if rb.num_rows == 0:
                continue
            closes = not pend or closes_run(pend[-1], rb)
            pend.append(rb)
            if closes:
                out, pend = flush(pend, final=False)
                if out is not None:
                    yield out
        if pend:
            out, _ = flush(pend, final=True)
            yield out

    return encode


def assign_internal_ids(postings: DataFrame) -> DataFrame:
    """(docid) -> (docid, internal): internal = 0-based rank of the doc by
    (total field length asc, docid asc).

    Distributed rank — no single-partition window: range-partition by the
    sort key and materialize that once with ``localCheckpoint``, collect
    the P per-partition counts (P rows, driver-tiny), then assign
    offset[partition] + row index inside each sorted partition in the
    JVM (``spark_partition_id`` and ``monotonically_increasing_id``,
    whose low 33 bits are the row index within the partition). The
    checkpoint pins the partitioning the counts were taken on, so the
    range sort runs once instead of once per action.

    Executor loss: a local checkpoint lives in executor storage and has
    no lineage to recompute from. If an executor holding checkpointed
    blocks is lost before the docmap is consumed, the build fails with
    a missing-checkpoint-block error rather than assigning ids from a
    different partitioning; ``BlockIndex.build`` has removed its stamp
    by then, so the torn build is never served and a rerun starts
    clean.
    """
    doclen = (
        postings.select("field", "docid", "field_len")
        .dropDuplicates(["field", "docid"])
        .groupBy("docid")
        .agg(F.sum("field_len").alias("dl"))
    )
    ranked = (
        doclen.repartitionByRange("dl", "docid")
        .sortWithinPartitions("dl", "docid")
        .localCheckpoint()
    )
    pid = F.spark_partition_id()
    counts = {
        r["pid"]: r["count"]
        for r in ranked.groupBy(pid.alias("pid")).count().collect()
    }
    offsets, acc = [], 0
    for i in range(max(counts, default=-1) + 1):
        offsets.append(acc)
        acc += counts.get(i, 0)
    if not offsets:
        return ranked.select("docid", F.lit(0).cast("long").alias("internal"))
    offset = F.element_at(F.array(*[F.lit(o).cast("long") for o in offsets]), pid + 1)
    row = F.monotonically_increasing_id() - F.shiftleft(pid.cast("long"), 33)
    return ranked.select("docid", (offset + row).alias("internal"))


def build_blocks(
    postings: DataFrame,
    dictionary: DataFrame,
    stats: dict,
    bm25: BM25Params,
    block_size: int = BLOCK_SIZE,
    champion_blocks: int = 8,
) -> DataFrame:
    """postings -> compressed blocks in length-ordered internal docid space.

    Internal ids are assigned (assign_internal_ids; the docmap joins the
    postings by broadcast), the stream is range-partitioned + sorted by
    (field, term, internal), then each task cuts blocks at term
    boundaries or every ``block_size`` rows — narrow after the one sort,
    skew split by internal range.
    """
    n_docs = float(stats["docs_count"])
    avgs = {f_: float(v["avg_field_length"]) for f_, v in stats["fields"].items()}
    docmap = assign_internal_ids(postings)
    # docmap is two longs per DOC (not per posting). Under ~4M docs
    # (≤ ~64 MB) broadcasting it turns the postings-side sort-merge
    # join — a full postings shuffle, ~20 s of the 104 s build at the
    # 2M-doc/76.5M-posting scale point — into a map-side hash join.
    # Past the threshold the SMJ IS the right plan: a 10^9-doc docmap
    # cannot live on the driver, and the shuffle amortizes across the
    # cluster. docs_count is exact (build-time stats), so the switch is
    # deterministic, not a sampled estimate.
    dm = F.broadcast(docmap) if n_docs <= 4_000_000 else docmap
    p = (
        postings.join(dm, "docid")
        .join(F.broadcast(dictionary), ["field", "term"])
        .select(
            "field", "term", "docid", "internal", "field_len", "df",
            # tf numerator: postings store tf = tfn/field_len as a
            # double; tfn is an exact small integer for every posting
            # shape (1 for dedup, occ for allow_duplicates, last-element
            # occurrences — possibly 0 — for string[]), so round()
            # recovers it exactly
            F.round(F.col("tf") * F.col("field_len")).cast("long").alias("tfn"),
        )
        .repartitionByRange("field", "term", "internal")
        .sortWithinPartitions("field", "term", "internal")
    )
    return p.mapInArrow(
        block_encoder(avgs, n_docs, bm25, block_size, champion_blocks),
        BLOCKS_SCHEMA,
    )
