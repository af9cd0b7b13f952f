"""Block-max WAND top-k over the compressed posting-block layout
(SURVEY §4 item 2 — the custom query-side pruning Catalyst can't do).

Distributed, exact w.r.t. the plain path (rank-identical top-k), built
on the length-ordered internal docid space from build/blocks.py:

  phase 0   seed θ from the CHAMPION LISTS: at build time the top
            CHAMPION_BLOCKS blocks per (field, term) by max_score —
            block bounds are ACHIEVED (blocks.py), so these blocks
            contain the top single-term postings — are decoded + scored
            into index_dir/champions. At query time θ is the k-th best
            PARTIAL BM25 sum over the query's champion rows. Partial
            sums are exact non-negative contributions, so partial ≤ true
            and k real docs attain ≥ θ: a valid lower bound of the true
            k-th score. Length-ordering means every term's top blocks
            hold the same shortest docs, so multi-term docs get
            near-complete seed sums and θ is tight. The pool is bounded
            by the QUERY (CHAMPION_BLOCKS × BLOCK_SIZE × #terms ×
            #fields rows), not the corpus, so the unfiltered path
            fetches it to the driver together with the block metadata;
            with a keep_ids filter θ stays a fully lazy aggregate so the
            semi-join runs distributed.
  phase 1   docid-aligned pruning: per internal docid d the score of d
            is bounded by UB(d) = Σ_t ms_t(d), where ms_t(d) is the
            max_score of the unique block of term t covering d (blocks
            of one term are disjoint internal ranges). A block survives
            iff max_{d∈block} UB(d) ≥ θ — an exact interval sweep
            (_sweep_keep). Under DRIVER_SWEEP_MAX_BLOCKS it runs in
            numpy over the fetched metadata. Otherwise it runs
            distributed: block METADATA (no binary payload) explodes to
            coarse internal-range buckets — one tiny shuffle — and each
            bucket sweeps its clipped (block, bucket) cells locally
            (clipping makes buckets independent — no cross-bucket
            state). Survivor cells come back as (block key, clip range)
            and equi-join the block payloads.
  phase 2   decode ONLY surviving blocks (or, distributed, surviving
            clips — clips never overlap, so no dedup shuffle) and score
            them with one vectorized kernel, _score_postings (df is
            denormalized onto block rows — no dictionary join); exact
            BM25 sums per original docid, drop docs below θ, top k.

Soundness: any doc d with true score ≥ θ has UB(d) ≥ score(d) ≥ θ, so
for every term covering d, the (block, bucket) cell containing d
survives phase 1 and d's phase-2 score is complete (= plain-path
score). Docs with any covering cell pruned have UB(d) < θ, hence true
score < θ; their (possibly partial, under-estimated) phase-2 scores are
< θ and the final ≥ θ filter drops them, so they can never displace a
true top-k doc — and ≥ k docs with true score ≥ θ exist (the phase-0
seeds), so the filter never starves the result. The ≥ θ comparisons
carry a 1e-12 relative epsilon to absorb float summation-order jitter
between phase 0 and phase 2 (true-score gaps are astronomically larger
than 1e-12 relative).

NEGATIVE contributions: df counts occurrences (index.ts:113-118), so a
term repeating more often than there are docs has df > N, idf < 0 and
all-negative scores. Two guards keep the proof intact: (1) θ is lowered
by Σ_t min(0, min_t) — min_t the term's global minimum posting score,
stored per block at build — because a pool partial sum may EXCEED the
true score when the contributions it is missing are negative; (2) the
sweeps clamp each block bound at 0, because a doc covered by (but not
matching) a negative-bound block contributes 0, not the negative bound.
All-positive queries (every dedup-tokenizer index) hit neither guard:
adj = 0 and the clamp is a no-op. A query whose adjusted θ ≤ 0
disengages pruning (clamped UB ≥ 0 ≥ θ everywhere) — sound, just
unpruned, and only reachable with negative-idf (hyper-frequent) terms.

Repeated query tokens: the reference scores each query-token
OCCURRENCE (index.ts loops over tokens), so 'spark spark' weights
spark's contribution ×2. θ seed, adjustment, sweep bounds and phase-2
scores all scale by the occurrence count, keeping WAND rank-identical
with the plain engine path.

Why pruning bites: build/blocks.py assigns internal docids by ascending
document length, so per-block max scores DECAY along the internal axis
(BM25 with tf=1/fl is strictly decreasing in fl) and UB(d) falls below
θ outside a short low-docid prefix — classic document-reordering: the
permutation never affects results, only how many blocks survive.

Query shape: one planner (_plan) serves wand_topk, wand_topk_many and
pruning_stats. A call's cache-missing terms cost ONE Spark job: the
tagged union of their champion rows and block metadata as one ordered
top-level LIMIT (champion rows first), read through DataFrame.toArrow()
— the plan runs as one job, where a LIMIT collect() runs several.
No session conf is read or written, so concurrent queries on one
session never see each other's settings. Under DRIVER_SWEEP_MAX_BLOCKS
the whole query runs on the driver, as Orama scores in process: θ and
the sweep in numpy, then phase 2 reads the survivors' block rows in one
toArrow() (at most DRIVER_SWEEP_MAX_BLOCKS × BLOCK_SIZE postings) and
scores them per record batch with _score_postings. The result is a
local DataFrame (a LocalTableScan), so a cold query is 2 jobs, a warm
one 1, and collecting the result starts none. Over the cap the fetched
pool seeds θ and the sweep runs distributed: metadata scan → bucket
shuffle → Arrow sweep → payload join → Arrow decode+score (the same
_score_postings) → docid shuffle → top-k.

Scope: exact-term queries with threshold=1 and no filters (prefix/fuzzy
expansion makes per-token upper bounds additive across matched words and
destroys pruning power; those queries use the plain path).
"""

from __future__ import annotations

import functools
import os
from collections import Counter
from typing import Iterator, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..build.blocks import (
    BLOCKS_SCHEMA, DICTIONARY_READ_SCHEMA, POSTINGS_READ_SCHEMA,
    avgfl_per_row, bm25_scores, build_blocks, decode_blocks, idf_per_row,
    run_starts, segment_ids,
)
from ..config import IndexConfig
from ..kernel.tokenizer import Tokenizer

_SCORED_SCHEMA = "docid long, s double"
_TOPK_SCHEMA = "qid string, docid long, score double"
_CHAMPIONS_SCHEMA = "field string, term string, docid long, s double"
_SURVIVOR_SCHEMA = (
    "field string, term string, first_docid long, clip_start long, clip_end long"
)
_META_COLS = ["field", "term", "first_docid", "last_docid", "max_score", "min_score"]
_OVER_CAP = "OVER_CAP"  # metadata cache mark of a single term over the cap
_EPS = 1e-12  # relative float-jitter allowance on θ comparisons
# distributed sweep granularity: each bucket sees the block metadata
# overlapping ~1/SWEEP_BUCKETS of the internal docid span
# (~blocks_per_term / SWEEP_BUCKETS rows per term per bucket)
SWEEP_BUCKETS = 256

# champion list depth: top CHAMPION_BLOCKS blocks per (field, term) are
# decoded + scored at BUILD time into index_dir/champions, so the θ seed
# is a pushdown scan at query time instead of a window over all block
# metadata (which would shuffle ~df/128 rows per term at scale). Each
# champion block keeps only its top CHAMPION_POSTINGS_PER_BLOCK postings
# by score, bounding the champions table to ~vocab × 8 × 64 rows —
# independent of corpus size. The pool covers any k: θ is the k-th best
# partial sum over the pool — always a valid lower bound; ANY subset of
# postings yields valid (exact, partial) sums, so truncation only
# loosens θ, never breaks soundness.
CHAMPION_BLOCKS = 8
# per-block truncation knob: 128 (= BLOCK_SIZE) keeps whole champion
# blocks — measured θ on the 50k corpus tightens 3.66 → 4.48 vs
# truncating to 64, which halves pruning power; lower it only if the
# champions table (≤ vocab × CHAMPION_BLOCKS × this) needs shrinking.
CHAMPION_POSTINGS_PER_BLOCK = 128
# block metadata rows a call may sweep and score on the driver (per
# query, for wand_topk_many); over it the sweep runs distributed. Read
# at call time, so a test can force the distributed sweep by patching it.
DRIVER_SWEEP_MAX_BLOCKS = 8192
# terms each driver cache (block metadata, champion rows) may hold
# before it is cleared wholesale
METADATA_CACHE_MAX_TERMS = 4096


def _score_postings(batch, avgs: dict, n_docs: float, bm25_params,
                    clipped: bool):
    """Block rows of one Arrow batch -> per-posting (row, orig docid,
    BM25 score).

    One segmented varint decode per binary column (blocks.decode_blocks)
    and one vectorized BM25 over the whole batch; ``df`` comes off the
    block row (denormalized at build), so no dictionary join is needed.
    With ``clipped`` the row carries [clip_start, clip_end] internal
    bounds and only postings inside the clip are kept — clips from
    different buckets never overlap, so unioning their decodes never
    double-counts a posting.

    A ``wt`` column, when present, multiplies every posting score: the
    reference scores each QUERY-TOKEN OCCURRENCE (index.ts:457-592 loops
    over tokens, so 'spark spark' counts spark twice); the weighted path
    reproduces that without duplicating block rows.
    """
    post = decode_blocks(batch, internal=clipped)
    rid = post["rid"]
    idf = idf_per_row(batch.column("df").to_numpy(zero_copy_only=False), n_docs)
    avg = avgfl_per_row(batch.column("field"), avgs)
    fl = post["field_len"].astype(np.float64)
    s = bm25_scores(idf[rid], fl, post["tfn"].astype(np.float64) / fl,
                    avg[rid], bm25_params)
    if "wt" in batch.schema.names:
        s = s * batch.column("wt").to_numpy(zero_copy_only=False)[rid]
    docid = post["docid"]
    if clipped:
        internal = post["internal"]
        m = (
            (internal >= batch.column("clip_start").to_numpy(zero_copy_only=False)[rid])
            & (internal <= batch.column("clip_end").to_numpy(zero_copy_only=False)[rid])
        )
        rid, docid, s = rid[m], docid[m], s[m]
    return rid, docid, s


def _score_blocks_fn(avgs: dict, n_docs: float, bm25_params, clipped: bool):
    """mapInArrow kernel: block rows -> (orig docid, per-posting BM25
    score), one output batch per input batch (see _score_postings)."""

    def fn(batches):
        for batch in batches:
            _, docid, s = _score_postings(batch, avgs, n_docs, bm25_params, clipped)
            if len(docid):
                yield pa.record_batch(
                    [pa.array(docid), pa.array(s)], names=["docid", "s"]
                )

    return fn


def _top_per_segment(seg: np.ndarray, s: np.ndarray, docid: np.ndarray,
                     depth: int) -> np.ndarray:
    """Indices (ascending) of each segment's first ``depth`` rows by
    (s desc, docid asc) — the row_number() window over (s desc, docid
    asc). Only segments longer than ``depth`` are sorted. NaN scores
    rank first, as Spark orders NaN above every number."""
    big = np.bincount(seg, minlength=1)[seg] > depth
    if not big.any():
        return np.arange(len(seg))
    rows = np.flatnonzero(big)
    sr = s[rows]
    order = rows[np.lexsort((docid[rows], np.where(np.isnan(sr), -np.inf, -sr), seg[rows]))]
    sg = seg[order]
    first = np.flatnonzero(np.r_[True, sg[1:] != sg[:-1]])
    rank = np.arange(len(sg)) - np.repeat(first, np.diff(np.append(first, len(sg))))
    keep = ~big
    keep[order[rank < depth]] = True
    return np.flatnonzero(keep)


def _champions_fn(avgs: dict, n_docs: float, bm25_params, depth: int,
                  per_block: int):
    """mapInArrow kernel for the champion pass: candidate block rows,
    grouped by (field, term) within the task -> each term's top
    ``depth`` postings by (s desc, docid asc), every block first cut to
    its top ``per_block`` postings. Input rows of one term must be
    contiguous; output rows come grouped by term.

    Decode, score and rank happen in one pass; the term still open at
    the end of a batch is carried (already cut to ``depth`` rows — the
    top rows of a union lie in the union of the parts' top rows) and
    merged into the next batch."""

    def fn(batches):
        def emit(keys, g, docid, s):
            ga = pa.array(g)
            return pa.record_batch(
                [pa.array([k[0] for k in keys]).take(ga),
                 pa.array([k[1] for k in keys]).take(ga),
                 pa.array(docid), pa.array(s)],
                names=["field", "term", "docid", "s"],
            )

        open_key, open_docid, open_s = None, np.zeros(0, np.int64), np.zeros(0)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            rid, docid, s = _score_postings(
                batch, avgs, n_docs, bm25_params, clipped=False
            )
            keep = _top_per_segment(rid, s, docid, per_block)
            rid, docid, s = rid[keep], docid[keep], s[keep]
            f_a, t_a = batch.column("field"), batch.column("term")
            starts = run_starts(f_a, t_a)
            keys = list(zip(pc.take(f_a, pa.array(starts)).to_pylist(),
                            pc.take(t_a, pa.array(starts)).to_pylist()))
            g = segment_ids(starts, batch.num_rows)[rid]
            if open_key is not None:
                if open_key != keys[0]:
                    keys.insert(0, open_key)
                    g = g + 1
                g = np.concatenate([np.zeros(len(open_s), np.int64), g])
                docid = np.concatenate([open_docid, docid])
                s = np.concatenate([open_s, s])
            keep = _top_per_segment(g, s, docid, depth)
            g, docid, s = g[keep], docid[keep], s[keep]
            last = len(keys) - 1
            done = g < last
            if done.any():
                yield emit(keys, g[done], docid[done], s[done])
            open_key, open_docid, open_s = keys[last], docid[~done], s[~done]
        if open_key is not None and len(open_s):
            yield emit([open_key], np.zeros(len(open_s), np.int64), open_docid, open_s)

    return fn


def _sweep_keep(start: np.ndarray, end: np.ndarray, ms: np.ndarray,
                theta: float) -> np.ndarray:
    """Keep mask of the exact interval sweep, shared by the driver
    sweep and the per-bucket distributed one: intervals [start, end]
    with upper bounds ``ms``, disjoint within each term. The running
    sum of +ms at each start and −ms after each end equals UB(d) at
    every internal docid d; an interval survives iff some segment it
    overlaps has UB ≥ θ — decided with a vectorized cumulative count of
    qualifying segments. θ ≤ 0 means pruning is disengaged (fewer than
    k seed docs, or negative-idf terms): everything survives."""
    if theta <= 0.0:
        return np.ones(len(start), dtype=bool)
    # clamp at 0: a doc covered by (but not matching) a NEGATIVE-bound
    # block contributes 0 to its true score, so summing the raw negative
    # bound would UNDERcount UB and prune true hits (negative bounds
    # exist because df counts occurrences — idf < 0 when df > N)
    ms = np.maximum(ms, 0.0)
    upts, inv = np.unique(np.concatenate([start, end + 1]), return_inverse=True)
    sums = np.zeros(len(upts))
    np.add.at(sums, inv, np.concatenate([ms, -ms]))
    seg_ub = np.cumsum(sums)  # UB on [upts[i], upts[i+1])
    good = np.concatenate(([0], np.cumsum(seg_ub >= theta * (1.0 - _EPS))))
    i0 = np.searchsorted(upts, start, side="right") - 1
    i1 = np.searchsorted(upts, end, side="right") - 1
    return (good[i1 + 1] - good[i0]) > 0


def _sweep_fn(dmin: int, width: int):
    """mapInPandas kernel: per-bucket exact interval sweep over block
    metadata.

    Runs via repartition(bucket) + mapInPandas (cheaper than
    groupBy().applyInPandas — no per-group plan machinery); rows for one
    bucket always share a partition, and the kernel drains the whole
    partition before grouping so an Arrow batch split can't bisect a
    bucket. The cross-joined 1-row θ keeps the plan fully lazy. Clipped
    to the bucket, per-term intervals stay disjoint, so _sweep_keep
    applies unchanged.
    """

    def sweep_one(pdf: pd.DataFrame) -> pd.DataFrame:
        bstart = dmin + int(pdf["bucket"].iat[0]) * width
        s = np.maximum(pdf["first_docid"].to_numpy(np.int64), bstart)
        e = np.minimum(pdf["last_docid"].to_numpy(np.int64), bstart + width - 1)
        keep = _sweep_keep(s, e, pdf["max_score"].to_numpy(np.float64),
                           float(pdf["theta"].iat[0]))
        out = pdf.loc[keep, ["field", "term", "first_docid"]].copy()
        out["clip_start"] = s[keep]
        out["clip_end"] = e[keep]
        return out

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [pdf for pdf in batches if len(pdf)]
        if not parts:
            return
        whole = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        for _, g in whole.groupby("bucket", sort=False):
            out = sweep_one(g)
            if len(out):
                yield out

    return fn


def _occurrence_weights(tokens) -> dict:
    """{term: number of occurrences in the query} (module doc,
    repeated query tokens)."""
    return {t: float(n) for t, n in Counter(tokens).items()}


def _seed_theta(pool: pd.DataFrame, k: int, wts: dict) -> float:
    """The k-th best occurrence-weighted partial sum over the champion
    pool (term, docid, s); 0 — pruning off — with fewer than k docs."""
    sums = (pool["s"] * pool["term"].map(wts)).groupby(pool["docid"]).sum()
    return float(sums.nlargest(k).iloc[-1]) if len(sums) >= k else 0.0


def _by_term(df: pd.DataFrame, terms) -> dict:
    """{term: its rows of ``df``} for every term in ``terms``."""
    groups = dict(tuple(df.groupby("term", sort=False)))
    return {t: groups.get(t, df.iloc[:0]) for t in terms}


class BlockIndex:
    def __init__(self, spark: SparkSession, config: IndexConfig,
                 blocks: DataFrame, dictionary: DataFrame, stats: dict,
                 champions: DataFrame):
        self.spark = spark
        self.config = config
        self.blocks = blocks
        self.dictionary = dictionary
        self.stats = stats
        self.champions = champions
        self.tokenizer = Tokenizer(config.tokenizer)
        self._avgs = {
            f_: float(v["avg_field_length"]) for f_, v in stats["fields"].items()
        }
        self._n_docs = float(stats["docs_count"])
        # Driver-side per-term metadata + champion caches (every real
        # WAND serving system keeps posting metadata in the
        # coordinator). Sound because blocks/champions are immutable
        # for the lifetime of this instance (the build stamp checked at
        # load() invalidates on any rebuild/maintenance). Bounded:
        # wholesale-cleared past METADATA_CACHE_MAX_TERMS.
        self._meta_cache: dict = {}   # term -> pd.DataFrame(_META_COLS) | _OVER_CAP
        self._champ_cache: dict = {}  # term -> pd.DataFrame(term, docid, s)

    # ---------------------------------------------------- driver caches

    def _of_terms(self, table: DataFrame, terms) -> DataFrame:
        """Rows of ``table`` (blocks or champions) for ``terms`` in the
        searchable fields — a parquet IN pushdown on the sorted term
        column."""
        return table.where(
            F.col("term").isin(list(terms))
            & F.col("field").isin(self.config.searchable_fields)
        )

    def _term_data(self, tokens, cap: int):
        """The champion pool and block metadata of ``tokens``' terms,
        from the driver caches; the cache-missing terms cost ONE Spark
        job. Returns (pool — pd.DataFrame (term, docid, s) of champion
        postings — , pd.DataFrame of _META_COLS, or None when the terms
        have more than ``cap`` blocks).

        The fetch is the tagged union of the missing terms' champion and
        metadata rows, read through toArrow() as ONE top-k: ordered by
        the tag (champion rows first) and limited to L = cap + 1 +
        #missing champion terms × #fields × CHAMPION_BLOCKS ×
        CHAMPION_POSTINGS_PER_BLOCK. No (field, term) has more champion
        rows than that product, so every champion row comes back, and
        more than ``cap`` metadata rows come back exactly when the terms
        have more than ``cap`` blocks."""
        for cache in (self._meta_cache, self._champ_cache):
            if len(cache) > METADATA_CACHE_MAX_TERMS:
                cache.clear()
        # work on snapshots: reader threads share the caches, and one of
        # them may clear a cache between this call's fetch and its reads
        terms = list(dict.fromkeys(tokens))
        metas = {t: self._meta_cache.get(t) for t in terms}
        champs = {t: self._champ_cache.get(t) for t in terms}
        miss_m = [t for t, v in metas.items() if v is None]
        miss_c = [t for t, v in champs.items() if v is None]
        if miss_m or miss_c:
            limit = cap + 1 + (
                len(miss_c) * len(self.config.searchable_fields)
                * CHAMPION_BLOCKS * CHAMPION_POSTINGS_PER_BLOCK
            )
            null = lambda t, c: F.lit(None).cast(t).alias(c)
            parts = []
            if miss_m:
                parts.append(self._of_terms(self.blocks, miss_m).select(
                    F.lit("m").alias("side"), *_META_COLS,
                    null("long", "docid"), null("double", "s"),
                ))
            if miss_c:
                parts.append(self._of_terms(self.champions, miss_c).select(
                    F.lit("c").alias("side"), "field", "term",
                    null("long", "first_docid"), null("long", "last_docid"),
                    null("double", "max_score"), null("double", "min_score"),
                    "docid", "s",
                ))
            got = (
                functools.reduce(DataFrame.unionByName, parts)
                .orderBy("side").limit(limit).toArrow()
            )
            is_m = pc.equal(got.column("side"), "m")
            if miss_m:
                meta = got.filter(is_m).select(_META_COLS).to_pandas()
                if len(meta) > cap:
                    # the truncated sample cannot be attributed per
                    # term; the whole query goes distributed. A SINGLE
                    # over-cap term IS attributable — remember it so the
                    # same hot term doesn't re-fetch every query.
                    metas[miss_m[0]] = _OVER_CAP
                    if len(miss_m) == 1:
                        self._meta_cache[miss_m[0]] = _OVER_CAP
                else:
                    fetched = _by_term(meta, miss_m)
                    metas.update(fetched)
                    self._meta_cache.update(fetched)
            if miss_c:
                fetched = _by_term(
                    got.filter(pc.invert(is_m))
                    .select(["term", "docid", "s"]).to_pandas(),
                    miss_c,
                )
                champs.update(fetched)
                self._champ_cache.update(fetched)
        pool = pd.concat(champs.values(), ignore_index=True)
        if any(v is _OVER_CAP for v in metas.values()):
            return pool, None
        rows = pd.concat(metas.values(), ignore_index=True)
        return pool, (rows if len(rows) <= cap else None)

    # ------------------------------------------------------------ build
    @classmethod
    def build(cls, spark: SparkSession, index_dir: str, config: IndexConfig) -> "BlockIndex":
        """Materialize index_dir/blocks and index_dir/champions from
        postings + dictionary + stats.

        Exchanges, in order: the per-doc length aggregate (a hash
        exchange by (field, docid), then by docid) and its range
        exchange by (dl, docid), checkpointed once for the docmap; the
        range exchange by (field, term, internal) that feeds the block
        encoder — hot terms split by internal range; the range exchange
        of the champion-candidate blocks by (field, term) that feeds the
        one-pass champion kernel. The docmap and dictionary joins are
        broadcasts. Every table is read with its known schema."""
        import json

        # every posting shape is supported: blocks carry per-posting tf
        # numerators (tfn = tf*field_len — 1 for the deduplicating
        # tokenizer, occurrence counts under allow_duplicates, last-
        # element occurrences for string[]), and max_score is the max of
        # the EXACT per-posting scores, so the bound stays achieved and
        # pruning stays sound for all of them (build/blocks.py).
        cls._check_not_stale(index_dir)
        with open(os.path.join(index_dir, "stats.json")) as f:
            stats = json.load(f)
        # blocks/ and champions/ are two separate overwrites; a failure
        # between them would pair fresh blocks with a previous build's
        # champions (θ seeded from mismatched scores -> unsound pruning).
        # Protocol: remove the stamp FIRST, write both dirs, write the
        # stamp LAST — load() refuses whenever the stamp is absent, so a
        # torn build can never be served.
        stamp_path = os.path.join(index_dir, "blocks_build.json")
        if os.path.exists(stamp_path):
            os.remove(stamp_path)
        postings = spark.read.schema(POSTINGS_READ_SCHEMA).parquet(
            os.path.join(index_dir, "postings")
        )
        dictionary = spark.read.schema(DICTIONARY_READ_SCHEMA).parquet(
            os.path.join(index_dir, "dictionary")
        )
        blocks = build_blocks(
            postings, dictionary, stats, config.bm25,
            champion_blocks=CHAMPION_BLOCKS,
        )
        blocks.write.mode("overwrite").parquet(os.path.join(index_dir, "blocks"))
        # champion lists: per (field, term), the top CHAMPION_BLOCKS ×
        # CHAMPION_POSTINGS_PER_BLOCK POSTINGS by score, decoded + scored
        # now so queries seed θ from a small pushdown scan (instead of a
        # window over ALL block metadata, which at web scale shuffles
        # ~docfreq/128 rows per term just to pick a handful). Written in
        # (field, term) order so the query-time term IN-list prunes via
        # parquet min/max.
        #
        # The encoder marked candidate blocks per fragment (champ_rk > 0
        # = union of top-by-max_score and first-by-internal, a superset
        # of the blocks holding each term's top postings: blocks.py
        # BLOCKS_SCHEMA). Ranking at POSTING level — not block level —
        # makes θ independent of how the block grid happens to cut the
        # posting run: the r4→r5 2M rebuild showed block-level champions
        # swinging θ 6.11→3.72 purely on grid alignment, while the
        # posting-level pool reproduces the tight 6.11 deterministically.
        # The scan filter pushes down to parquet; the candidate blocks
        # (~vocab × 2·CHAMPION_BLOCKS per fragment) are range-partitioned
        # by (field, term) — all fragments of a term meet in one task —
        # and one Arrow kernel decodes, scores and keeps each term's top
        # rows. The range exchange samples the block scan, so the kernel
        # runs once.
        blocks_df = spark.read.schema(BLOCKS_SCHEMA).parquet(
            os.path.join(index_dir, "blocks")
        )
        champ_cand = (
            blocks_df.where(F.col("champ_rk") > 0)
            .select("field", "term", "orig_docids", "field_lens", "tfns", "df")
            .repartitionByRange("field", "term")
            .sortWithinPartitions("field", "term")
        )
        avgs = {f_: float(v["avg_field_length"]) for f_, v in stats["fields"].items()}
        champs = champ_cand.mapInArrow(
            _champions_fn(avgs, float(stats["docs_count"]), config.bm25,
                          depth=CHAMPION_BLOCKS * CHAMPION_POSTINGS_PER_BLOCK,
                          per_block=CHAMPION_POSTINGS_PER_BLOCK),
            _CHAMPIONS_SCHEMA,
        )
        champs.write.mode("overwrite").parquet(os.path.join(index_dir, "champions"))
        import uuid

        with open(stamp_path, "w") as f:
            json.dump(
                {"build_id": uuid.uuid4().hex, "docs_count": stats["docs_count"]}, f
            )
        return cls.load(spark, index_dir, config)

    @staticmethod
    def _check_not_stale(index_dir: str) -> None:
        """Block max_score bounds embed the build-time (df, avgfl, N):
        pending tombstones / dictionary deltas would let true scores
        exceed the stored bounds (df shrinks -> idf grows), making the
        pruning UNSOUND. Refuse, pointing at the safe path."""
        for pending in ("tombstones", "dictionary_delta"):
            if os.path.exists(os.path.join(index_dir, pending)):
                raise ValueError(
                    f"index has pending incremental {pending}; run "
                    "build.maintenance.compact() and rebuild blocks "
                    "(BlockIndex.build) before block-max WAND queries"
                )

    @classmethod
    def load(cls, spark: SparkSession, index_dir: str, config: IndexConfig) -> "BlockIndex":
        import json

        cls._check_not_stale(index_dir)
        missing = [
            p for p in ("blocks", "champions", "blocks_build.json")
            if not os.path.exists(os.path.join(index_dir, p))
        ]
        if missing:
            raise ValueError(
                f"{', '.join(missing)} missing (torn, pre-stamp or no "
                "BlockIndex.build, or a compact() invalidation); re-run "
                "BlockIndex.build()"
            )
        with open(os.path.join(index_dir, "stats.json")) as f:
            stats = json.load(f)
        read = lambda schema, name: spark.read.schema(schema).parquet(
            os.path.join(index_dir, name)
        )
        return cls(
            spark,
            config,
            blocks=read(BLOCKS_SCHEMA, "blocks"),
            dictionary=read(DICTIONARY_READ_SCHEMA, "dictionary"),
            stats=stats,
            champions=read(_CHAMPIONS_SCHEMA, "champions"),
        )

    # ----------------------------------------------------------- search
    def _plan(self, tokens, k: int, pool: pd.DataFrame, rows: pd.DataFrame):
        """Driver-side phases 0/1 of one query — the one planner behind
        wand_topk, wand_topk_many and pruning_stats. θ is the k-th best
        occurrence-weighted partial sum over the champion pool, lowered
        by the weighted negative-min adjustment; the survivors are the
        metadata rows the exact interval sweep keeps under
        occurrence-weighted bounds. ``pool`` and ``rows`` may carry
        other queries' terms (wand_topk_many); only ``tokens``' count.
        Returns (θ, survivor rows, weights — None unless a token
        repeats)."""
        wts = _occurrence_weights(tokens)
        pool = pool[pool["term"].isin(list(wts))]
        rows = rows[rows["term"].isin(list(wts))]
        w = rows["term"].map(wts).to_numpy(np.float64)
        # Σ over (field, term) of w_t · min(0, min_t) (module doc)
        adj = (
            (rows["min_score"].clip(upper=0.0) * w)
            .groupby([rows["field"], rows["term"]]).min().sum()
        )
        theta = _seed_theta(pool, k, wts) + float(adj)
        keep = _sweep_keep(
            rows["first_docid"].to_numpy(np.int64),
            rows["last_docid"].to_numpy(np.int64),
            rows["max_score"].to_numpy(np.float64) * w,
            theta,
        )
        return theta, rows[keep], (wts if max(wts.values()) > 1 else None)

    def _driver_topk(self, plans: dict, terms: list, k: int) -> pa.Table:
        """Phase 2 of driver-planned queries, on the driver: ``plans``
        maps qid -> _plan's (θ, survivors, weights); returns the Arrow
        table (qid, docid, score) of each qid's top k docs at or above
        θ, qids in ``plans`` order, each by (score DESC, docid ASC).

        The survivors' block rows come back in ONE toArrow(): the blocks
        of ``terms`` plus a first_docid bound derived from the
        survivors — an IN list when small, a min/max range otherwise
        (rows outside a qid's survivor keys are masked out either way).
        Each record batch is decoded and scored once by _score_postings
        however many queries keep its blocks; only the per-qid row mask
        and occurrence weight differ. The driver sweep keeps whole
        blocks, so no clip applies."""
        keys = ["field", "term", "first_docid"]
        surv = {
            q: pd.MultiIndex.from_frame(p[1][keys])
            for q, p in plans.items() if len(p[1])
        }
        acc = {q: ([np.zeros(0, np.int64)], [np.zeros(0)]) for q in surv}
        if surv:
            fdids = sorted({fd for ix in surv.values() for fd in ix.levels[2]})
            scan = self._of_terms(self.blocks, terms)
            if len(fdids) <= 256:
                scan = scan.where(F.col("first_docid").isin(fdids))
            else:
                scan = scan.where(F.col("first_docid").between(fdids[0], fdids[-1]))
            got = scan.select(
                *keys, "df", "orig_docids", "field_lens", "tfns"
            ).toArrow()
            for batch in got.to_batches():
                rid, docid, s = _score_postings(
                    batch, self._avgs, self._n_docs, self.config.bm25, clipped=False
                )
                rows = pd.MultiIndex.from_arrays(
                    [batch.column(c).to_numpy(zero_copy_only=False) for c in keys]
                )
                for q, ix in surv.items():
                    m = rows.isin(ix)[rid]
                    sq = s[m]
                    wts = plans[q][2]
                    if wts:
                        w = rows.get_level_values(1).map(wts).to_numpy(np.float64)
                        sq = sq * w[rid[m]]
                    acc[q][0].append(docid[m])
                    acc[q][1].append(sq)
        qid, ids, scores = [], [], []
        for q, (q_ids, q_s) in acc.items():
            uids, inv = np.unique(np.concatenate(q_ids), return_inverse=True)
            sums = np.bincount(inv, weights=np.concatenate(q_s), minlength=len(uids))
            theta = plans[q][0]
            if theta > 0.0:
                keep = sums >= theta * (1.0 - _EPS)
                uids, sums = uids[keep], sums[keep]
            order = np.lexsort((uids, -sums))[:k]
            qid += [q] * len(order)
            ids.append(uids[order])
            scores.append(sums[order])
        return pa.table({
            "qid": pa.array(qid, pa.string()),
            "docid": pa.array(np.concatenate(ids or [[]]).astype(np.int64)),
            "score": pa.array(np.concatenate(scores or [[]]).astype(np.float64)),
        })

    def _prune(self, meta: DataFrame, k: int, tokens,
               keep_ids: Optional[DataFrame] = None,
               pool: Optional[pd.DataFrame] = None) -> tuple[DataFrame, DataFrame]:
        """Distributed phases 0/1 for a query the driver does not plan
        (metadata over the cap, or a ``keep_ids`` filter): returns
        (surviving (block ⨝ clip) rows, 1-row θ frame), fully lazy.

        θ is seeded from ``pool``, the champion rows _term_data already
        fetched for this query; with ``keep_ids``, from a lazy scan of
        the query's champion rows semi-joined to the filter, so θ
        lower-bounds the k-th FILTERED score. Either way it is lowered by
        the negative-min adjustment, aggregated lazily over ``meta``."""
        wts = _occurrence_weights(tokens)
        weighted = max(wts.values()) > 1
        if weighted:
            # `meta` comes from an isin() that dedupes terms: an
            # occurrence-count `wt` column scales the sweep bounds, θ
            # seed, adjustment and phase-2 scores (module doc)
            wdf = F.broadcast(
                self.spark.createDataFrame(list(wts.items()), "term string, wt double")
            )
            meta = meta.join(wdf, "term")
        wt_col = F.col("wt") if weighted else F.lit(1.0)
        adj_df = (
            meta.groupBy("field", "term")
            .agg(F.min("min_score").alias("_mn"), F.first(wt_col).alias("_w"))
            .agg(
                F.coalesce(
                    F.sum(F.least(F.lit(0.0), F.col("_mn")) * F.col("_w")),
                    F.lit(0.0),
                ).alias("adj")
            )
        )
        if keep_ids is None:
            seed = self.spark.createDataFrame(
                [(_seed_theta(pool, k, wts),)], "theta double"
            )
        else:
            champ = self._of_terms(self.champions, tokens)
            if weighted:
                champ = champ.join(wdf, "term")
            seed = (
                champ.select("docid", (F.col("s") * wt_col).alias("s"))
                .join(keep_ids, "docid", "left_semi")
                .groupBy("docid")
                .agg(F.sum("s").alias("ps"))
                .orderBy(F.desc("ps"), F.asc("docid"))
                .limit(k)
                .agg(
                    F.when(F.count("*") >= k, F.min("ps"))
                    .otherwise(F.lit(0.0))
                    .alias("theta")
                )
            )
        theta_df = F.broadcast(
            seed.crossJoin(adj_df)
            .select((F.col("theta") + F.col("adj")).alias("theta"))
        )

        # phase 1: bucketed docid-aligned sweep over block metadata.
        # Internal ids are a dense 0-based rank (blocks.py), so the span
        # comes from stats — no extra job.
        dmin, dmax = 0, max(0, int(self.stats["docs_count"]) - 1)
        width = max(1, -(-(dmax - dmin + 1) // SWEEP_BUCKETS))
        bucket_of = lambda c: F.floor((c - F.lit(dmin)) / F.lit(width)).cast("long")
        sweep_parts = max(
            1, min(SWEEP_BUCKETS, self.spark.sparkContext.defaultParallelism)
        )
        exploded = (
            meta.select(
                "field", "term", "first_docid", "last_docid",
                (F.col("max_score") * wt_col).alias("max_score"),
                F.explode(
                    F.sequence(
                        bucket_of(F.col("first_docid")),
                        bucket_of(F.col("last_docid")),
                    )
                ).alias("bucket"),
            )
            .crossJoin(theta_df)
            .repartition(sweep_parts, "bucket")
        )
        survivors = exploded.mapInPandas(_sweep_fn(dmin, width), _SURVIVOR_SCHEMA)
        # inner join (not semi): a block surviving in several buckets
        # contributes one row per clip; clips never overlap, so phase 2
        # decodes each posting at most once — no dedup shuffle needed.
        kept = meta.join(survivors, ["field", "term", "first_docid"])
        return kept, theta_df

    def wand_topk(self, term: str, k: int = 10,
                  keep_ids: Optional[DataFrame] = None) -> DataFrame:
        """Exact-term BM25 top-k via docid-aligned block-max pruning.
        Returns (docid, score) rank-identical with the plain engine path
        (original docids; ties broken by docid asc, like the plain sort).

        Without ``keep_ids`` the call fetches the query's champion pool
        and block metadata EAGERLY (_term_data: one Spark job for
        cache-missing terms, none when warm). Under
        DRIVER_SWEEP_MAX_BLOCKS it then runs phase 2 on the driver too
        (_driver_topk: one more job) and returns the page as a local
        DataFrame — a cold query is 2 jobs, a warm one 1, and the
        caller's collect starts none (the r4 scale leg showed fixed
        multi-job orchestration was the only thing keeping WAND behind
        the plain path). Over the cap it returns the distributed sweep
        seeded from the same pool, lazily. With ``keep_ids`` the whole
        query is one lazy plan.

        ``keep_ids`` (one column ``docid``): a pre-computed doc filter
        (where-clause mask or the exact-mode case-sensitive post-filter,
        search-fulltext.ts:88-115). It is applied to the seed candidates
        — so θ lower-bounds the k-th FILTERED score — and to phase 2;
        the pruning proof is unchanged since filtering only removes
        docs."""
        tokens = self.tokenizer.tokenize(term)
        if not tokens:
            return self.spark.createDataFrame([], "docid long, score double")
        pool = None
        if keep_ids is None:
            pool, rows = self._term_data(tokens, DRIVER_SWEEP_MAX_BLOCKS)
            if rows is not None:
                top = self._driver_topk(
                    {"": self._plan(tokens, k, pool, rows)},
                    list(dict.fromkeys(tokens)), k,
                )
                return self.spark.createDataFrame(
                    top.select(["docid", "score"]), "docid long, score double"
                )

        meta = self._of_terms(self.blocks, tokens)
        kept, theta_df = self._prune(meta, k, tokens, keep_ids, pool)

        # phase 2: decode + score surviving clips only
        scored = kept.mapInArrow(
            _score_blocks_fn(self._avgs, self._n_docs, self.config.bm25, clipped=True),
            _SCORED_SCHEMA,
        )
        if keep_ids is not None:
            scored = scored.join(keep_ids, "docid", "left_semi")
        scored = (
            scored.groupBy("docid")
            .agg(F.sum("s").alias("score"))
            .crossJoin(theta_df)
            .where(
                (F.col("theta") <= 0.0)
                | (F.col("score") >= F.col("theta") * (1.0 - _EPS))
            )
            .select("docid", "score")
        )
        return scored.orderBy(F.desc("score"), F.asc("docid")).limit(k)

    def wand_topk_many(self, queries: dict, k: int = 10) -> DataFrame:
        """Batched exact-term BM25 top-k over N queries: ONE fetch of
        the batch's champion rows and block metadata, the planner per
        query, and ONE fetch of the survivors' blocks, each decoded and
        scored on the driver once however many queries keep it. Single-query
        ``wand_topk`` pays its fixed job latency per query — on short
        queries that overhead dominates the 50-100x posting-decode
        savings pruning buys (SCALE_r04 measured latency parity vs the
        plain path at 2M docs despite a 98% block-prune rate). Batching
        amortizes the fixed jobs across the whole workload, which is
        also the realistic serving shape (queries arrive in batches).

        ``queries``: {qid: term_text}. Returns (qid, docid, score) as a
        local DataFrame ordered by qid, then score DESC, docid ASC —
        per-qid rank-identical with ``wand_topk`` (same planner, same
        scorer). Falls back to unioned per-query ``wand_topk`` when the
        batch's block metadata exceeds
        ``DRIVER_SWEEP_MAX_BLOCKS * len(queries)``.
        """
        texts = {str(qid): text for qid, text in dict(queries).items()}
        qtoks = {q: self.tokenizer.tokenize(text) for q, text in texts.items()}
        qtoks = {q: toks for q, toks in qtoks.items() if toks}
        if not qtoks:
            return self.spark.createDataFrame([], _TOPK_SCHEMA)
        terms = sorted({t for toks in qtoks.values() for t in toks})
        pool, rows = self._term_data(terms, DRIVER_SWEEP_MAX_BLOCKS * len(qtoks))
        if rows is None:
            return functools.reduce(DataFrame.unionByName, [
                self.wand_topk(texts[q], k=k).select(
                    F.lit(q).alias("qid"), "docid", "score"
                )
                for q in qtoks
            ])
        plans = {q: self._plan(qtoks[q], k, pool, rows) for q in sorted(qtoks)}
        return self.spark.createDataFrame(
            self._driver_topk(plans, terms, k), _TOPK_SCHEMA
        )

    def pruning_stats(self, term: str, k: int = 10) -> dict:
        """Diagnostics: how many of the query's blocks the sweep keeps,
        and θ. Under DRIVER_SWEEP_MAX_BLOCKS this is the planner's own
        answer — no Spark job beyond the _term_data fetch, and no block
        payload is read; over it the distributed sweep is run and
        counted."""
        tokens = self.tokenizer.tokenize(term)
        if not tokens:
            return {"blocks_total": 0, "blocks_kept": 0, "theta": 0.0}
        pool, rows = self._term_data(tokens, DRIVER_SWEEP_MAX_BLOCKS)
        if rows is not None:
            theta, surv, _ = self._plan(tokens, k, pool, rows)
            return {"blocks_total": len(rows), "blocks_kept": len(surv),
                    "theta": theta}
        meta = self._of_terms(self.blocks, tokens).persist()
        try:
            kept, theta_df = self._prune(meta, k, tokens, pool=pool)
            return {
                "blocks_total": meta.count(),
                "blocks_kept": kept.select("field", "term", "first_docid")
                .dropDuplicates().count(),
                "theta": float(theta_df.first()["theta"]),
            }
        finally:
            meta.unpersist()
