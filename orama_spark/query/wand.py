"""Block-max WAND top-k over the compressed posting-block layout
(SURVEY §4 item 2 — the custom query-side pruning Catalyst can't do).

Distributed, exact w.r.t. the plain path (rank-identical top-k), built
on the length-ordered internal docid space from build/blocks.py:

  phase 0   seed θ from the CANDIDATE BLOCKS the encoder marked
            (champ_rk > 0, blocks.py): per (field, term) fragment the
            top CHAMPION_BLOCKS blocks by max_score and the first
            CHAMPION_BLOCKS in internal order. Block bounds are
            ACHIEVED and scores decay along the length-ordered internal
            axis, so these blocks hold each term's top postings. θ is
            the k-th best PARTIAL BM25 sum over the query terms'
            candidate postings, decoded and scored by _score_postings.
            Partial sums are exact non-negative contributions, so
            partial ≤ true and k real docs attain ≥ θ: a valid lower
            bound of the true k-th score. Length-ordering means every
            term's candidate blocks hold the same shortest docs, so
            multi-term docs get near-complete seed sums and θ is tight.
            The pool is bounded by the QUERY (≤ 2 × CHAMPION_BLOCKS ×
            BLOCK_SIZE postings per term fragment), not the corpus:
            under DRIVER_SWEEP_MAX_BLOCKS the driver decodes it from the
            block rows it fetches anyway; over the cap, or with a
            keep_ids filter, θ is a lazy aggregate over the same blocks
            so the semi-join runs distributed.
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
pruning_stats. A call's cache-missing terms cost ONE Spark job: their
block rows as one top-level LIMIT, read through DataFrame.toArrow(),
every row with its metadata and only candidate rows with their payload.
No session conf is read or written, so concurrent queries on one
session never see each other's settings. Under DRIVER_SWEEP_MAX_BLOCKS
the whole query runs on the driver, as Orama scores in process: θ and
the sweep in numpy, then phase 2 reads the survivors' block rows in one
toArrow() (at most DRIVER_SWEEP_MAX_BLOCKS × BLOCK_SIZE postings) and
scores them per record batch with _score_postings. The result is a
local DataFrame (a LocalTableScan), so a cold query is 2 jobs, a warm
one 1, and collecting the result starts none. Over the cap the whole
query is one lazy plan: candidate blocks → Arrow decode+score → θ;
metadata scan → bucket shuffle → Arrow sweep → payload join → Arrow
decode+score (the same _score_postings) → docid shuffle → top-k.

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
    avgfl_per_row, bm25_scores, build_blocks, decode_blocks, idf_per_row,
)
from ..build.indexer import BUILD_STAGES
from ..build.maintenance import pending_tables
from ..build.manifest import BuildManifest, read_table
from ..config import IndexConfig
from ..kernel.tokenizer import Tokenizer

_SCORED_SCHEMA = "docid long, s double"
_TOPK_SCHEMA = "qid string, docid long, score double"
_SURVIVOR_SCHEMA = (
    "field string, term string, first_docid long, clip_start long, clip_end long"
)
_META_COLS = ["field", "term", "first_docid", "last_docid", "max_score", "min_score"]
# the block columns _score_postings reads besides ``field``; the driver
# fetch fills them on candidate blocks only
_SEED_COLS = ["df", "orig_docids", "field_lens", "tfns"]
_OVER_CAP = "OVER_CAP"  # cache mark of a single term over the cap
_EPS = 1e-12  # relative float-jitter allowance on θ comparisons
# distributed sweep granularity: each bucket sees the block metadata
# overlapping ~1/SWEEP_BUCKETS of the internal docid span
# (~blocks_per_term / SWEEP_BUCKETS rows per term per bucket)
SWEEP_BUCKETS = 256

# block metadata rows a call may sweep and score on the driver (per
# query, for wand_topk_many); over it the sweep runs distributed. Read
# at call time, so a test can force the distributed sweep by patching it.
DRIVER_SWEEP_MAX_BLOCKS = 8192
# terms the driver cache (block metadata and θ-seed pool) may hold
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
    """The k-th best occurrence-weighted partial sum over the θ-seed
    pool (term, docid, s); 0 — pruning off — with fewer than k docs."""
    sums = (pool["s"] * pool["term"].map(wts)).groupby(pool["docid"]).sum()
    return float(sums.nlargest(k).iloc[-1]) if len(sums) >= k else 0.0


def _by_term(df: pd.DataFrame, terms) -> dict:
    """{term: its rows of ``df``} for every term in ``terms``."""
    groups = dict(tuple(df.groupby("term", sort=False)))
    return {t: groups.get(t, df.iloc[:0]) for t in terms}


class BlockIndex:
    def __init__(self, spark: SparkSession, config: IndexConfig,
                 blocks: DataFrame, stats: dict):
        self.spark = spark
        self.config = config
        self.blocks = blocks
        self.stats = stats
        self.tokenizer = Tokenizer(config.tokenizer)
        self._avgs = {
            f_: float(v["avg_field_length"]) for f_, v in stats["fields"].items()
        }
        self._n_docs = float(stats["docs_count"])
        # Driver-side per-term cache of block metadata and θ-seed pool
        # (every real WAND serving system keeps posting metadata in the
        # coordinator). Sound because blocks are immutable for the
        # lifetime of this instance (the manifest check at load()
        # invalidates on any rebuild/maintenance). Bounded: wholesale-
        # cleared past METADATA_CACHE_MAX_TERMS.
        self._cache: dict = {}  # term -> (metadata rows, pool rows) | _OVER_CAP

    # ---------------------------------------------------- driver cache

    def _of_terms(self, table: DataFrame, terms) -> DataFrame:
        """Block rows of ``terms`` in the searchable fields — a parquet
        IN pushdown on the sorted term column."""
        return table.where(
            F.col("term").isin(list(terms))
            & F.col("field").isin(self.config.searchable_fields)
        )

    def _seed_pool(self, got: pa.Table) -> pd.DataFrame:
        """(term, docid, s) of every posting of the candidate rows of
        ``got`` (the rows whose seed columns are filled)."""
        cand = got.filter(pc.is_valid(got.column("df"))).combine_chunks()
        if cand.num_rows == 0:
            return pd.DataFrame({"term": np.zeros(0, object),
                                 "docid": np.zeros(0, np.int64), "s": np.zeros(0)})
        batch = cand.to_batches()[0]
        rid, docid, s = _score_postings(
            batch, self._avgs, self._n_docs, self.config.bm25, clipped=False
        )
        terms = batch.column("term").to_numpy(zero_copy_only=False)
        return pd.DataFrame({"term": terms[rid], "docid": docid, "s": s})

    def _term_data(self, tokens, cap: int):
        """The θ-seed pool and block metadata of ``tokens``' terms, from
        the driver cache; the cache-missing terms cost ONE Spark job.
        Returns (pool — pd.DataFrame (term, docid, s) of candidate-block
        postings — , pd.DataFrame of _META_COLS), or None when the terms
        have more than ``cap`` blocks.

        The fetch reads the missing terms' block rows with one
        limit(cap + 1).toArrow(): more than ``cap`` rows come back
        exactly when the terms have more than ``cap`` blocks. Every row
        carries its metadata; the _SEED_COLS are filled only on
        candidate blocks (champ_rk > 0), which the driver decodes and
        scores into the pool."""
        if len(self._cache) > METADATA_CACHE_MAX_TERMS:
            self._cache.clear()
        # work on a snapshot: reader threads share the cache, and one of
        # them may clear it between this call's fetch and its reads
        data = {t: self._cache.get(t) for t in dict.fromkeys(tokens)}
        if any(v is _OVER_CAP for v in data.values()):
            return None
        miss = [t for t, v in data.items() if v is None]
        if miss:
            cand = F.col("champ_rk") > 0
            got = self._of_terms(self.blocks, miss).select(
                *_META_COLS, *(F.when(cand, F.col(c)).alias(c) for c in _SEED_COLS)
            ).limit(cap + 1).toArrow()
            if got.num_rows > cap:
                # the truncated sample cannot be attributed per term;
                # the whole query goes distributed. A SINGLE over-cap
                # term IS attributable — remember it so the same hot
                # term doesn't re-fetch every query.
                if len(miss) == 1:
                    self._cache[miss[0]] = _OVER_CAP
                return None
            metas = _by_term(got.select(_META_COLS).to_pandas(), miss)
            pools = _by_term(self._seed_pool(got), miss)
            fetched = {t: (metas[t], pools[t]) for t in miss}
            data.update(fetched)
            self._cache.update(fetched)
        rows = pd.concat([v[0] for v in data.values()], ignore_index=True)
        if len(rows) > cap:
            return None
        return pd.concat([v[1] for v in data.values()], ignore_index=True), rows

    # ------------------------------------------------------------ build
    @classmethod
    def build(cls, spark: SparkSession, index_dir: str, config: IndexConfig) -> "BlockIndex":
        """Materialize index_dir/blocks from postings + docmeta +
        dictionary + stats, as the manifest's ``blocks`` stage under
        the ``stats`` entry's fingerprint. Refuses unless every
        IndexBuilder stage is complete under that fingerprint: a build
        torn part-way leaves tables of two corpora side by side.

        Exchanges, in order: the per-doc length sum over docmeta (a
        hash exchange by docid) and its range exchange by (dl, docid),
        checkpointed once for the docmap; the range exchange by
        (field, term, internal) that feeds the block encoder — hot
        terms split by internal range. The docmap and dictionary joins
        are broadcasts. Every table is read with its stored schema
        (``read_table``: no schema-inference job).

        The blocks/ overwrite is not atomic: a failure part-way would
        leave blocks from two builds (bounds and θ seeds of mixed
        statistics -> unsound pruning). So the ``blocks`` entry is
        dropped FIRST and recorded only after the write completes;
        load() refuses without it, so a torn build is never served."""
        import json

        # every posting shape is supported: blocks carry per-posting tf
        # numerators (tfn = tf*field_len — 1 for the deduplicating
        # tokenizer, occurrence counts under allow_duplicates, last-
        # element occurrences for string[]), and max_score is the max of
        # the EXACT per-posting scores, so the bound stays achieved and
        # pruning stays sound for all of them (build/blocks.py).
        cls._check_not_stale(index_dir)
        manifest = BuildManifest.load(index_dir)
        stats_fp = manifest.entries.get("stats", {}).get("fingerprint")
        if not all(manifest.is_complete(stage, stats_fp) for stage in BUILD_STAGES):
            raise ValueError(
                f"{index_dir} does not hold one complete index build; build it "
                "with IndexBuilder.build (or restore it) before BlockIndex.build"
            )
        with open(os.path.join(index_dir, "stats.json")) as f:
            stats = json.load(f)
        manifest.forget("blocks")
        postings, dictionary, docmeta = (
            read_table(spark, os.path.join(index_dir, t)) for t in ("postings", "dictionary", "docmeta")
        )
        blocks = build_blocks(postings, docmeta, dictionary, stats, config.bm25)
        manifest.write_table("blocks", stats_fp, blocks)
        return cls.load(spark, index_dir, config)

    @staticmethod
    def _check_not_stale(index_dir: str) -> None:
        """Block max_score bounds embed the build-time (df, avgfl, N):
        pending incremental maintenance would let true scores exceed the
        stored bounds (df shrinks -> idf grows), making the pruning
        UNSOUND. Refuse, pointing at the safe path."""
        pending = pending_tables(index_dir)
        if pending:
            raise ValueError(
                f"index has pending incremental {' and '.join(pending)}; run "
                "build.maintenance.compact() and rebuild blocks "
                "(BlockIndex.build) before block-max WAND queries"
            )

    @classmethod
    def load(cls, spark: SparkSession, index_dir: str, config: IndexConfig) -> "BlockIndex":
        """The blocks of ``index_dir``, served only when the manifest
        records a complete ``blocks`` stage under the ``stats`` entry's
        fingerprint: a rebuild, a compact() or a torn build leaves none."""
        import json

        cls._check_not_stale(index_dir)
        manifest = BuildManifest.load(index_dir)
        stats_fp = manifest.entries.get("stats", {}).get("fingerprint")
        if not manifest.is_complete("blocks", stats_fp):
            raise ValueError(
                "blocks are not current (torn, never built, built before the "
                "last index build, or invalidated by compact()); re-run "
                "BlockIndex.build()"
            )
        with open(os.path.join(index_dir, "stats.json")) as f:
            stats = json.load(f)
        blocks = read_table(spark, os.path.join(index_dir, "blocks"))
        return cls(spark, config, blocks=blocks, stats=stats)

    # ----------------------------------------------------------- search
    def _plan(self, tokens, k: int, pool: pd.DataFrame, rows: pd.DataFrame):
        """Driver-side phases 0/1 of one query — the one planner behind
        wand_topk, wand_topk_many and pruning_stats. θ is the k-th best
        occurrence-weighted partial sum over the θ-seed pool, lowered
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
               keep_ids: Optional[DataFrame] = None) -> tuple[DataFrame, DataFrame]:
        """Distributed phases 0/1 for a query the driver does not plan
        (metadata over the cap, or a ``keep_ids`` filter): returns
        (surviving (block ⨝ clip) rows, 1-row θ frame), fully lazy.

        θ is seeded from the candidate blocks (champ_rk > 0) of
        ``meta``, scored by _score_blocks_fn — semi-joined to
        ``keep_ids`` when one is given, so θ lower-bounds the k-th
        FILTERED score — and lowered by the negative-min adjustment,
        aggregated lazily over ``meta``."""
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
        seed = (
            meta.where(F.col("champ_rk") > 0)
            .select("field", *_SEED_COLS, *(["wt"] if weighted else []))
            .mapInArrow(
                _score_blocks_fn(self._avgs, self._n_docs, self.config.bm25,
                                 clipped=False),
                _SCORED_SCHEMA,
            )
        )
        if keep_ids is not None:
            seed = seed.join(keep_ids, "docid", "left_semi")
        seed = (
            seed.groupBy("docid")
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

        Without ``keep_ids`` the call fetches the query's θ-seed pool
        and block metadata EAGERLY (_term_data: one Spark job for
        cache-missing terms, none when warm). Under
        DRIVER_SWEEP_MAX_BLOCKS it then runs phase 2 on the driver too
        (_driver_topk: one more job) and returns the page as a local
        DataFrame — a cold query is 2 jobs, a warm one 1, and the
        caller's collect starts none (the r4 scale leg showed fixed
        multi-job orchestration was the only thing keeping WAND behind
        the plain path). Over the cap it returns the distributed plan,
        θ seeded lazily from the same candidate blocks. With
        ``keep_ids`` the whole query is one lazy plan.

        ``keep_ids`` (one column ``docid``): a pre-computed doc filter
        (where-clause mask or the exact-mode case-sensitive post-filter,
        search-fulltext.ts:88-115). It is applied to the seed candidates
        — so θ lower-bounds the k-th FILTERED score — and to phase 2;
        the pruning proof is unchanged since filtering only removes
        docs."""
        tokens = self.tokenizer.tokenize(term)
        if not tokens:
            return self.spark.createDataFrame([], "docid long, score double")
        if keep_ids is None:
            data = self._term_data(tokens, DRIVER_SWEEP_MAX_BLOCKS)
            if data is not None:
                top = self._driver_topk(
                    {"": self._plan(tokens, k, *data)},
                    list(dict.fromkeys(tokens)), k,
                )
                return self.spark.createDataFrame(
                    top.select(["docid", "score"]), "docid long, score double"
                )

        meta = self._of_terms(self.blocks, tokens)
        kept, theta_df = self._prune(meta, k, tokens, keep_ids)

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
        the batch's block rows (metadata and θ-seed pool), the planner per
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
        data = self._term_data(terms, DRIVER_SWEEP_MAX_BLOCKS * len(qtoks))
        if data is None:
            return functools.reduce(DataFrame.unionByName, [
                self.wand_topk(texts[q], k=k).select(
                    F.lit(q).alias("qid"), "docid", "score"
                )
                for q in qtoks
            ])
        plans = {q: self._plan(qtoks[q], k, *data) for q in sorted(qtoks)}
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
        data = self._term_data(tokens, DRIVER_SWEEP_MAX_BLOCKS)
        if data is not None:
            theta, surv, _ = self._plan(tokens, k, *data)
            return {"blocks_total": len(data[1]), "blocks_kept": len(surv),
                    "theta": theta}
        meta = self._of_terms(self.blocks, tokens).persist()
        try:
            kept, theta_df = self._prune(meta, k, tokens)
            return {
                "blocks_total": meta.count(),
                "blocks_kept": kept.select("field", "term", "first_docid")
                .dropDuplicates().count(),
                "theta": float(theta_df.first()["theta"]),
            }
        finally:
            meta.unpersist()
