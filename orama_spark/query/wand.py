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
            computes θ with one bounded collect (the same class as the
            engine's top-k collects) and re-injects it as a 1-row local
            broadcast frame; with a keep_ids filter θ stays a fully lazy
            aggregate so the semi-join runs distributed.
  phase 1   docid-aligned pruning: per internal docid d the score of d
            is bounded by UB(d) = Σ_t ms_t(d), where ms_t(d) is the
            max_score of the unique block of term t covering d (blocks
            of one term are disjoint internal ranges). A (block, bucket)
            cell survives iff max_{d∈clip} UB(d) ≥ θ, where clip is the
            block's intersection with a coarse internal-range bucket.
            Computed as a bucketed interval sweep: block METADATA (no
            binary payload) explodes to its buckets — one tiny shuffle —
            and each bucket runs an exact local event sweep (clipping
            makes buckets independent — no cross-bucket state).
            Survivor cells come back as (block key, clip range) and
            equi-join the block payloads. No candidate-docid broadcast,
            no nested-loop join, nothing driver-side at all.
  phase 2   decode ONLY surviving clips (clips never overlap, so no
            dedup shuffle), score inside the same Arrow kernel (df is
            denormalized onto block rows — no dictionary join), exact
            BM25 sums per original docid, drop docs below θ,
            TakeOrdered k.

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

Why pruning bites: build/blocks.py assigns internal docids by ascending
document length, so per-block max scores DECAY along the internal axis
(BM25 with tf=1/fl is strictly decreasing in fl) and UB(d) falls below
θ outside a short low-docid prefix — classic document-reordering: the
permutation never affects results, only how many blocks survive.

Query shape: champions scan (θ, one bounded collect) → metadata scan →
bucket shuffle → Arrow sweep → payload join → Arrow decode+score →
docid shuffle → top-k. Every Python stage is an Arrow-batched kernel
over numpy arrays; the only driver action is the query-bounded θ pool.

Scope: exact-term queries with threshold=1 and no filters (prefix/fuzzy
expansion makes per-token upper bounds additive across matched words and
destroys pruning power; those queries use the plain path).
"""

from __future__ import annotations

import os
import threading
from typing import Iterator, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..build.blocks import (
    BLOCK_SIZE, BLOCKS_SCHEMA, DICTIONARY_READ_SCHEMA, POSTINGS_READ_SCHEMA,
    avgfl_per_row, bm25_for_fl, bm25_scores, build_blocks, decode_blocks,
    idf_per_row, run_starts, segment_ids, varint_decode,
)
from ..config import IndexConfig
from ..kernel.tokenizer import Tokenizer

_SCORED_SCHEMA = "docid long, s double"
_CHAMPIONS_SCHEMA = "field string, term string, docid long, s double"
_SURVIVOR_SCHEMA = (
    "field string, term string, first_docid long, clip_start long, clip_end long"
)
_KEPT_EMPTY_SCHEMA = (
    "field string, term string, first_docid long, last_docid long, "
    "block_id int, n int, docid_deltas binary, orig_docids binary, "
    "field_lens binary, tfns binary, max_score double, min_score double, "
    "df long, clip_start long, clip_end long"
)
_EPS = 1e-12  # relative float-jitter allowance on θ comparisons
# serializes the session-conf toggle around cold metadata fetches (the
# toggle is session-global; concurrent queries must not see it)
_COLD_FETCH_LOCK = threading.Lock()

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


def _fused_topk_fn(avgs: dict, n_docs: float, bm25_params,
                   survmaps: dict, thetas: dict, wts: dict,
                   k: Optional[int] = None):
    """Arrow kernel for the FUSED driver-sweep phase 2 (r5): decode +
    score + per-doc aggregate + θ filter in ONE task. The survivor clip
    map, θ and occurrence weights are driver-side closures, so the
    whole phase is a single coalesce(1) scan job — no broadcast-join /
    repartition / groupBy exchanges for AQE to materialize as separate
    jobs (the r4 scale profile showed ~2.5 s of fixed multi-job driver
    latency dominating short queries).

    ``survmaps``: {qid: {(field, term, first_docid): (clip_s, clip_e)}};
    ``thetas``: {qid: θ}; ``wts``: {qid: {term: occurrence_weight}}.
    Single-query callers pass one qid=None entry and get (docid, score);
    batch callers get (qid, docid, score) with per-qid top-k (by
    ``k``) emitted in rank order. Each block row is DECODED ONCE even
    when several queries keep it — only the clip mask and weight differ
    per query."""
    batched = not (len(survmaps) == 1 and None in survmaps)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc_ids: dict = {q: [] for q in survmaps}
        acc_s: dict = {q: [] for q in survmaps}
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                key = (r.field, r.term, r.first_docid)
                hit_qids = [q for q, sm in survmaps.items() if key in sm]
                if not hit_qids:
                    continue
                deltas = varint_decode(bytes(r.docid_deltas)).astype(np.int64)
                internal = r.first_docid + np.concatenate(
                    ([0], np.cumsum(deltas[1:]))
                )
                origs = varint_decode(bytes(r.orig_docids)).astype(np.int64)
                fls = varint_decode(bytes(r.field_lens)).astype(np.float64)
                raw_t = bytes(r.tfns or b"")
                tfns = (
                    varint_decode(raw_t).astype(np.float64) if raw_t else None
                )
                s_all = bm25_for_fl(
                    fls, float(r.df), n_docs, avgs[r.field], bm25_params,
                    tfn=tfns,
                )
                for q in hit_qids:
                    cs, ce = survmaps[q][key]
                    m = (internal >= cs) & (internal <= ce)
                    if not m.all():
                        o, s = origs[m], s_all[m]
                    else:
                        o, s = origs, s_all
                    if len(o) == 0:
                        continue
                    w = wts.get(q, {}).get(r.term)
                    acc_ids[q].append(o)
                    acc_s[q].append(s * w if w is not None else s)
        outs = []
        for q in survmaps:
            if not acc_ids[q]:
                continue
            ids = np.concatenate(acc_ids[q])
            ss = np.concatenate(acc_s[q])
            uids, inv = np.unique(ids, return_inverse=True)
            sums = np.zeros(len(uids))
            np.add.at(sums, inv, ss)
            theta = thetas[q]
            if theta > 0.0:
                keep = sums >= theta * (1.0 - _EPS)
                uids, sums = uids[keep], sums[keep]
            if len(uids) == 0:
                continue
            if batched and k is not None and len(uids) > 0:
                order = np.lexsort((uids, -sums))[:k]
                uids, sums = uids[order], sums[order]
            if batched:
                outs.append(pd.DataFrame(
                    {"qid": np.full(len(uids), q, dtype=object),
                     "docid": uids, "score": sums}
                ))
            else:
                outs.append(pd.DataFrame({"docid": uids, "score": sums}))
        if outs:
            yield pd.concat(outs, ignore_index=True)

    return fn


def _sweep_fn(dmin: int, width: int):
    """Arrow kernel: per-bucket exact interval sweep over block metadata.

    Runs via repartition(bucket) + mapInPandas (cheaper than
    groupBy().applyInPandas — no per-group plan machinery); rows for one
    bucket always share a partition, and the kernel drains the whole
    partition before grouping so an Arrow batch split can't bisect a
    bucket. The cross-joined 1-row θ keeps the plan fully lazy; θ <= 0
    means pruning is disengaged (fewer than k seed docs): every cell
    survives with its full clip.

    Clipped to the bucket, per-term intervals stay disjoint, so the
    running sum of +max_score at each open and −max_score after each
    close equals UB(d) exactly at every internal docid in the bucket.
    A cell survives iff any segment it overlaps has UB ≥ θ — decided
    with a vectorized cumulative count of qualifying segments.
    """

    def sweep_one(pdf: pd.DataFrame) -> pd.DataFrame:
        theta = float(pdf["theta"].iat[0])
        bucket = int(pdf["bucket"].iat[0])
        bstart = dmin + bucket * width
        bend = bstart + width - 1
        first = pdf["first_docid"].values.astype(np.int64)
        last = pdf["last_docid"].values.astype(np.int64)
        s = np.maximum(first, bstart)
        e = np.minimum(last, bend)
        if theta <= 0.0:
            keep = np.ones(len(first), dtype=bool)
        else:
            thr = theta * (1.0 - _EPS)
            # clamp at 0: a doc covered by (but not matching) a
            # NEGATIVE-bound block contributes 0 to its true score, so
            # summing the raw negative bound would UNDERcount UB and
            # prune true hits (negative bounds exist because df counts
            # occurrences — idf < 0 when df > N)
            ms = np.maximum(pdf["max_score"].values.astype(np.float64), 0.0)
            pts = np.concatenate([s, e + 1])
            deltas = np.concatenate([ms, -ms])
            upts, inv = np.unique(pts, return_inverse=True)
            sums = np.zeros(len(upts))
            np.add.at(sums, inv, deltas)
            seg_ub = np.cumsum(sums)  # UB on [upts[i], upts[i+1])
            good = np.concatenate(([0], np.cumsum(seg_ub >= thr)))
            i0 = np.searchsorted(upts, s, side="right") - 1
            i1 = np.searchsorted(upts, e, side="right") - 1
            keep = (good[i1 + 1] - good[i0]) > 0
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


class BlockIndex:
    def __init__(self, spark: SparkSession, config: IndexConfig,
                 blocks: DataFrame, dictionary: DataFrame, stats: dict,
                 champions: Optional[DataFrame] = None,
                 sweep_buckets: int = 256,
                 driver_sweep_max_blocks: int = 8192):
        self.spark = spark
        self.config = config
        self.blocks = blocks
        self.dictionary = dictionary
        self.stats = stats
        self.champions = champions
        self.driver_sweep_max_blocks = driver_sweep_max_blocks
        self.tokenizer = Tokenizer(config.tokenizer)
        # Driver-side per-term metadata + champion caches (every real
        # WAND serving system keeps posting metadata in the
        # coordinator). Sound because blocks/champions are immutable
        # for the lifetime of this instance (the build stamp checked at
        # load() invalidates on any rebuild/maintenance). Bounded:
        # wholesale-cleared past metadata_cache_max_terms.
        self.metadata_cache_max_terms = 4096
        self._meta_cache: dict = {}   # term -> list[dict] | "OVER_CAP"
        self._champ_cache: dict = {}  # term -> pd.DataFrame(term,docid,s)
        # sweep granularity: each bucket sees the block *metadata*
        # overlapping ~1/sweep_buckets of the internal docid span; raise
        # it on a real cluster so per-bucket metadata stays small
        # (~blocks_per_term / sweep_buckets rows per term per bucket).
        self.sweep_buckets = sweep_buckets


    # ---------------------------------------------------- driver caches

    _META_KEYS = ("field", "term", "first_docid", "last_docid",
                  "max_score", "min_score")

    def _term_data(self, tokens, cap: Optional[int] = None):
        """ONE driver job fetches BOTH the champion θ-seed rows and the
        block metadata for the query's cache-missing terms (r4 scale
        profile: the separate champions job + metadata job made a cold
        WAND query 3 driver jobs; folding them into a single
        tagged-union collect makes it 2 cold / 1 warm). Returns
        (champion pool pd.DataFrame — one copy PER TOKEN OCCURRENCE,
        matching the reference's per-occurrence scoring — , metadata
        row list or None when over ``cap``)."""
        import pandas as _pd

        if len(self._meta_cache) > self.metadata_cache_max_terms:
            self._meta_cache.clear()
        if len(self._champ_cache) > self.metadata_cache_max_terms:
            self._champ_cache.clear()
        if cap is None:
            cap = self.driver_sweep_max_blocks
        utoks = list(dict.fromkeys(tokens))
        miss_m = [t for t in utoks if t not in self._meta_cache]
        miss_c = [
            t for t in utoks if t not in self._champ_cache
        ] if self.champions is not None else []
        if miss_m or miss_c:
            fields = self.config.searchable_fields
            parts = []
            if miss_m:
                parts.append(
                    self.blocks.where(
                        F.col("term").isin(miss_m) & F.col("field").isin(fields)
                    )
                    .select(
                        F.lit("m").alias("side"), "field", "term",
                        "first_docid", "last_docid", "max_score", "min_score",
                        F.lit(None).cast("long").alias("docid"),
                        F.lit(None).cast("double").alias("s"),
                    )
                    .limit(cap + 1)
                )
            if miss_c:
                parts.append(
                    self.champions.where(
                        F.col("term").isin(miss_c) & F.col("field").isin(fields)
                    ).select(
                        F.lit("c").alias("side"), "field", "term",
                        F.lit(None).cast("long").alias("first_docid"),
                        F.lit(None).cast("long").alias("last_docid"),
                        F.lit(None).cast("double").alias("max_score"),
                        F.lit(None).cast("double").alias("min_score"),
                        "docid", "s",
                    )
                )
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            # keep the cold fetch to ONE job: a LIMIT collect executes
            # incrementally (initialNumPartitions, then 4x more) and AQE
            # additionally materializes the mid-plan limit as its own
            # stage-job — both toggled off for this single tiny action.
            # The toggle is session-global, so serialize cold fetches
            # across threads: without the lock a concurrent query's plan
            # could compile with AQE off, and interleaved finally blocks
            # could restore a stale value (r5 ADVICE).
            conf = self.spark.conf
            with _COLD_FETCH_LOCK:
                saved = {
                    key: conf.get(key, None)
                    for key in ("spark.sql.limit.initialNumPartitions",
                                "spark.sql.adaptive.enabled")
                }
                try:
                    conf.set("spark.sql.limit.initialNumPartitions", "100000")
                    conf.set("spark.sql.adaptive.enabled", "false")
                    fetched = df.collect()
                finally:
                    for key, v in saved.items():
                        if v is None:
                            conf.unset(key)
                        else:
                            conf.set(key, v)
            mrows = [r for r in fetched if r["side"] == "m"]
            crows = [r for r in fetched if r["side"] == "c"]
            meta_overflow = False
            if miss_m:
                if len(mrows) > cap:
                    # the truncated sample cannot be attributed per
                    # term; the whole query goes distributed. A SINGLE
                    # over-cap term IS attributable — remember it so the
                    # same hot term doesn't re-collect every query.
                    meta_overflow = True
                    if len(miss_m) == 1:
                        self._meta_cache[miss_m[0]] = "OVER_CAP"
                else:
                    by_term: dict = {t: [] for t in miss_m}
                    for r in mrows:
                        by_term[r["term"]].append(
                            {k: r[k] for k in self._META_KEYS}
                        )
                    self._meta_cache.update(by_term)
            if miss_c:
                cpdf = _pd.DataFrame(
                    {
                        "term": [r["term"] for r in crows],
                        "docid": [r["docid"] for r in crows],
                        "s": [r["s"] for r in crows],
                    }
                )
                for t in miss_c:
                    self._champ_cache[t] = cpdf[cpdf["term"] == t]
        # assemble from caches
        if self.champions is not None:
            parts_p = [
                self._champ_cache[t] for t in tokens if t in self._champ_cache
            ]
            pool = (
                _pd.concat(parts_p, ignore_index=True)
                if parts_p
                else _pd.DataFrame({"term": [], "docid": [], "s": []})
            )
        else:
            pool = _pd.DataFrame({"term": [], "docid": [], "s": []})
        rows: Optional[list] = []
        if miss_m and meta_overflow:
            rows = None
        else:
            for t in utoks:
                got = self._meta_cache.get(t)
                if got == "OVER_CAP":
                    rows = None
                    break
                rows.extend(got or [])
        if rows is not None and len(rows) > cap:
            rows = None
        return pool, rows

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
        blocks_dir = os.path.join(index_dir, "blocks")
        stamp_path = os.path.join(index_dir, "blocks_build.json")
        if os.path.exists(blocks_dir) and not os.path.exists(stamp_path):
            raise ValueError(
                "blocks/ exists without a build stamp (torn or "
                "pre-stamp BlockIndex.build, or a compact() "
                "invalidation); re-run BlockIndex.build()"
            )
        with open(os.path.join(index_dir, "stats.json")) as f:
            stats = json.load(f)
        champ_dir = os.path.join(index_dir, "champions")
        champions = (
            spark.read.schema(_CHAMPIONS_SCHEMA).parquet(champ_dir)
            if os.path.exists(champ_dir) else None
        )
        return cls(
            spark,
            config,
            blocks=spark.read.schema(BLOCKS_SCHEMA).parquet(
                os.path.join(index_dir, "blocks")
            ),
            dictionary=spark.read.schema(DICTIONARY_READ_SCHEMA).parquet(
                os.path.join(index_dir, "dictionary")
            ),
            stats=stats,
            champions=champions,
        )

    # ----------------------------------------------------------- search
    def _score_kernel(self, clipped: bool):
        avgs = {
            f_: float(v["avg_field_length"]) for f_, v in self.stats["fields"].items()
        }
        return _score_blocks_fn(
            avgs, float(self.stats["docs_count"]), self.config.bm25, clipped
        )

    @staticmethod
    def _driver_sweep(rows, theta: float):
        """Exact global interval sweep over collected block metadata
        (the numpy twin of _sweep_fn without bucket clipping). Returns
        survivor tuples (field, term, first_docid, clip_start,
        clip_end) or None when nothing survives."""
        if not rows:
            return None
        first = np.array([r["first_docid"] for r in rows], dtype=np.int64)
        last = np.array([r["last_docid"] for r in rows], dtype=np.int64)
        if theta <= 0.0:
            keep = np.ones(len(rows), dtype=bool)
        else:
            thr = theta * (1.0 - _EPS)
            # clamped like _sweep_fn — see the comment there
            ms = np.maximum(
                np.array([r["max_score"] for r in rows], dtype=np.float64), 0.0
            )
            pts = np.concatenate([first, last + 1])
            deltas = np.concatenate([ms, -ms])
            upts, inv = np.unique(pts, return_inverse=True)
            sums = np.zeros(len(upts))
            np.add.at(sums, inv, deltas)
            seg_ub = np.cumsum(sums)
            good = np.concatenate(([0], np.cumsum(seg_ub >= thr)))
            i0 = np.searchsorted(upts, first, side="right") - 1
            i1 = np.searchsorted(upts, last, side="right") - 1
            keep = (good[i1 + 1] - good[i0]) > 0
        if not keep.any():
            return None
        return [
            (r["field"], r["term"], int(first[i]), int(first[i]),
             int(last[i]))
            for i, r in enumerate(rows)
            if keep[i]
        ]

    @staticmethod
    def _occurrence_weights(tokens) -> Optional[dict]:
        """{term: count} when any query token repeats, else None (the
        reference scores once per occurrence; see _prune's wts note)."""
        cnt: dict = {}
        for t in tokens:
            cnt[t] = cnt.get(t, 0) + 1
        if any(v > 1 for v in cnt.values()):
            return {t: float(v) for t, v in cnt.items()}
        return None

    def _driver_plan(self, tokens, k: int, cap: Optional[int] = None):
        """Driver-side phases 0/1 for the champion fast path: ONE Spark
        job (warm: zero) fetches champions + block metadata
        (_term_data), seeds θ from the occurrence-weighted champion-pool
        k-th partial sum, applies the weighted negative-min adjustment,
        and runs the exact interval sweep in numpy.

        Returns (theta, surv, wts) — surv is None when NOTHING survives
        (the result set is provably empty of θ-beating docs... i.e. no
        block can contain a qualifying doc) — or None when the metadata
        exceeds the driver cap and the distributed sweep must run."""
        if self.champions is None:
            return None
        wts = self._occurrence_weights(tokens)
        pool, rows = self._term_data(tokens, cap)
        if rows is None:
            return None
        sums = pool.groupby("docid")["s"].sum().sort_values(ascending=False)
        theta = float(sums.iloc[k - 1]) if len(sums) >= k else 0.0
        mins: dict = {}
        for r in rows:
            key = (r["field"], r["term"])
            mins[key] = min(mins.get(key, float("inf")), r["min_score"])
        theta += sum(
            min(0.0, v) * (wts.get(key[1], 1.0) if wts else 1.0)
            for key, v in mins.items()
        )
        sweep_rows = rows
        if wts is not None:
            # occurrence-weighted upper bounds for the sweep
            sweep_rows = [
                {**r, "max_score": r["max_score"] * wts.get(r["term"], 1.0)}
                for r in rows
            ]
        return theta, self._driver_sweep(sweep_rows, theta), wts

    def _fused_scan(self, all_terms: list, survmaps: dict) -> DataFrame:
        """The phase-2 input scan for the fused kernel: blocks filtered
        by the query terms (parquet IN pushdown on the sorted term
        column) plus a first_docid bound derived from the survivors —
        an IN list when small, a min/max range otherwise (the kernel
        skips non-survivor keys exactly either way). coalesce(1) funnels
        the bounded survivor set into one Python task WITHOUT an
        exchange, so the whole phase is one job."""
        fields = self.config.searchable_fields
        fdids = sorted({key[2] for sm in survmaps.values() for key in sm})
        scan = self.blocks.where(
            F.col("term").isin(all_terms) & F.col("field").isin(fields)
        )
        if len(fdids) <= 256:
            scan = scan.where(F.col("first_docid").isin(fdids))
        else:
            scan = scan.where(
                (F.col("first_docid") >= fdids[0])
                & (F.col("first_docid") <= fdids[-1])
            )
        return scan.coalesce(1)

    def _prune(self, meta: DataFrame, k: int, keep_ids: Optional[DataFrame],
               tokens: Optional[list] = None) -> tuple[DataFrame, DataFrame]:
        """Phases 0/1: returns (surviving (block ⨝ clip) rows, 1-row θ
        frame). Fully lazy — zero driver actions (see module doc).

        θ seed source: the build-time champion lists when present (a
        (field, term)-sorted parquet scan with the query's term IN-list
        pushed down — no window, no metadata shuffle); else fall back to
        a window over ``meta`` picking the top achieved-bound blocks and
        decoding them inline. Either pool yields partial BM25 sums
        (exact, non-negative contributions), so the k-th best pooled sum
        is a valid lower bound of the true k-th score for ANY k — a pool
        shallower than 4k/BLOCK_SIZE blocks only loosens θ, never breaks
        soundness."""
        # Duplicate query tokens: the reference scores each OCCURRENCE
        # (index.ts loops over tokens), so 'spark spark' weights spark's
        # contribution ×2 — but `meta` comes from an isin() that dedupes
        # terms. The weighted path (taken only when a duplicate exists —
        # the common case pays nothing) attaches an occurrence-count
        # `wt` column to meta; the score kernel, sweep upper bounds, θ
        # seed and the negative-min adjustment all scale by it, keeping
        # WAND rank-identical with the plain engine path.
        wts: Optional[dict] = None
        if tokens is not None:
            cnt: dict = {}
            for t in tokens:
                cnt[t] = cnt.get(t, 0) + 1
            if any(v > 1 for v in cnt.values()):
                wts = {t: float(v) for t, v in cnt.items()}
                wdf = F.broadcast(
                    self.spark.createDataFrame(
                        list(wts.items()), "term string, wt double"
                    )
                )
                meta = meta.join(wdf, "term")
        # θ soundness under NEGATIVE term contributions (df counts
        # occurrences, so df > N gives idf < 0): a pool partial sum is
        # no longer ≤ the true score — the contributions it is missing
        # can be negative. true(d) ≥ partial(d) + Σ_t wt_t·min(0, min_t)
        # where min_t is term t's global minimum posting score, so
        # lowering θ by that (≤ 0) constant restores the lower-bound
        # property. All-positive queries have adj = 0 — the common path
        # is untouched. Lazy: a 2-level agg over the query's block
        # metadata (tiny), crossJoined into θ.
        wt_col = F.col("wt") if wts is not None else F.lit(1.0)
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
        if self.champions is not None and tokens is not None and keep_ids is None:
            # fast θ: the champion pool is BOUNDED BY THE QUERY, not the
            # corpus (CHAMPION_BLOCKS × BLOCK_SIZE × #terms × #fields ≈
            # a few thousand rows for any human query), so one bounded
            # collect beats a groupBy→sort→limit shuffle chain; θ then
            # rides into both phases as a 1-row local broadcast frame.
            # bounded driver sweep: when the query terms' block METADATA
            # fits under driver_sweep_max_blocks (rare terms, small
            # corpora — detected with a LIMIT-guarded collect, one tiny
            # job), run the exact interval sweep in numpy and broadcast
            # the surviving block keys, collapsing phase 1 from
            # explode+shuffle+mapInPandas to a single broadcast join.
            # Huge-df terms exceed the cap and take the distributed
            # sweep unchanged — same bounded-collect class as the
            # engine's top-k/expansion collects. (wand_topk normally
            # short-circuits to the FUSED kernel before reaching here —
            # this branch serves pruning_stats and diagnostics.)
            dp = self._driver_plan(tokens, k)
            if dp is not None:
                theta, surv, _ = dp
                theta_df = F.broadcast(
                    self.spark.createDataFrame([(theta,)], "theta double")
                )
                if surv is None:
                    kept = self.spark.createDataFrame([], _KEPT_EMPTY_SCHEMA)
                else:
                    # survivors are bounded by the cap: funnel them into
                    # ONE partition so the Arrow decode runs as a single
                    # Python task instead of fanning a worker per scan
                    # split (the distributed path keeps its parallelism)
                    kept = meta.join(
                        F.broadcast(
                            self.spark.createDataFrame(surv, _SURVIVOR_SCHEMA)
                        ),
                        ["field", "term", "first_docid"],
                    ).repartition(1)
                return kept, theta_df
            # over the cap: distributed sweep with the champion-pool θ
            # seed, adjusted lazily (the full metadata was never
            # collected). _term_data is warm here — zero extra jobs.
            pool, _ = self._term_data(tokens)
            sums = pool.groupby("docid")["s"].sum().sort_values(ascending=False)
            theta = float(sums.iloc[k - 1]) if len(sums) >= k else 0.0
            theta_df = F.broadcast(
                self.spark.createDataFrame([(theta,)], "theta double")
                .crossJoin(adj_df)
                .select((F.col("theta") + F.col("adj")).alias("theta"))
            )
        elif self.champions is not None and tokens is not None:
            champ = self.champions.where(
                F.col("term").isin(tokens)
                & F.col("field").isin(self.config.searchable_fields)
            )
            if wts is not None:
                champ = champ.join(wdf, "term").withColumn(
                    "s", F.col("s") * F.col("wt")
                )
            seed_scored = champ.select("docid", "s")
            theta_df = None
        else:
            n_seed_blocks = max(2, -(-4 * k // BLOCK_SIZE) + 1)
            w = Window.partitionBy("field", "term").orderBy(
                F.desc("max_score"), F.asc("first_docid")
            )
            seed_blocks = (
                meta.withColumn("_rk", F.row_number().over(w))
                .where(F.col("_rk") <= n_seed_blocks)
                .drop("_rk")
            )
            seed_scored = seed_blocks.mapInArrow(
                self._score_kernel(clipped=False), _SCORED_SCHEMA
            )
            theta_df = None
        if theta_df is None:
            if keep_ids is not None:
                seed_scored = seed_scored.join(keep_ids, "docid", "left_semi")
            theta_df = F.broadcast(
                seed_scored.groupBy("docid")
                .agg(F.sum("s").alias("ps"))
                .orderBy(F.desc("ps"), F.asc("docid"))
                .limit(k)
                .agg(
                    F.when(F.count("*") >= k, F.min("ps"))
                    .otherwise(F.lit(0.0))
                    .alias("theta")
                )
                .crossJoin(adj_df)
                .select((F.col("theta") + F.col("adj")).alias("theta"))
            )

        # phase 1: bucketed docid-aligned sweep over block metadata.
        # Internal ids are a dense 0-based rank (blocks.py), so the span
        # comes from stats — no extra job.
        dmin, dmax = 0, max(0, int(self.stats["docs_count"]) - 1)
        width = max(1, -(-(dmax - dmin + 1) // self.sweep_buckets))
        bucket_of = lambda c: F.floor((c - F.lit(dmin)) / F.lit(width)).cast("long")
        sweep_parts = max(
            1, min(self.sweep_buckets, self.spark.sparkContext.defaultParallelism)
        )
        exploded = (
            meta.select(
                "field", "term", "first_docid", "last_docid",
                # occurrence-weighted upper bound (see wts comment)
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
        The whole query is ONE lazy plan — no driver-side action happens
        until the caller collects.

        ``keep_ids`` (one column ``docid``): a pre-computed doc filter
        (where-clause mask or the exact-mode case-sensitive post-filter,
        search-fulltext.ts:88-115). It is applied to the seed candidates
        — so θ lower-bounds the k-th FILTERED score — and to phase 2;
        the pruning proof is unchanged since filtering only removes
        docs."""
        tokens = self.tokenizer.tokenize(term)
        if not tokens:
            return self.spark.createDataFrame([], "docid long, score double")
        fields = self.config.searchable_fields

        if keep_ids is None and self.champions is not None:
            # FUSED fast path (r5): θ + sweep fully driver-side (one
            # fetch job, cached for warm queries), then decode + score +
            # aggregate + θ-filter in ONE coalesce(1) kernel — a warm
            # query is a single Spark job, a cold one two. The r4 scale
            # leg showed the fixed multi-job orchestration (~2.5 s on
            # this VM) was the only thing keeping WAND behind the plain
            # path despite ~100x less posting work.
            dp = self._driver_plan(tokens, k)
            if dp is not None:
                theta, surv, wts = dp
                if surv is None:
                    return self.spark.createDataFrame(
                        [], "docid long, score double"
                    )
                survmap = {
                    (f_, t, fd): (cs, ce) for f_, t, fd, cs, ce in surv
                }
                avgs = {
                    f_: float(v["avg_field_length"])
                    for f_, v in self.stats["fields"].items()
                }
                scan = self._fused_scan(list(dict.fromkeys(tokens)),
                                        {None: survmap})
                out = scan.mapInPandas(
                    _fused_topk_fn(
                        avgs, float(self.stats["docs_count"]),
                        self.config.bm25, {None: survmap}, {None: theta},
                        {None: wts} if wts else {},
                    ),
                    "docid long, score double",
                )
                return out.orderBy(F.desc("score"), F.asc("docid")).limit(k)

        meta = self.blocks.where(
            F.col("term").isin(tokens) & F.col("field").isin(fields)
        )

        kept, theta_df = self._prune(meta, k, keep_ids, tokens)

        # phase 2: decode + score surviving clips only
        scored = kept.mapInArrow(self._score_kernel(clipped=True), _SCORED_SCHEMA)
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
        """Batched exact-term BM25 top-k over N queries with ONE
        champions collect, ONE metadata collect and ONE decode+score
        job.  Single-query ``wand_topk`` pays ~3 driver jobs of fixed
        latency per query — on short queries that overhead dominates
        the 50-100x posting-decode savings pruning buys (SCALE_r04
        measured latency parity vs the plain path at 2M docs despite a
        98% block-prune rate).  Batching amortizes the fixed jobs
        across the whole workload, which is also the realistic serving
        shape for a 100 TB cluster (queries arrive in batches; each
        executor decodes each surviving clip once per query).

        ``queries``: {qid: term_text}.  Returns (qid, docid, score),
        per-qid rank-identical with ``wand_topk`` (same θ seed, same
        exact interval sweep, same clip semantics; ties score DESC,
        docid ASC).  Falls back to unioned per-query ``wand_topk``
        when champion lists are absent or the batch's block metadata
        exceeds ``driver_sweep_max_blocks * len(queries)``.
        """
        out_schema = "qid string, docid long, score double"
        qtoks = {
            str(qid): self.tokenizer.tokenize(text)
            for qid, text in dict(queries).items()
        }
        qtoks = {q: t for q, t in qtoks.items() if t}
        if not qtoks:
            return self.spark.createDataFrame([], out_schema)

        def _fallback() -> DataFrame:
            parts = [
                self.wand_topk(text, k=k).select(
                    F.lit(str(qid)).alias("qid"), "docid", "score"
                )
                for qid, text in dict(queries).items()
                if self.tokenizer.tokenize(text)
            ]
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p)
            return df

        if self.champions is None:
            return _fallback()
        all_tokens = sorted({t for toks in qtoks.values() for t in toks})
        pool, rows = self._term_data(
            all_tokens,
            cap=self.driver_sweep_max_blocks * max(1, len(qtoks)),
        )
        if rows is None:
            return _fallback()

        survmaps: dict = {}
        thetas: dict = {}
        wtsmap: dict = {}
        for qid, toks in qtoks.items():
            # occurrence weights: duplicate tokens in a query score once
            # PER OCCURRENCE (reference loops over tokens) — same
            # weighting as the single-query path, so per-qid rank
            # identity with wand_topk holds for duplicate-token queries
            wts: dict = {}
            for t in toks:
                wts[t] = wts.get(t, 0.0) + 1.0
            rows_q = [r for r in rows if r["term"] in wts]
            sub = pool[pool["term"].isin(list(wts))]
            wvec = sub["term"].map(wts).astype(float)
            sums = (
                (sub["s"] * wvec).groupby(sub["docid"]).sum()
                .sort_values(ascending=False)
            )
            theta = float(sums.iloc[k - 1]) if len(sums) >= k else 0.0
            # negative-min_score adjustment, as in the single path
            mins: dict = {}
            for r in rows_q:
                key = (r["field"], r["term"])
                mins[key] = min(mins.get(key, float("inf")), r["min_score"])
            theta += sum(
                min(0.0, v) * wts[key[1]] for key, v in mins.items()
            )
            surv = self._driver_sweep(
                [
                    {**r, "max_score": r["max_score"] * wts[r["term"]]}
                    for r in rows_q
                ],
                theta,
            )
            if surv is not None:
                survmaps[qid] = {
                    (f_, t, fd): (cs, ce) for f_, t, fd, cs, ce in surv
                }
                thetas[qid] = theta
                if any(v > 1 for v in wts.values()):
                    wtsmap[qid] = wts
        if not survmaps:
            return self.spark.createDataFrame([], out_schema)
        avgs = {
            f_: float(v["avg_field_length"])
            for f_, v in self.stats["fields"].items()
        }
        # ONE fused job: every surviving block is decoded ONCE even when
        # several queries keep it; per-qid aggregate + θ filter + top-k
        # happen inside the kernel (see _fused_topk_fn)
        out = self._fused_scan(all_tokens, survmaps).mapInPandas(
            _fused_topk_fn(
                avgs, float(self.stats["docs_count"]), self.config.bm25,
                survmaps, thetas, wtsmap, k=k,
            ),
            out_schema,
        )
        return out.sortWithinPartitions(
            "qid", F.desc("score"), F.asc("docid")
        )

    def pruning_stats(self, term: str, k: int = 10) -> dict:
        """Diagnostics: how many blocks the docid-aligned sweep keeps."""
        tokens = self.tokenizer.tokenize(term)
        if not tokens:
            return {"blocks_total": 0, "blocks_kept": 0, "theta": 0.0}
        fields = self.config.searchable_fields
        meta = self.blocks.where(
            F.col("term").isin(tokens) & F.col("field").isin(fields)
        ).persist()
        total = meta.count()
        kept, theta_df = self._prune(meta, k, None, tokens)
        theta = theta_df.collect()[0]["theta"]
        kept_n = (
            kept.select("field", "term", "first_docid")
            .dropDuplicates(["field", "term", "first_docid"])
            .count()
        )
        meta.unpersist()
        return {"blocks_total": total, "blocks_kept": kept_n, "theta": float(theta)}
