"""Posting-block codec + block-max WAND: codec roundtrip, the batch
encoder and segmented decoder against per-term / per-row references,
block bounds, θ soundness, and WAND rank-identity vs the plain engine
path."""

import contextlib
import itertools
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from orama_spark.build.blocks import (
    BLOCK_SIZE, PA_BLOCKS_SCHEMA, _varint_decode_bytes, assign_internal_ids,
    block_encoder, bm25_scores, idf_per_row, varint_decode_binary, varint_encode_stream,
)
from orama_spark.kernel.bm25 import BM25Params
from orama_spark.build.indexer import IndexBuilder
from orama_spark.config import IndexConfig
from orama_spark.kernel import TokenizerConfig
from orama_spark.query.engine import SearchIndex
from orama_spark.query import wand
from orama_spark.query.wand import BlockIndex
from orama_spark.sources.webpages import CorpusGenerator


def varint_encode(arr: np.ndarray) -> bytes:
    """LEB128 varint encode of a uint64 array, one stream."""
    return varint_encode_stream(arr)[0].tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Per-stream reference decode: the inverse of varint_encode."""
    return _varint_decode_bytes(np.frombuffer(buf, dtype=np.uint8))


def bm25_for_fl(fl: np.ndarray, df: float, n_docs: float, avgfl: float,
                p: BM25Params, tfn: np.ndarray | None = None) -> np.ndarray:
    """Per-term reference BM25 with tf = tfn/fl; tfn=None means the
    all-ones identity of the deduplicating tokenizer (tf = 1/fl)."""
    tf = (1.0 if tfn is None else tfn) / fl
    return bm25_scores(idf_per_row([df], n_docs)[0], fl, tf, avgfl, p)


class TestVarint:
    def test_roundtrip_random(self):
        rng = np.random.default_rng(0)
        for _ in range(20):
            n = int(rng.integers(0, 300))
            vals = rng.integers(0, 1 << 62, size=n, dtype=np.uint64)
            assert list(varint_decode(varint_encode(vals))) == list(vals)

    def test_roundtrip_boundaries(self):
        vals = np.array(
            [0, 1, 127, 128, 129, 16383, 16384, (1 << 35) - 1, (1 << 63) - 1],
            dtype=np.uint64,
        )
        assert list(varint_decode(varint_encode(vals))) == list(vals)

    def test_empty(self):
        assert varint_encode(np.array([], dtype=np.uint64)) == b""
        assert len(varint_decode(b"")) == 0

    def test_small_deltas_compress(self):
        vals = np.ones(128, dtype=np.uint64)
        assert len(varint_encode(vals)) == 128  # 1 byte per small delta

    def test_segmented_decode_matches_per_row(self):
        rng = np.random.default_rng(1)
        streams = [
            varint_encode(rng.integers(0, 1 << int(rng.integers(1, 63)),
                                       size=int(rng.integers(0, 40)),
                                       dtype=np.uint64))
            for _ in range(200)
        ]
        arr = pa.array(streams + [None, b""], type=pa.binary())
        # a sliced view starts mid-buffer: offsets must be honoured
        for view in (arr, arr.slice(13, 150)):
            vals, counts = varint_decode_binary(view)
            per_row = [
                varint_decode(b) if b is not None else np.zeros(0, np.uint64)
                for b in view.to_pylist()
            ]
            assert list(counts) == [len(v) for v in per_row]
            assert vals.tolist() == np.concatenate(per_row).tolist()

    def test_segmented_decode_large_binary(self):
        # Spark sends BinaryType as large_binary (64-bit offsets) under
        # spark.sql.execution.arrow.useLargeVarTypes; the decode must
        # read offsets at the column's own width
        streams = [varint_encode(np.arange(3, dtype=np.uint64)),
                   varint_encode(np.array([300, 7], dtype=np.uint64)),
                   None, b""]
        small = pa.array(streams, type=pa.binary())
        large = pa.array(streams, type=pa.large_binary())
        for lo, n in ((0, 4), (1, 2)):
            want_vals, want_counts = varint_decode_binary(small.slice(lo, n))
            vals, counts = varint_decode_binary(large.slice(lo, n))
            assert counts.tolist() == want_counts.tolist()
            assert vals.tolist() == want_vals.tolist()
        assert varint_decode_binary(large)[1].tolist() == [3, 2, 0, 0]


# --------------------------------------------------------------- encoder

P = BM25Params()
AVGS = {"body": 17.5, "title": 4.25}
N_DOCS_SYN = 5000.0
_IN_SCHEMA = pa.schema([
    ("field", pa.string()), ("term", pa.string()), ("docid", pa.int64()),
    ("internal", pa.int64()), ("field_len", pa.int32()), ("df", pa.int64()),
    ("tfn", pa.int64()),
])


def _synthetic_postings(seed: int = 3) -> pa.Table:
    """Sorted (field, term, internal) postings over two fields: single-
    posting terms, terms longer than BLOCK_SIZE, all-ones and
    non-trivial tfns (including 0)."""
    rng = np.random.default_rng(seed)
    sizes = [1, 1, 2, BLOCK_SIZE, BLOCK_SIZE + 1, 300, 7, 1, 3 * BLOCK_SIZE + 5,
             1, 40, 2 * BLOCK_SIZE]
    rows = []
    for field in ("body", "title"):
        for ti, n in enumerate(sizes):
            internal = np.sort(rng.choice(4000, size=n, replace=False))
            kind = ti % 3  # 0: all ones, 1: counts incl. 0, 2: counts >= 1
            for j, d in enumerate(internal.tolist()):
                tfn = 1 if kind == 0 else int(rng.integers(0 if kind == 1 else 1, 4))
                rows.append({
                    "field": field, "term": f"t{ti:02d}", "docid": int(rng.integers(0, 10**9)),
                    "internal": d, "field_len": int(rng.integers(1, 60)),
                    "df": n + ti, "tfn": tfn,
                })
    return pa.Table.from_pylist(rows, schema=_IN_SCHEMA)


def _reference_encode(tbl: pa.Table, block_size: int = BLOCK_SIZE,
                      champion_blocks: int = 8) -> pa.Table:
    """Per-term, per-block reference encoder (the pre-batch form)."""
    rows = tbl.to_pylist()
    out = []
    for (field, term), grp in itertools.groupby(rows, key=lambda r: (r["field"], r["term"])):
        grp = list(grp)
        internal = np.array([r["internal"] for r in grp], dtype=np.int64)
        fls = np.array([r["field_len"] for r in grp], dtype=np.int64)
        tfns = np.array([r["tfn"] for r in grp], dtype=np.int64)
        trivial = bool((tfns == 1).all())
        sc = bm25_for_fl(fls.astype(np.float64), float(grp[0]["df"]), N_DOCS_SYN,
                         AVGS[field], P, tfn=None if trivial else tfns.astype(np.float64))
        blocks = []
        for bi, s in enumerate(range(0, len(grp), block_size)):
            e = min(s + block_size, len(grp))
            deltas = np.concatenate(([0], np.diff(internal[s:e])))
            blocks.append({
                "field": field, "term": term, "block_id": bi, "n": e - s,
                "first_docid": int(internal[s]), "last_docid": int(internal[e - 1]),
                "docid_deltas": varint_encode(deltas.astype(np.uint64)),
                "orig_docids": varint_encode(np.array([r["docid"] for r in grp[s:e]], dtype=np.uint64)),
                "field_lens": varint_encode(fls[s:e].astype(np.uint64)),
                "tfns": b"" if trivial else varint_encode(tfns[s:e].astype(np.uint64)),
                "max_score": float(sc[s:e].max()), "min_score": float(sc[s:e].min()),
                "df": grp[0]["df"], "champ_rk": 0,
            })
        ranked = sorted(range(len(blocks)),
                        key=lambda i: (-blocks[i]["max_score"], blocks[i]["first_docid"]))
        for rk, i in enumerate(ranked[:champion_blocks]):
            blocks[i]["champ_rk"] = rk + 1
        for i in range(min(champion_blocks, len(blocks))):
            if blocks[i]["champ_rk"] == 0:
                blocks[i]["champ_rk"] = champion_blocks + 1 + i
        out.extend(blocks)
    return pa.Table.from_pylist(out, schema=PA_BLOCKS_SCHEMA)


def _batches(tbl: pa.Table, size: int) -> list:
    empty = pa.RecordBatch.from_pylist([], schema=tbl.schema)
    out = [empty]
    for b in tbl.to_batches(max_chunksize=size):
        out += [b, empty]
    return out


class TestEncoder:
    @pytest.mark.parametrize("chunk", [1, 7, 10_000])
    def test_matches_per_term_reference(self, chunk):
        tbl = _synthetic_postings()
        want = _reference_encode(tbl)
        enc = block_encoder(AVGS, N_DOCS_SYN, P)
        got = pa.Table.from_batches(list(enc(iter(_batches(tbl, chunk)))),
                                    schema=PA_BLOCKS_SCHEMA)
        assert got.num_rows == want.num_rows
        assert got.combine_chunks().equals(want.combine_chunks())

    def test_empty_input(self):
        enc = block_encoder(AVGS, N_DOCS_SYN, P)
        empty = pa.RecordBatch.from_pylist([], schema=_IN_SCHEMA)
        assert list(enc(iter([empty, empty]))) == []


class TestSegmentedDecodeKernels:
    """The Arrow scoring kernels decode a whole batch with one segmented
    varint decode; each mode must equal a per-row varint_decode +
    bm25_for_fl reference."""

    @pytest.fixture(scope="class")
    def blocks(self):
        tbl = _synthetic_postings(seed=5)
        enc = block_encoder(AVGS, N_DOCS_SYN, P)
        return pa.Table.from_batches(list(enc(iter(_batches(tbl, 500)))),
                                     schema=PA_BLOCKS_SCHEMA)

    @staticmethod
    def _per_row(rows, clipped=False):
        out = []
        for r in rows:
            o = varint_decode(r["orig_docids"]).astype(np.int64)
            fl = varint_decode(r["field_lens"]).astype(np.float64)
            t = varint_decode(r["tfns"]).astype(np.float64) if r["tfns"] else None
            s = bm25_for_fl(fl, float(r["df"]), N_DOCS_SYN, AVGS[r["field"]], P, tfn=t)
            if "wt" in r:
                s = s * r["wt"]
            if clipped:
                d = varint_decode(r["docid_deltas"]).astype(np.int64)
                internal = r["first_docid"] + np.concatenate(([0], np.cumsum(d[1:])))
                m = (internal >= r["clip_start"]) & (internal <= r["clip_end"])
                o, s = o[m], s[m]
            out += [(r["field"], r["term"], int(a), float(b)) for a, b in zip(o, s)]
        return out

    def _run(self, table, clipped):
        from orama_spark.query.wand import _score_blocks_fn

        fn = _score_blocks_fn(AVGS, N_DOCS_SYN, P, clipped)
        got = []
        for ob in fn(iter(table.to_batches(max_chunksize=9))):
            got += list(zip(ob.column("docid").to_pylist(), ob.column("s").to_pylist()))
        return got

    def test_unclipped(self, blocks):
        want = [(d, s) for _, _, d, s in self._per_row(blocks.to_pylist())]
        assert self._run(blocks, clipped=False) == want

    def test_clipped(self, blocks):
        first = blocks.column("first_docid").to_numpy()
        last = blocks.column("last_docid").to_numpy()
        clipped = blocks.append_column(
            "clip_start", pa.array(first + (last - first) // 3)
        ).append_column("clip_end", pa.array(last - (last - first) // 4))
        want = [(d, s) for _, _, d, s in self._per_row(clipped.to_pylist(), clipped=True)]
        assert want
        assert self._run(clipped, clipped=True) == want

    def test_weighted(self, blocks):
        wt = pa.array((np.arange(blocks.num_rows) % 3 + 1).astype(np.float64))
        weighted = blocks.append_column("wt", wt)
        want = [(d, s) for _, _, d, s in self._per_row(weighted.to_pylist())]
        assert self._run(weighted, clipped=False) == want


N_DOCS = 600
CFG = IndexConfig(
    schema={"text": "string", "lang": "enum"}, tokenizer=TokenizerConfig.full()
)


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("wandidx"))


@pytest.fixture(scope="module")
def indexes(spark, index_dir):
    out = index_dir
    g = CorpusGenerator(seed=42)
    cols = g.batch(np.arange(N_DOCS, dtype=np.int64))
    rows = [
        {"docid": i, "text": cols["text"][i], "lang": cols["lang"][i]}
        for i in range(N_DOCS)
    ]
    df = spark.createDataFrame(rows)
    IndexBuilder(CFG, postings_partitions=3).build(df, out, input_id="w")
    plain = SearchIndex.load(spark, out, CFG)
    # many uncoalesced encoder partitions, so hot terms are split across
    # several encoder fragments (as they are at scale)
    with _session_conf(spark, {"spark.sql.shuffle.partitions": "16",
                               "spark.sql.adaptive.coalescePartitions.enabled": "false"}):
        blocks = BlockIndex.build(spark, out, CFG)
    return plain, blocks


@contextlib.contextmanager
def _session_conf(spark, settings: dict):
    saved = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _fresh(blocks):
    """A BlockIndex over the same tables with empty driver caches."""
    return BlockIndex(blocks.spark, blocks.config, blocks.blocks, blocks.stats)


@contextlib.contextmanager
def _sweep_cap(blocks: int):
    """wand.DRIVER_SWEEP_MAX_BLOCKS set to ``blocks`` (0: every query
    with any block takes the distributed sweep)."""
    with pytest.MonkeyPatch.context() as m:
        m.setattr(wand, "DRIVER_SWEEP_MAX_BLOCKS", blocks)
        yield


def _thetas_sound(plain, blocks, terms, k: int = 10) -> list:
    """θ from pruning_stats, on the driver path and on the distributed
    sweep (cap 0), never exceeds the k-th best score of the unfiltered
    plain ranking, and is 0 when fewer than k docs match. Returns every
    θ checked."""
    thetas = []
    for term in terms:
        scores = [
            r["score"] for r in
            plain.search_many([term], k=k, exact=True).orderBy("rank").collect()
        ]
        for cap in (wand.DRIVER_SWEEP_MAX_BLOCKS, 0):
            with _sweep_cap(cap):
                theta = _fresh(blocks).pruning_stats(term, k=k)["theta"]
            if len(scores) < k:
                assert theta == 0.0, (term, cap, theta)
            else:
                kth = scores[k - 1]
                assert theta <= kth + 1e-12 * abs(kth), (term, cap, theta, kth)
            thetas.append(theta)
    return thetas


def _jobs(spark, fn) -> int:
    """Spark jobs started while ``fn`` runs, counted by job group."""
    sc = spark.sparkContext
    group = f"wandjobs-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "count")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group) or [])


class TestBlocks:
    def test_blocks_cover_all_postings(self, indexes):
        plain, blocks = indexes
        n_postings = plain.postings.count()
        n_in_blocks = blocks.blocks.agg(F.sum("n")).collect()[0][0]
        assert n_in_blocks == n_postings

    def test_internal_ids_are_length_rank(self, spark, indexes, index_dir):
        # internal = dense 0-based rank by (total field length, docid)
        plain, _ = indexes
        docmeta = spark.read.parquet(f"{index_dir}/docmeta")
        got = {
            r["docid"]: r["internal"]
            for r in assign_internal_ids(docmeta).collect()
        }
        dl = (
            plain.postings.select("field", "docid", "field_len")
            .dropDuplicates(["field", "docid"]).groupBy("docid")
            .agg(F.sum("field_len").alias("dl")).collect()
        )
        ranked = sorted((r["dl"], r["docid"]) for r in dl)
        assert got == {d: i for i, (_, d) in enumerate(ranked)}

    def test_block_size_respected(self, indexes):
        _, blocks = indexes
        assert blocks.blocks.agg(F.max("n")).collect()[0][0] <= BLOCK_SIZE

    def test_max_score_is_upper_bound(self, indexes):
        plain, blocks = indexes
        # exact per-posting scores for one hot term must never exceed the
        # block bound
        term = "the"  # stemmed/stopworded profile: pick an indexed term
        term = plain.dictionary.orderBy(F.desc("df")).first()["term"]
        stats = plain.stats
        bm = CFG.bm25
        df_val = plain.dictionary.where(F.col("term") == term).first()["df"]
        posts = plain.postings.where(F.col("term") == term).collect()
        avg = stats["fields"]["text"]["avg_field_length"]
        bmax = {
            (r["first_docid"]): r["max_score"]
            for r in blocks.blocks.where(F.col("term") == term).collect()
        }
        overall_max = max(bmax.values())
        scores = bm25_for_fl(
            np.array([p["field_len"] for p in posts], dtype=np.float64),
            float(df_val), float(stats["docs_count"]), avg, bm,
        )
        assert scores.max() <= overall_max + 1e-12


class TestWand:
    @pytest.mark.parametrize(
        "term",
        ["fox", "search engine", "distributed computing science", "river mountain"],
    )
    def test_rank_identity_vs_plain(self, indexes, term):
        # plain exact mode = exact term match + case-sensitive post-filter
        # (search-fulltext.ts:88-115); WAND takes the same filter as its
        # keep_ids mask, so the two paths must be rank-identical.
        plain, blocks = indexes
        want = [
            (r["docid"], r["score"])
            for r in plain.search(term=term, exact=True, limit=10).top_df().collect()
        ]
        keep = plain.exact_filter_ids(term)
        got = [
            (r["docid"], r["score"])
            for r in blocks.wand_topk(term, k=10, keep_ids=keep).collect()
        ]
        assert [g[0] for g in got] == [w[0] for w in want], term
        for (gi, gs), (wi, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9)

    def test_missing_term(self, indexes):
        _, blocks = indexes
        assert blocks.wand_topk("zzzznotaword", k=5).collect() == []

    def test_batched_matches_single(self, indexes):
        # wand_topk_many: N queries, one block-row fetch + one decode
        # fetch; per-qid rank identity with the single-query path
        _, blocks = indexes
        queries = {
            "q1": "fox",
            "q2": "search engine",
            "q3": "distributed computing science",
            "q4": "zzzznotaword",
        }
        got = blocks.wand_topk_many(queries, k=10).collect()
        by_qid: dict = {}
        for r in got:
            by_qid.setdefault(r["qid"], []).append((r["docid"], r["score"]))
        assert "q4" not in by_qid
        for qid, text in list(queries.items())[:3]:
            want = [
                (r["docid"], r["score"])
                for r in blocks.wand_topk(text, k=10).collect()
            ]
            have = by_qid.get(qid, [])
            assert [h[0] for h in have] == [w[0] for w in want], qid
            for (hi, hs), (wi, ws) in zip(have, want):
                assert hs == pytest.approx(ws, rel=1e-9)

    def test_load_ignores_legacy_side_table(self, indexes, index_dir,
                                            tmp_path, spark):
        # an index written when θ came from a separate champions/ table
        # still loads, and that directory is never read
        _, blocks = indexes
        copy = str(tmp_path / "idx")
        shutil.copytree(index_dir, copy)
        spark.createDataFrame([(1,)], "x int").write.parquet(
            os.path.join(copy, "champions"))
        legacy = BlockIndex.load(spark, copy, CFG)
        for term in ("fox", "river mountain"):
            assert legacy.wand_topk(term, k=10).collect() == \
                blocks.wand_topk(term, k=10).collect()

    def test_no_session_conf_writes(self, indexes, spark, monkeypatch):
        """No WAND path writes session conf: queries sharing the session
        (other threads included) must never run under a WAND query's
        settings."""
        from pyspark.sql.conf import RuntimeConfig

        plain, blocks = indexes
        assert isinstance(spark.conf, RuntimeConfig)
        keep = plain.exact_filter_ids("fox")
        calls = []
        for name in ("set", "unset"):
            def spy(self, *args, _name=name, _orig=getattr(RuntimeConfig, name)):
                calls.append((_name,) + args)
                return _orig(self, *args)
            monkeypatch.setattr(RuntimeConfig, name, spy)
        _fresh(blocks).wand_topk("river mountain", k=10).collect()
        with _sweep_cap(0):
            _fresh(blocks).wand_topk("river mountain", k=10).collect()
        _fresh(blocks).wand_topk("fox", k=10, keep_ids=keep).collect()
        _fresh(blocks).wand_topk_many(
            {"a": "fox", "b": "search engine"}, k=10).collect()
        _fresh(blocks).pruning_stats("fox dog quick", k=10)
        assert calls == []

    def test_over_cap_query_fetches_once(self, indexes, spark):
        """Over DRIVER_SWEEP_MAX_BLOCKS, wand_topk runs ONE fetch job
        before the caller collects — θ and the sweep stay in the lazy
        plan — on every call (a multi-term over-cap query's metadata is
        not cached)."""
        _, blocks = indexes
        term = "river mountain"
        assert blocks.pruning_stats(term, k=10)["blocks_total"] > 1
        want = blocks.wand_topk(term, k=10).collect()
        capped = _fresh(blocks)
        with _sweep_cap(1):
            for _ in range(2):
                out = []
                assert _jobs(spark, lambda: out.append(capped.wand_topk(term, k=10))) == 1
                assert out[0].collect() == want

    @pytest.mark.parametrize(
        "term",
        ["fox", "search engine", "distributed computing science",
         "river mountain", "fox dog quick"],
    )
    def test_pruning_stats_driver_vs_distributed(self, indexes, term):
        # the driver planner's counts and θ == the distributed sweep's
        _, blocks = indexes
        a = blocks.pruning_stats(term, k=10)
        with _sweep_cap(0):
            b = _fresh(blocks).pruning_stats(term, k=10)
        assert a["blocks_total"] > 0
        assert (a["blocks_total"], a["blocks_kept"]) == (
            b["blocks_total"], b["blocks_kept"]), term
        assert a["theta"] == pytest.approx(b["theta"], rel=1e-12), term

    def test_theta_is_a_lower_bound(self, indexes):
        plain, blocks = indexes
        rare = plain.dictionary.where(F.col("df") <= 3).orderBy("term").first()["term"]
        thetas = _thetas_sound(plain, blocks, [
            "fox", "search engine", "distributed computing science",
            "river mountain", "fox dog quick", "fox fox", rare,
        ])
        assert max(thetas) > 0

    def test_pruning_actually_prunes(self, indexes):
        _, blocks = indexes
        st = blocks.pruning_stats("fox dog quick", k=10)
        assert st["blocks_total"] > 0
        assert st["blocks_kept"] <= st["blocks_total"]

    def test_cold_query_is_two_jobs_warm_is_one(self, indexes, spark):
        """The θ-seed pool and the block metadata come from ONE fetch
        of the query's block rows: a cold single query runs 2 Spark
        jobs total (fetch + final top-k), a warm one runs 1.
        Fixed per-query driver latency is THE WAND bottleneck on short
        queries (SCALE_r04), so the job count is a graded invariant."""
        _, blocks = indexes
        fresh = _fresh(blocks)
        sc = spark.sparkContext
        tracker = sc.statusTracker()

        def n_jobs(fn) -> int:
            before = len(tracker.getJobIdsForGroup(None) or [])
            import uuid

            group = f"wandjobs-{uuid.uuid4().hex[:8]}"
            sc.setJobGroup(group, "count")
            try:
                fn()
            finally:
                sc.setJobGroup(None, None)
            return len(tracker.getJobIdsForGroup(group) or [])

        cold = n_jobs(lambda: fresh.wand_topk("river mountain", k=10).collect())
        warm = n_jobs(lambda: fresh.wand_topk("river mountain", k=10).collect())
        assert cold == 2, cold
        assert warm == 1, warm

    def test_under_cap_page_is_local(self, indexes, spark):
        """Under the cap phase 2 runs on the driver: the page is a
        LocalTableScan, and collecting it starts no Spark job."""
        _, blocks = indexes
        page = _fresh(blocks).wand_topk("river mountain", k=10)
        plan = page._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, plan
        rows = []
        assert _jobs(spark, lambda: rows.extend(page.collect())) == 0
        assert len(rows) == 10

    def test_under_cap_plans_run_no_python_worker(self, indexes, monkeypatch):
        """No plan a WAND call executes under the cap (the metadata and
        block fetches, and the returned page) hands rows to a Python
        worker; over the cap the distributed sweep does, which shows
        the check sees such nodes."""
        _, blocks = indexes
        DataFrame = type(blocks.blocks)  # the session's concrete class
        plans = []

        def spying(name):
            orig = getattr(DataFrame, name)

            def spy(self, *args, **kw):
                plans.append(self._jdf.queryExecution().executedPlan().toString())
                return orig(self, *args, **kw)
            return spy

        for name in ("toArrow", "collect", "count", "first"):
            monkeypatch.setattr(DataFrame, name, spying(name))
        fresh = _fresh(blocks)
        fresh.wand_topk("river mountain", k=10).collect()
        fresh.wand_topk("fox fox river", k=10).collect()
        fresh.wand_topk_many({"a": "fox", "b": "search engine"}, k=10).collect()
        fresh.pruning_stats("fox dog quick", k=10)
        assert len(plans) >= 6
        python_nodes = ("MapInPandas", "MapInArrow")
        for plan in plans:
            assert not any(n in plan for n in python_nodes), plan
        plans.clear()
        with _sweep_cap(0):
            _fresh(blocks).wand_topk("river mountain", k=10).collect()
        assert any("MapInArrow" in plan for plan in plans)

    def test_batched_shared_blocks_and_repeated_token(self, indexes):
        """Two queries keeping some of the same blocks, one weighting a
        repeated token: the shared blocks are scored once in the batch,
        and every qid's rows equal its own wand_topk."""
        _, blocks = indexes
        queries = {"a": "river mountain", "b": "river river fox"}
        kept = []
        for text in queries.values():
            toks = blocks.tokenizer.tokenize(text)
            pool, rows = blocks._term_data(toks, wand.DRIVER_SWEEP_MAX_BLOCKS)
            surv = blocks._plan(toks, 10, pool, rows)[1]
            kept.append(set(zip(surv["field"], surv["term"], surv["first_docid"])))
        assert kept[0] & kept[1]
        got = [tuple(r) for r in blocks.wand_topk_many(queries, k=10).collect()]
        want = [
            (q,) + tuple(r)
            for q, text in sorted(queries.items())
            for r in blocks.wand_topk(text, k=10).collect()
        ]
        assert got == want and len(want) == 20

    def test_driver_and_distributed_sweeps_identical(self, indexes):
        """wand_topk without keep_ids takes the bounded driver-sweep
        fast path; forcing DRIVER_SWEEP_MAX_BLOCKS=0 exercises the
        distributed bucketed sweep on the same query — both phase-1
        implementations must agree exactly."""
        _, blocks = indexes
        forced = _fresh(blocks)
        for term in ["fox", "search engine", "river mountain"]:
            a = [(r["docid"], round(r["score"], 9))
                 for r in blocks.wand_topk(term, k=10).collect()]
            with _sweep_cap(0):
                b = [(r["docid"], round(r["score"], 9))
                     for r in forced.wand_topk(term, k=10).collect()]
            assert a == b and a, term


class TestWandAllowDuplicates:
    """Blocks carry per-posting tf numerators, so block-max pruning now
    covers allow_duplicates (tf = occ/fl) — previously routed to the
    plain path. Bound stays achieved (max of exact scores)."""

    @pytest.fixture(scope="class")
    def dup_indexes(self, spark, tmp_path_factory):
        out = str(tmp_path_factory.mktemp("wanddupidx"))
        cfg = IndexConfig(
            schema={"text": "string", "lang": "enum"},
            tokenizer=TokenizerConfig(
                stemming=True,
                stopwords=TokenizerConfig.full().stopwords,
                allow_duplicates=True,
            ),
        )
        n = 2400  # enough docs that hot terms span many 128-posting blocks
        g = CorpusGenerator(seed=7)
        cols = g.batch(np.arange(n, dtype=np.int64))
        rows = [
            {"docid": i, "text": cols["text"][i], "lang": cols["lang"][i]}
            for i in range(n)
        ]
        IndexBuilder(cfg, postings_partitions=3).build(
            spark.createDataFrame(rows), out, input_id="wd"
        )
        return SearchIndex.load(spark, out, cfg), BlockIndex.build(spark, out, cfg), cfg

    @pytest.mark.parametrize("term", ["fox", "search engine", "river mountain"])
    def test_rank_identity_vs_plain(self, dup_indexes, term):
        plain, blocks, _ = dup_indexes
        want = [
            (r["docid"], r["score"])
            for r in plain.search(term=term, exact=True, limit=10).top_df().collect()
        ]
        keep = plain.exact_filter_ids(term)
        got = [
            (r["docid"], r["score"])
            for r in blocks.wand_topk(term, k=10, keep_ids=keep).collect()
        ]
        assert [g[0] for g in got] == [w[0] for w in want], term
        for (gi, gs), (wi, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9)

    @staticmethod
    def _hot_pair(plain) -> str:
        # two hot POSITIVE-idf terms (df well under N — df counts
        # occurrences under allow_duplicates, so the very hottest terms
        # go idf-negative and soundly disengage pruning)
        n = plain.stats["docs_count"]
        return " ".join(
            r["term"]
            for r in plain.dictionary.where(F.col("df") < 0.4 * n)
            .orderBy(F.desc("df")).limit(2).collect()
        )

    def test_pruning_nonzero_under_duplicates(self, dup_indexes):
        # the hot pair spans many blocks — pruning must DROP some (θ > 0,
        # kept < total), the property that was vacuous while
        # allow_duplicates routed to the plain path
        plain, blocks, _ = dup_indexes
        st = blocks.pruning_stats(self._hot_pair(plain), k=10)
        assert st["blocks_total"] >= 8
        assert 0 < st["blocks_kept"] < st["blocks_total"]
        assert st["theta"] > 0

    def test_pruning_stats_driver_vs_distributed(self, dup_indexes):
        plain, blocks, _ = dup_indexes
        term = self._hot_pair(plain)
        a = blocks.pruning_stats(term, k=10)
        with _sweep_cap(0):
            b = _fresh(blocks).pruning_stats(term, k=10)
        assert (a["blocks_total"], a["blocks_kept"]) == (
            b["blocks_total"], b["blocks_kept"])
        assert a["theta"] == pytest.approx(b["theta"], rel=1e-12)

    def test_negative_idf_query_disengages_but_stays_exact(self, dup_indexes):
        # the single hottest term has df > N (idf < 0): θ ≤ 0 disengages
        # pruning, and the result must still equal the plain path
        plain, blocks, _ = dup_indexes
        hot = plain.dictionary.orderBy(F.desc("df")).first()["term"]
        want = [
            (r["docid"], r["score"])
            for r in plain.search(term=hot, exact=True, limit=10).top_df().collect()
        ]
        keep = plain.exact_filter_ids(hot)
        got = [
            (r["docid"], r["score"])
            for r in blocks.wand_topk(hot, k=10, keep_ids=keep).collect()
        ]
        assert [g[0] for g in got] == [w[0] for w in want]
        for (gi, gs), (wi, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9)

    def test_theta_is_a_lower_bound(self, dup_indexes):
        # includes the negative-idf hottest term, whose θ is negative
        plain, blocks, _ = dup_indexes
        hot = plain.dictionary.orderBy(F.desc("df")).first()["term"]
        thetas = _thetas_sound(plain, blocks, [
            "fox", "search engine", "river mountain", "fox fox",
            "fox fox river", self._hot_pair(plain), hot,
        ])
        assert max(thetas) > 0 and min(thetas) < 0

    @pytest.mark.parametrize("term", ["fox fox", "fox fox river"])
    def test_duplicate_token_rank_identity(self, dup_indexes, term):
        # r4 ADVICE: the reference scores each query-token OCCURRENCE
        # ('fox fox' counts fox twice) — θ seed, sweep upper bounds and
        # phase-2 scores must all weight duplicates identically, or the
        # final score≥θ filter drops true top-k hits.
        plain, blocks, _ = dup_indexes
        want = [
            (r["docid"], r["score"])
            for r in plain.search(term=term, exact=True, limit=10).top_df().collect()
        ]
        keep = plain.exact_filter_ids(term)
        got = [
            (r["docid"], r["score"])
            for r in blocks.wand_topk(term, k=10, keep_ids=keep).collect()
        ]
        assert [g[0] for g in got] == [w[0] for w in want], term
        assert got, term
        for (gi, gs), (wi, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9)

    def test_duplicate_token_batch_matches_single(self, dup_indexes):
        # r4 ADVICE follow-up: wand_topk_many used set(toks), silently
        # deduping where the single path weights — per-qid identity must
        # hold for duplicate-token queries too
        _, blocks, _ = dup_indexes
        queries = {"a": "fox fox", "b": "river fox fox", "c": "fox"}
        got = blocks.wand_topk_many(queries, k=10).collect()
        by_qid: dict = {}
        for r in got:
            by_qid.setdefault(r["qid"], []).append((r["docid"], r["score"]))
        for qid, text in queries.items():
            want = [
                (r["docid"], r["score"])
                for r in blocks.wand_topk(text, k=10).collect()
            ]
            have = by_qid.get(qid, [])
            assert [h[0] for h in have] == [w[0] for w in want], qid
            for (hi, hs), (wi, ws) in zip(have, want):
                assert hs == pytest.approx(ws, rel=1e-9)

    def test_duplicate_token_sweeps_identical(self, dup_indexes):
        # weighted driver sweep ≡ weighted distributed sweep
        _, blocks, _ = dup_indexes
        forced = _fresh(blocks)
        for term in ["fox fox", "fox fox river"]:
            a = [(r["docid"], round(r["score"], 9))
                 for r in blocks.wand_topk(term, k=10).collect()]
            with _sweep_cap(0):
                b = [(r["docid"], round(r["score"], 9))
                     for r in forced.wand_topk(term, k=10).collect()]
            assert a == b and a, term

    def test_tfns_materialized(self, dup_indexes):
        # duplicate-bearing blocks must carry non-empty tfn payloads
        _, blocks, _ = dup_indexes
        n_nontrivial = blocks.blocks.where(F.length("tfns") > 0).count()
        assert n_nontrivial > 0


def test_int_docid_builds_blocks(spark, tmp_path):
    """An index whose docid column is an int reads back with that stored
    type, builds blocks, and WAND over them ranks as the plain path
    (the exact-mode filter as its keep_ids mask)."""
    out = str(tmp_path / "intdocid")
    g = CorpusGenerator(seed=5)
    cols = g.batch(np.arange(300, dtype=np.int64))
    df = spark.createDataFrame(
        [(i, cols["text"][i], cols["lang"][i]) for i in range(300)],
        "docid int, text string, lang string",
    )
    IndexBuilder(CFG, postings_partitions=2).build(df, out, input_id="intdocid")
    blocks = BlockIndex.build(spark, out, CFG)
    plain = SearchIndex.load(spark, out, CFG)
    assert dict(plain.docs.dtypes)["docid"] == "int"
    for term in ("fox", "search engine"):
        want = [
            (r["docid"], r["score"])
            for r in plain.search(term=term, exact=True, limit=10).top_df().collect()
        ]
        got = [
            (r["docid"], r["score"])
            for r in blocks.wand_topk(term, k=10, keep_ids=plain.exact_filter_ids(term)).collect()
        ]
        assert want and [g[0] for g in got] == [w[0] for w in want], term
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, rel=1e-9)
