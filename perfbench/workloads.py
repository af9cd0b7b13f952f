"""Set-up and the three workloads.

``build``  one client runs fresh builds (IndexBuilder.build, then
           BlockIndex.build) into new empty directories, at least
           ``MIN_BUILDS`` of them; the query layer is idle.
``query``  one closed-loop client runs the seeded query mix against the
           index built in set-up; the build layer is idle.
``serve``  nproc closed-loop clients share the session: nproc-1 readers
           run the query mix against the set-up index while one writer
           applies insert/remove batches to its own copy and, after each
           batch, loads that copy and runs one query (read after write).
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import threading
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

import ops
from inputs import (
    TEMPLATES, Query, QueryPool, build_oracle, expected_answer, extra_docs,
    index_config, materialize_corpus,
)
from session import cores
from tracing import Op, Tracer, median

SETUP_REPS = 3  # corpus + oracle + query pool, set up this many times
WRITE_BATCH = 50  # documents per insert or remove batch
# A build takes about half the window, so a time limit alone would let
# one run time two builds and the next three; a floor keeps the count.
MIN_BUILDS = 3


@dataclasses.dataclass
class Sample:
    """One completed op of the workload."""

    kind: str  # build | query | write_read | insert | remove | load | warmup | overhead
    op: Op
    template: str = ""
    cold: bool = False
    hits: int = 0
    extra: dict = dataclasses.field(default_factory=dict)


class Context:
    def __init__(self, spark, tracer: Tracer, failures: ops.Failures,
                 seed: int, work: str, n_docs: int):
        self.spark, self.tracer, self.failures = spark, tracer, failures
        self.seed, self.work, self.n_docs = seed, work, n_docs
        self.cfg = index_config()
        self.samples: list[Sample] = []
        self._lock = threading.Lock()
        self._seen: set[str] = set()
        self.corpus_ops: list[Op] = []
        self.writer: Writer | None = None

    def add(self, s: Sample) -> None:
        with self._lock:
            self.samples.append(s)

    def first_time(self, key: str) -> bool:
        with self._lock:
            new = key not in self._seen
            self._seen.add(key)
            return new

    def of(self, kind: str) -> list[Sample]:
        return [s for s in self.samples if s.kind == kind]


def guarded(ctx: Context, what: str, fn) -> bool:
    """Run one op; an exception counts as a failed op and the run goes on."""
    try:
        fn()
        return True
    except Exception:
        ctx.failures.record(what, traceback.format_exc(limit=3))
        return False


# ---------------------------------------------------------------- set-up
def setup(ctx: Context, workload: str) -> dict:
    """Materialize the corpus and answer the query pool with the oracle
    ``SETUP_REPS`` times (their median is reported), then build the
    index the workload starts from, once."""
    reps = []
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        path = os.path.join(ctx.work, f"corpus-{r}")
        with ctx.tracer.op("sources.corpus", untagged=True) as c:
            rows = materialize_corpus(ctx.spark, ctx.n_docs, ctx.seed, path)
        oracle = build_oracle(rows)
        pool = QueryPool(rows, oracle, ctx.seed)
        reps.append(time.perf_counter() - t0)
        ctx.corpus_ops.append(c)
        if r:
            shutil.rmtree(os.path.join(ctx.work, f"corpus-{r - 1}"))
    ctx.rows, ctx.oracle, ctx.pool, ctx.corpus_path = rows, oracle, pool, path
    ctx.input_bytes = int(sum(len(t.encode("utf-8")) for t in rows["text"]))

    t0 = time.perf_counter()
    ctx.index_dir = os.path.join(ctx.work, "index")
    built = ops.fresh_build(ctx.spark, ctx.tracer, ctx.cfg, ctx.corpus_path, ctx.index_dir)
    problem = ops.check_build(built, ctx.index_dir, oracle)
    if problem:
        raise RuntimeError(f"set-up build is wrong: {problem}")
    ctx.index, ctx.blocks, lop = ops.load(ctx.spark, ctx.tracer, ctx.cfg, ctx.index_dir)
    ctx.add(Sample("load", lop))
    if workload != "build":
        # one checked query per template warms the JVM's query paths;
        # each uses its template's last pool rank, which the streams
        # rarely draw
        for t in TEMPLATES:
            one_query(ctx, ctx.pool.by_template[t][-1], kind="warmup")
    if workload == "serve":
        ctx.writer = Writer(ctx)
    index_s = time.perf_counter() - t0
    ctx.setup_index = {
        "bytes": ops.table_bytes(ctx.index_dir),
        "index_bytes": ops.dir_bytes(ctx.index_dir),
        "postings_rows": ops.postings_rows(ctx.index_dir),
        "stage_s": {s: built["results"][s]["seconds"] for s in ops.BUILD_STAGES},
        "built": built,
    }
    return {"rep_s": reps, "index_s": index_s}


# ---------------------------------------------------------------- ops
def one_query(ctx: Context, q: Query, index=None, blocks=None, kind="query",
              tracer=None) -> None:
    tracer = tracer or ctx.tracer
    # set-up warm-ups fill the same driver caches a drawn query does
    cold = ctx.first_time(q.key) if kind in ("query", "warmup") else False
    with tracer.op(f"query.{q.template}") as op:
        rows = ops.run_query(tracer, op, index or ctx.index, blocks or ctx.blocks, q)
    ops.check_query(ctx.failures, q, rows)
    ctx.add(Sample(kind, op, q.template, cold, len(rows)))


def one_build(ctx: Context, i: int) -> None:
    out = os.path.join(ctx.work, f"build-{i}")
    built = ops.fresh_build(ctx.spark, ctx.tracer, ctx.cfg, ctx.corpus_path, out)
    ok = ctx.failures.record("fresh build", ops.check_build(built, out, ctx.oracle))
    if ok:
        op = Op("build", 0, built["build"].start, built["blocks"].end)
        ctx.add(Sample("build", op, extra={
            "built": built,
            "bytes": ops.table_bytes(out),
            "index_bytes": ops.dir_bytes(out),
            "postings_rows": ops.postings_rows(out),
            "stage_s": {s: built["results"][s]["seconds"] for s in ops.BUILD_STAGES},
        }))
    shutil.rmtree(out)


class Writer:
    """The ``serve`` writer: alternates insert and remove batches on its
    own copy of the index, mirrors each batch into its own oracle, and
    after each batch loads the copy and checks one query against it."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.dir = os.path.join(ctx.work, "writer-index")
        shutil.copytree(ctx.index_dir, self.dir)
        self.oracle = build_oracle(ctx.rows)
        rng = np.random.default_rng([ctx.seed, 3])
        self.removable = [int(d) for d in rng.permutation(ctx.rows["docid"].to_numpy())]
        self.next_id = ctx.n_docs
        self.batches = 0

    def step(self) -> None:
        ctx = self.ctx
        if self.batches % 2 == 0:
            pdf = extra_docs(ctx.seed, self.next_id, WRITE_BATCH)
            self.next_id += WRITE_BATCH
            op = ops.insert_batch(ctx.spark, ctx.tracer, ctx.cfg, self.dir, pdf)
            for d, t, lang in zip(pdf["docid"], pdf["text"], pdf["lang"]):
                self.oracle.insert({"text": t, "lang": lang}, docid=int(d))
            ctx.add(Sample("insert", op))
        else:
            ids, self.removable = self.removable[:WRITE_BATCH], self.removable[WRITE_BATCH:]
            op = ops.remove_batch(ctx.spark, ctx.tracer, ctx.cfg, self.dir, ids)
            for d in ids:
                self.oracle.remove(d)
            ctx.add(Sample("remove", op))
        singles = ctx.pool.by_template["single"]
        q = singles[self.batches % len(singles)]
        self.batches += 1
        q = dataclasses.replace(q, expected=expected_answer(self.oracle, q))
        index, _, lop = ops.load(ctx.spark, ctx.tracer, ctx.cfg, self.dir, with_blocks=False)
        ctx.add(Sample("load", lop))
        one_query(ctx, q, index=index, kind="write_read")

    def pending_rows(self) -> dict:
        def rows(name):
            path = os.path.join(self.dir, name)
            return pq.ParquetDataset(path).read().num_rows if os.path.exists(path) else 0

        return {"tombstone_rows": rows("tombstones"), "delta_rows": rows("dictionary_delta")}


# ---------------------------------------------------------------- loops
def run_build(ctx: Context, deadline: float) -> None:
    i = 0
    while i < MIN_BUILDS or time.perf_counter() < deadline:
        guarded(ctx, "fresh build", lambda: one_build(ctx, i))
        i += 1


def reader(ctx: Context, client: int, deadline: float) -> None:
    stream = ctx.pool.stream(ctx.seed, client)
    while time.perf_counter() < deadline:
        q = next(stream)
        guarded(ctx, f"{q.template} query {q.term!r}", lambda: one_query(ctx, q))


def run_query(ctx: Context, deadline: float) -> None:
    reader(ctx, 0, deadline)


def run_serve(ctx: Context, deadline: float) -> None:
    def write_loop():
        while time.perf_counter() < deadline:
            guarded(ctx, "write batch", ctx.writer.step)

    threads = [threading.Thread(target=reader, args=(ctx, c, deadline))
               for c in range(max(cores() - 1, 1))]
    threads.append(threading.Thread(target=write_loop))
    for t in threads:
        t.start()
    for t in threads:
        t.join()


WORKLOADS = {"build": run_build, "query": run_query, "serve": run_serve}


# ---------------------------------------------------- traced-run probe
def probe_layers(ctx: Context) -> None:
    """Traced runs only, after the timed window: give every layer the
    workload left idle one measured call, so each per-layer metric is a
    measurement on every workload. Per template, one query on a key not
    yet drawn (cold) and one on a key already drawn (warm); writer
    batches (on a copy of the set-up index) until an insert and a remove
    have run."""
    for t in TEMPLATES:
        done = [s for s in ctx.of("query") if s.template == t]
        pool = ctx.pool.by_template[t]
        if not any(s.cold for s in done):
            fresh = [q for q in pool if q.key not in ctx._seen]
            guarded(ctx, f"{t} probe", lambda: one_query(ctx, fresh[0]))
        if not any(not s.cold for s in ctx.of("query") if s.template == t):
            seen = [q for q in pool if q.key in ctx._seen]
            guarded(ctx, f"{t} probe", lambda: one_query(ctx, seen[0]))
    if ctx.writer is None:
        ctx.writer = Writer(ctx)
    for _ in range(2):  # the writer alternates insert and remove
        if ctx.of("insert") and ctx.of("remove"):
            break
        guarded(ctx, "write batch", ctx.writer.step)


def overhead_ratio(ctx: Context, reps: int = 5) -> float:
    """Traced over untraced wall time of the same warm query, run
    alternately ``reps`` times each."""
    q = ctx.pool.by_template["single"][0]
    plain = Tracer(ctx.spark, enabled=False)
    times = {True: [], False: []}
    for _ in range(reps):
        for traced in (False, True):
            t0 = time.perf_counter()
            one_query(ctx, q, kind="overhead", tracer=ctx.tracer if traced else plain)
            times[traced].append(time.perf_counter() - t0)
    return median(times[True]) / median(times[False])


def blocks_kept_ratio(ctx: Context, n_terms: int = 3) -> float:
    ratios = []
    for q in ctx.pool.by_template["wand"][:n_terms]:
        st = ctx.blocks.pruning_stats(q.term, k=10)
        ratios.append(st["blocks_kept"] / max(st["blocks_total"], 1))
    return median(ratios)
