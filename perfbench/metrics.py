"""From a run's samples to the metrics the benchmark prints.

End-to-end metrics exist on every workload; "op" is the workload's own
operation: a fresh build (IndexBuilder.build + BlockIndex.build) on
``build``, a query (call to collected page) on ``query``, and a reader's
query on ``serve``. The per-workload metrics named after their op kind
(``build_s``, ``query_ms_p90``, ``query_qps``, ``write_ms_p50``, ...)
are printed beside them in the report, where a workload has samples for
them.
"""

from __future__ import annotations

import math

from inputs import TEMPLATES
from ops import BUILD_STAGES, TABLES
from tracing import median, percentile

OP_KIND = {"build": "build", "query": "query", "serve": "query"}


def template_ms_p50(queries) -> float:
    """Geometric mean over the templates of each template's median
    latency. The templates differ in cost, so the median of the whole
    mix jumps between them as the draw changes; this stays put."""
    meds = [median([s.op.seconds * 1000 for s in queries if s.template == t])
            for t in TEMPLATES if any(s.template == t for s in queries)]
    return math.exp(sum(map(math.log, meds)) / len(meds)) if meds else float("nan")


def end_to_end(ctx, workload: str, setup: dict, session_s: float) -> dict:
    ops = ctx.of(OP_KIND[workload])
    if workload == "build":
        op_ms = median([s.op.seconds * 1000 for s in ops])
        index_bytes = median([s.extra["index_bytes"] for s in ops])
    else:
        op_ms = template_ms_p50(ops)
        index_bytes = ctx.setup_index["index_bytes"]
    return {
        "setup_s": (session_s + median(setup["rep_s"]) + setup["index_s"], "s"),
        "op_ms_p50": (op_ms, "ms"),
        "index_bytes_per_input_byte": (index_bytes / ctx.input_bytes, "ratio"),
    }


def report(ctx, workload: str, elapsed: float, failures) -> list[str]:
    """The per-workload end-to-end table, one metric per line."""
    lines = []

    def put(name, values, unit, fn=median, scale=1.0):
        if values:
            lines.append(f"{name:28s} {fn(values) * scale:12.4f} {unit:6s} n={len(values)}")

    builds = ctx.of("build")
    put("build_s", [s.extra["built"]["build"].seconds for s in builds], "s")
    put("blocks_build_s", [s.extra["built"]["blocks"].seconds for s in builds], "s")
    queries = [s.op.seconds for s in ctx.of("query")]
    put("query_ms_p50", queries, "ms", scale=1000)
    if queries:
        beyond = sum(q > percentile(queries, 90) for q in queries)
        put(f"query_ms_p90 ({beyond} beyond)", queries, "ms",
            fn=lambda v: percentile(v, 90), scale=1000)
        lines.append(f"{'query_qps':28s} {len(queries) / elapsed:12.4f} 1/s")
    put("write_ms_p50", [s.op.seconds for s in ctx.of("insert") + ctx.of("remove")], "ms",
        scale=1000)
    put("writer_read_ms_p50", [s.op.seconds for s in ctx.of("write_read")], "ms", scale=1000)
    lines.append(f"{'ops_failed_ratio':28s} {failures.failed / max(failures.attempted, 1):12.4f} "
                 f"ratio  n={failures.attempted}")
    return lines


def per_layer(ctx, workload: str, extra: dict) -> dict:
    """Every per-layer metric; ``extra`` holds the readings taken outside
    the samples (kernel, host control, trace overhead, WAND pruning)."""
    m: dict = {}
    builds = [s.extra for s in ctx.of("build")] or [ctx.setup_index]

    def med(values):
        return median(values) if values else float("nan")

    m["sources.corpus_s"] = (med([op.seconds for op in ctx.corpus_ops]), "s")
    m["kernel.tokenize_mb_per_s"] = (extra["tokenize_mb_per_s"], "MB/s")
    for st in BUILD_STAGES:
        m[f"build.stage_s.{st}"] = (med([b["stage_s"][st] for b in builds]), "s")
    for key in ("jobs", "stages", "tasks"):
        m[f"build.{key}"] = (med([getattr(b["built"]["build"], key) for b in builds]), "count")
    for t in TABLES:
        m[f"build.bytes.{t}"] = (med([b["bytes"][t] for b in builds]), "B")
    m["build.postings_rows"] = (med([b["postings_rows"] for b in builds]), "count")
    for key in ("jobs", "tasks"):
        m[f"blocks.{key}"] = (med([getattr(b["built"]["blocks"], key) for b in builds]), "count")

    m["query.load_ms"] = (med([s.op.seconds * 1000 for s in ctx.of("load")]), "ms")
    queries = ctx.of("query")
    for t in TEMPLATES:
        qs = [s for s in queries if s.template == t]
        m[f"query.plan_ms.{t}"] = (med([s.op.parts["plan"] * 1000 for s in qs]), "ms")
        m[f"query.exec_ms.{t}"] = (med([s.op.parts["exec"] * 1000 for s in qs]), "ms")
        for key in ("jobs", "stages", "tasks"):
            m[f"query.{key}.{t}"] = (med([getattr(s.op, key) for s in qs]), "count")
        m[f"query.cold_ms.{t}"] = (med([s.op.seconds * 1000 for s in qs if s.cold]), "ms")
        m[f"query.warm_ms.{t}"] = (med([s.op.seconds * 1000 for s in qs if not s.cold]), "ms")
        m[f"query.hits.{t}"] = (med([s.hits for s in qs]), "count")
    m["wand.blocks_kept_ratio"] = (extra["blocks_kept_ratio"], "ratio")

    inserts, removes = ctx.of("insert"), ctx.of("remove")
    m["maintenance.insert_ms"] = (med([s.op.seconds * 1000 for s in inserts]), "ms")
    m["maintenance.remove_ms"] = (med([s.op.seconds * 1000 for s in removes]), "ms")
    m["maintenance.jobs"] = (med([s.op.jobs for s in inserts + removes]), "count")
    pending = ctx.writer.pending_rows()
    m["maintenance.tombstone_rows"] = (pending["tombstone_rows"], "count")
    m["maintenance.delta_rows"] = (pending["delta_rows"], "count")

    m["host.control_s"] = (extra["control_s"], "s")
    m["trace.overhead_ratio"] = (extra["overhead_ratio"], "ratio")
    return m
