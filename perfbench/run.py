"""orama_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {build,query,serve} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout. The run generates its inputs from the
seed, builds what it needs from the checkout's ``orama_spark`` sources,
times the workload for ``--seconds`` (``build``: at least
``workloads.MIN_BUILDS`` builds), checks every answer, and prints a
report followed by one JSON line: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1`` (end-to-end
numbers come only from untraced runs). Traced runs also write their
spans to ``.perfbench_out/``. Everything else the run writes stays in
``.perfbench_work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

ROOT = os.getcwd()
N_DOCS = 2000


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=("build", "query", "serve"))
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def tokenize_mb_per_s(rows, reps: int = 3) -> float:
    """Spark-free kernel throughput: a fresh tokenizer (empty memo) over
    the corpus text, in MB of UTF-8 input per second."""
    from orama_spark.kernel.tokenizer import Tokenizer, TokenizerConfig

    texts = list(rows["text"])
    mb = sum(len(t.encode("utf-8")) for t in texts) / 1e6
    times = []
    for _ in range(reps):
        tok = Tokenizer(TokenizerConfig.full())
        t0 = time.perf_counter()
        for t in texts:
            tok.tokenize(t, "text")
        times.append(time.perf_counter() - t0)
    return mb / sorted(times)[len(times) // 2]


def execute(spark, session_s: float, workload: str, seed: int, seconds: float,
            trace: bool, work: str, n_docs: int = N_DOCS, tamper=None) -> dict:
    """Set up, run the workload for ``seconds`` and return the result
    object. ``tamper(pool)`` may alter expected answers before the run,
    so a self-test can check that a wrong answer is caught."""
    import metrics
    import workloads
    from ops import Failures
    from session import effective_conf
    from tracing import Tracer, control_s, median

    tracer = Tracer(spark, enabled=trace)
    failures = Failures(seed)
    ctx = workloads.Context(spark, tracer, failures, seed, work, n_docs)
    controls = [control_s()]
    setup = workloads.setup(ctx, workload)
    if tamper is not None:
        tamper(ctx.pool)
    controls.append(control_s())

    start = time.perf_counter()
    deadline = start + seconds
    workloads.WORKLOADS[workload](ctx, deadline)
    elapsed = time.perf_counter() - start
    controls.append(control_s())

    print("conf " + json.dumps(effective_conf(spark), sort_keys=True))
    print(f"workload={workload} seed={seed} seconds={seconds} trace={int(trace)} "
          f"docs={n_docs} window_s={elapsed:.3f} host.control_s={median(controls):.4f}")
    print(f"setup: session_s={session_s:.3f} rep_s={[round(r, 3) for r in setup['rep_s']]} "
          f"index_s={setup['index_s']:.3f}")
    for line in metrics.report(ctx, workload, elapsed, failures):
        print(line)

    if trace:
        workloads.probe_layers(ctx)
        extra = {
            "tokenize_mb_per_s": tokenize_mb_per_s(ctx.rows),
            "control_s": median(controls),
            "overhead_ratio": workloads.overhead_ratio(ctx),
            "blocks_kept_ratio": workloads.blocks_kept_ratio(ctx),
        }
        chosen = metrics.per_layer(ctx, workload, extra)
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(out, f"trace-{workload}-seed{seed}.json"))
        for name, s in sorted(tracer.self_seconds().items()):
            print(f"self_s {name:28s} {s:10.4f}")
    else:
        chosen = metrics.end_to_end(ctx, workload, setup, session_s)

    finite = all(math.isfinite(v) for v, _ in chosen.values())
    if not finite:
        print("missing samples: " + ", ".join(k for k, (v, _) in chosen.items()
                                              if not math.isfinite(v)))
    return {
        "correct": failures.failed == 0 and finite,
        "attempted": failures.attempted,
        "failed": failures.failed,
        "metrics": {k: {"value": v if math.isfinite(v) else None, "unit": u}
                    for k, (v, u) in chosen.items()},
    }


def remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))  # only if no other run uses it
    except OSError:
        pass


def main(argv=None) -> int:
    if os.environ.get("PYTHONHASHSEED") != "0":
        # str hashes are salted per process, so set and dict orders (here
        # and in the Spark Python workers, which inherit the environment)
        # would differ between runs of one seed; fix the salt
        os.environ["PYTHONHASHSEED"] = "0"
        os.execv(sys.executable, [sys.executable] + sys.argv)
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "orama_spark", "__init__.py")):
        print(f"no orama_spark package under {ROOT}; run from the root of a "
              "checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import session

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        spark = session.start(ROOT, work)
        session_s = time.perf_counter() - t0
        try:
            result = execute(spark, session_s, args.workload, args.seed,
                             args.seconds, bool(args.trace), work)
        finally:
            session.stop(spark)
    finally:
        remove_work(work)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
