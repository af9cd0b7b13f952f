"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py      # from the root of a checkout

Runs every workload (``build``, ``query``, ``serve``) untraced and
traced on a 300-document corpus for a few seconds each, in one Spark
session, and checks that each run passes its answer checks and reports
exactly the metrics ``BENCHMARK.json`` names, every one a number. Then
it runs ``query`` with one template's expected answers made wrong and
checks that the run counts those queries as failed. Exits 0 on success.
"""

from __future__ import annotations

import json
import math
import os
import sys

import run

TINY_DOCS = 300
SECONDS = 3.0


def wrong_single_answers(pool) -> None:
    for q in pool.by_template["single"]:
        q.expected = [(docid, 2 * score) for docid, score in q.expected]


def main() -> int:
    if not os.path.isfile(os.path.join(run.ROOT, "orama_spark", "__init__.py")):
        print("run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, run.ROOT)
    import session

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = {0: {m["name"] for m in spec["end_to_end"]},
             1: {m["name"] for m in spec["per_layer"]}}
    work = os.path.join(run.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    os.makedirs(work)
    problems = []
    spark = session.start(run.ROOT, work)
    try:
        cases = [(w, t, None) for w in ("build", "query", "serve") for t in (0, 1)]
        cases.append(("query", 0, wrong_single_answers))
        for i, (workload, trace, tamper) in enumerate(cases):
            case_dir = os.path.join(work, str(i))
            os.makedirs(case_dir)
            r = run.execute(spark, 0.0, workload, 7, SECONDS, bool(trace), case_dir,
                            n_docs=TINY_DOCS, tamper=tamper)
            label = f"{workload} trace={trace}" + (" with wrong answers" if tamper else "")
            if tamper:
                if r["correct"] or r["failed"] == 0:
                    problems.append(f"{label}: wrong expected answers were not caught")
                continue
            if not r["correct"] or r["failed"] or r["attempted"] < 1:
                problems.append(f"{label}: correct={r['correct']} failed={r['failed']}")
            got = set(r["metrics"])
            if got != names[trace]:
                problems.append(f"{label}: missing {sorted(names[trace] - got)}, "
                                f"unexpected {sorted(got - names[trace])}")
            bad = [k for k, v in r["metrics"].items()
                   if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"])]
            if bad:
                problems.append(f"{label}: not a number: {bad}")
    finally:
        session.stop(spark)
        run.remove_work(work)
    for p in problems:
        print("SELFTEST FAILED " + p)
    print("selftest " + ("failed" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
