"""The operations the benchmark times, each driven only through the
library's public functions, and the checks on their outputs."""

from __future__ import annotations

import json
import os
import threading

import pyarrow.parquet as pq

from orama_spark.build.indexer import IndexBuilder
from orama_spark.build.maintenance import insert_documents, remove_documents
from orama_spark.query.engine import SearchIndex
from orama_spark.query.wand import BlockIndex

from inputs import TOP_K, Query, mismatch

# The seven stages of a fresh IndexBuilder.build, as named in its manifest.
BUILD_STAGES = (
    "docs", "tokens", "postings", "dictionary", "dictionary_bylen", "docmeta", "stats",
)
# Index tables whose on-disk bytes are reported; "blocks" covers the two
# directories BlockIndex.build writes.
TABLES = BUILD_STAGES[:-1] + ("blocks",)
BLOCK_DIRS = ("blocks", "champions")


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def run_query(tracer, op, index: SearchIndex, blocks: BlockIndex, q: Query) -> list:
    """One query: ``plan`` is the call into the library until it hands
    back a DataFrame (including any driver-side actions it takes
    eagerly), ``exec`` is the collect of the page."""
    with tracer.part(op, "plan"):
        if q.template == "wand":
            df = blocks.wand_topk(q.term, k=TOP_K)
        elif q.template == "facet":
            df = index.facets_df(index.search(term=q.term), "lang")
        else:
            df = index.search(term=q.term, limit=TOP_K, **q.kw).top_df()
    with tracer.part(op, "exec"):
        return df.collect()


class Failures:
    """Errors and wrong answers, counted against ops attempted; each is
    printed with the query and the seed that reproduce it."""

    def __init__(self, seed: int):
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self._lock = threading.Lock()

    def record(self, what: str, problem: str | None) -> bool:
        with self._lock:
            self.attempted += 1
            if problem is None:
                return True
            self.failed += 1
        print(f"FAILED seed={self.seed} {what}: {problem}", flush=True)
        return False


def check_query(failures: Failures, q: Query, rows) -> bool:
    return failures.record(f"{q.template} query {q.term!r} {q.kw}", mismatch(q, rows))


def fresh_build(spark, tracer, cfg, corpus_path: str, out_dir: str) -> dict:
    """IndexBuilder.build then BlockIndex.build into ``out_dir``, which
    must not exist yet: a build whose fingerprint matches a manifest in
    its directory skips every stage and would time nothing."""
    if os.path.exists(out_dir):
        raise RuntimeError(f"build directory {out_dir} already exists")
    df = spark.read.parquet(corpus_path)
    with tracer.op("build.index", untagged=True) as b:
        results = IndexBuilder(cfg).build(df, out_dir, input_id=corpus_path)
    with tracer.op("blocks.build", untagged=True) as k:
        BlockIndex.build(spark, out_dir, cfg)
    return {"build": b, "blocks": k, "results": results}


def check_build(built: dict, out_dir: str, oracle) -> str | None:
    """Every stage ran in this build, and the index holds what the
    oracle holds: the document count, each term's df, and every posting
    (in the postings table and again in the blocks). Reads the parquet
    footers and the dictionary with pyarrow, so no Spark job runs."""
    results = built["results"]
    skipped = [s for s in BUILD_STAGES if s not in results or results[s].get("skipped")]
    if skipped:
        return f"stages not run in this build: {skipped}"
    with open(os.path.join(out_dir, "stats.json")) as f:
        stats = json.load(f)
    if stats["docs_count"] != len(oracle.docs):
        return f"docs_count {stats['docs_count']} != {len(oracle.docs)}"
    d = pq.read_table(os.path.join(out_dir, "dictionary"), columns=["field", "term", "df"])
    got = {t: df for f_, t, df in zip(*(d.column(c).to_pylist() for c in ("field", "term", "df")))
           if f_ == "text"}
    want = {t: n for t, n in oracle.token_occurrences["text"].items() if n > 0}
    if got != want:
        return f"dictionary differs from the oracle on {len(set(got.items()) ^ set(want.items()))} terms"
    n_postings = sum(len(ids) for ids in oracle.terms["text"].values())
    n_rows = postings_rows(out_dir)
    if n_rows != n_postings:
        return f"{n_rows} postings, oracle has {n_postings}"
    blocks = pq.read_table(os.path.join(out_dir, "blocks"), columns=["n"])
    if sum(blocks.column("n").to_pylist()) != n_postings:
        return "blocks do not cover every posting"
    return None


def postings_rows(out_dir: str) -> int:
    return pq.ParquetDataset(os.path.join(out_dir, "postings")).read(columns=["docid"]).num_rows


def table_bytes(out_dir: str) -> dict:
    out = {t: dir_bytes(os.path.join(out_dir, t)) for t in TABLES if t != "blocks"}
    out["blocks"] = sum(dir_bytes(os.path.join(out_dir, t)) for t in BLOCK_DIRS)
    return out


def load(spark, tracer, cfg, index_dir: str, with_blocks: bool = True):
    with tracer.op("query.load") as op:
        index = SearchIndex.load(spark, index_dir, cfg)
        blocks = BlockIndex.load(spark, index_dir, cfg) if with_blocks else None
    return index, blocks, op


def insert_batch(spark, tracer, cfg, index_dir: str, pdf):
    with tracer.op("maintenance.insert") as op:
        insert_documents(spark, index_dir, cfg, spark.createDataFrame(pdf))
    return op


def remove_batch(spark, tracer, cfg, index_dir: str, docids: list[int]):
    with tracer.op("maintenance.remove") as op:
        remove_documents(
            spark, index_dir, cfg, spark.createDataFrame([(d,) for d in docids], "docid long")
        )
    return op
