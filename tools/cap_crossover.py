"""Where the bounded driver path of ``SearchIndex.search`` stops paying.

Builds an index over a synthetic web corpus (``corpus_df``: Zipf words,
four languages; the web profile: stemming and stopwords on ``text``,
``lang`` an enum) and times ``search(...).top_df().collect()`` for
queries whose postings rows span ~1k to ~1.5M: prefix terms chosen by
df, OR queries of the most common terms and of one-letter prefixes, and
``where`` clauses that pass from a twelfth to three quarters of the
docs.

    --mode paths     per query: the driver path (DRIVER_POSTINGS_CAP
                     patched above every query), the distributed path
                     (patched to -1) and the module's default cap,
                     interleaved per rep
    --mode default   per query: the default cap only (runs on any tree
                     that has ``SearchIndex.search``, for a before/after)

One JSON line per query: ``rows`` (Σdf of the matched dictionary rows,
an upper bound on the postings rows the query scores), ``where_docs``
(the docs passing ``where``) and the median ms per path. The index is built once into
WORK_DIR and reused.

Usage: python tools/cap_crossover.py WORK_DIR [--docs 100000] [--reps 5]
           [--mode paths|default] [--cpus 4] [--only NAME,NAME...]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _spark(cpus: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _config():
    from orama_spark.config import IndexConfig
    from orama_spark.kernel import TokenizerConfig

    return IndexConfig(
        schema={"text": "string", "lang": "enum"}, tokenizer=TokenizerConfig.full()
    )


def _build(spark, work: str, n_docs: int) -> str:
    from pyspark.sql import functions as F

    from orama_spark.build.indexer import IndexBuilder
    from orama_spark.sources.webpages import corpus_df

    corpus = os.path.join(work, f"corpus_{n_docs}")
    index_dir = os.path.join(work, f"index_{n_docs}")
    if not os.path.exists(corpus):
        corpus_df(spark, n_docs, seed=7).select(
            F.col("doc_id").alias("docid"), "url", "text", "lang"
        ).write.parquet(corpus)
    if not os.path.exists(os.path.join(index_dir, "stats.json")):
        t0 = time.perf_counter()
        IndexBuilder(_config()).build(spark.read.parquet(corpus), index_dir, input_id=corpus)
        print(f"# built {n_docs} docs in {time.perf_counter() - t0:.0f} s", flush=True)
    return corpus, index_dir


def _queries(index, index_dir: str, corpus: str) -> list:
    """(name, search kwargs, rows, where_docs) spanning the fetch sizes."""
    import pyarrow.parquet as pq

    dic = pq.read_table(os.path.join(index_dir, "dictionary")).to_pandas()
    dic = dic[dic["field"] == "text"]
    by_df = dic.sort_values(["df", "term"], ascending=[False, True])
    langs = pq.read_table(corpus, columns=["lang"]).to_pandas()["lang"].value_counts()

    def sigma(term: str) -> int:
        hit = False
        for t in index.tokenizer.tokenize(term):
            hit = hit | dic["term"].str.startswith(t)
        return int(dic[hit]["df"].sum())

    single = [t for t in by_df["term"] if index.tokenizer.tokenize(t) == [t]]
    out = []
    for target in (1_000, 5_000, 15_000, 30_000, 60_000, 90_000):
        # the first term whose prefix expansion is within 10% of target
        for t in single:
            if abs(sigma(t) - target) <= target / 10:
                out.append((f"prefix~{target}", {"term": t}, sigma(t), 0))
                break
    for k in (2, 4, 8, 12, 16):
        term = " ".join(single[:k])
        out.append((f"or{k}", {"term": term}, sigma(term), 0))
    # one-letter prefixes, most postings first: 0.2M to 1.5M rows
    by_letter = dic.groupby(dic["term"].str[:1])["df"].sum().sort_values(ascending=False)
    letters = [c for c in by_letter.index if index.tokenizer.tokenize(c) == [c]]
    for k in (1, 2, 4, 6):
        term = " ".join(letters[:k])
        out.append((f"letters{k}", {"term": term}, sigma(term), 0))
    mid = out[1][1]["term"]
    for name in (["de"], ["de", "fr", "es"], ["en"]):
        where = {"lang": {"in": name}}
        out.append((f"where_{'_'.join(name)}", {"term": mid, "where": where},
                    sigma(mid), int(langs[name].sum())))
    return out


def _time(index, kw: dict) -> float:
    t0 = time.perf_counter()
    index.search(limit=10, **kw).top_df().collect()
    return (time.perf_counter() - t0) * 1000


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("work_dir")
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--mode", choices=("paths", "default"), default="paths")
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--only", default="", help="comma-separated query names")
    args = ap.parse_args(argv)

    from orama_spark.query import engine
    from orama_spark.query.engine import SearchIndex

    spark = _spark(args.cpus)
    os.makedirs(args.work_dir, exist_ok=True)
    corpus, index_dir = _build(spark, args.work_dir, args.docs)
    index = SearchIndex.load(spark, index_dir, _config())
    default_cap = getattr(engine, "DRIVER_POSTINGS_CAP", None)
    caps = {"default": default_cap}
    if args.mode == "paths":
        caps = {"driver": 10**9, "distributed": -1, "default": default_cap}
    only = set(filter(None, args.only.split(",")))
    for name, kw, rows, where_docs in _queries(index, index_dir, corpus):
        if only and name not in only:
            continue
        ms = {p: [] for p in caps}
        for rep in range(args.reps + 1):  # rep 0 warms up and is dropped
            order = list(caps) if rep % 2 else list(reversed(caps))
            for p in order:
                engine.DRIVER_POSTINGS_CAP = caps[p]
                t = _time(index, kw)
                if rep:
                    ms[p].append(t)
        engine.DRIVER_POSTINGS_CAP = default_cap
        print(json.dumps({
            "query": name, **kw, "rows": rows, "where_docs": where_docs,
            **{f"{p}_ms": round(statistics.median(v)) for p, v in ms.items()},
        }), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
