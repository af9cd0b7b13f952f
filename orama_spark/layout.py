"""How many partitions a stage over an input runs at, and how many files
it writes: the library's one partitioning policy.

A width is a function of three things the driver observes without a
Spark job:

  * the input's file splits, as Spark plans its scans: a 100 TB source
    arrives in thousands of splits and keeps them;
  * the bytes the frame reads: the compressed size of the column chunks
    it projects, summed from the parquet footers (so an id-only read of
    a wide file is sized on the id column), or Catalyst's size estimate
    for a frame with no input files (a local relation);
  * the cores (``defaultParallelism``).

    width = max(splits, min(cores, ceil(bytes / unit)))

The unit, the input bytes one partition is worth, is the only thing
that differs between kernels, and only by kind (the ``light`` flag). A
heavy kernel (tokenize, hashing, media decode) costs more per byte than
the exchange that moves the byte, so any non-empty input is worth the
cores. A light one (URL math, one-pass counting) is cheaper than the
exchange below about a MiB a partition: a cores-wide fan-out measured
+0.08-0.23 s per query over the 0.6 MB sf0.1 documents.

An index's tables are sized as light: a table's width is the number of
files every later query over it scans, a task each (the filter query
family ran 25% faster over 8 postings files than over 32 at sf1.0),
while tokenizing a MiB on one task takes about 0.2 s at the traced
5.1 MB/s.
"""

from __future__ import annotations

import math

import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import DataFrame

# input bytes per partition, by kernel kind (light=False / True)
_UNIT = {False: 1, True: 1 << 20}


def _scan_bytes(scan, cap: int) -> int:
    """Compressed bytes of the columns a parquet ``scan`` (a
    FileSourceScanExec) reads, from its files' footers; the files' own
    size for another format. Stops once past ``cap``."""
    relation = scan.relation()
    if relation.fileFormat().toString() != "Parquet":
        return int(relation.sizeInBytes())
    cols = set(scan.requiredSchema().fieldNames())
    total = 0
    for uri in relation.inputFiles():
        fs, path = pafs.FileSystem.from_uri(uri)
        with fs.open_input_file(path) as src:
            meta = pq.read_metadata(src)
        for g in range(meta.num_row_groups):
            group = meta.row_group(g)
            for c in range(group.num_columns):
                chunk = group.column(c)
                if chunk.path_in_schema.split(".")[0] in cols:
                    total += chunk.total_compressed_size
        if total > cap:
            break
    return total


def _splits_and_bytes(df: DataFrame, cap: int) -> tuple[int, int]:
    """(file splits, bytes read) of ``df``: the splits of every file
    scan in its physical plan, and their projected bytes (counted up to
    ``cap``); one split of Catalyst's size estimate when it scans no
    files."""
    qe = df._jdf.queryExecution()
    leaves = qe.sparkPlan().collectLeaves()
    scans = [leaves.apply(i) for i in range(leaves.size())]
    scans = [s for s in scans if s.getClass().getSimpleName() == "FileSourceScanExec"]
    if not scans:
        return 1, int(qe.optimizedPlan().stats().sizeInBytes())
    total = 0
    for s in scans:
        total += _scan_bytes(s, cap - total)
    return sum(s.inputRDD().getNumPartitions() for s in scans), total


def _width(df: DataFrame, light: bool) -> tuple[int, int]:
    """(width, file splits) of a stage over ``df``: the module rule."""
    cores = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    unit = _UNIT[light]
    splits, nbytes = _splits_and_bytes(df, cores * unit)
    return max(splits, min(cores, math.ceil(nbytes / unit)), 1), splits


def fan_out(df: DataFrame, key: str, light: bool = False) -> DataFrame:
    """``df`` hash partitioned on ``key`` to its width when that is
    wider than its scans run (a small input arrives in one row group, a
    single task), else ``df`` as it is. Hashing on a key, not round
    robin, keeps a retried task's rows the same."""
    n, splits = _width(df, light)
    return df.repartition(n, key) if n > splits else df


def index_widths(df: DataFrame, postings: int | None = None) -> dict[str, int]:
    """Partitions of an index's range-partitioned tables when built from
    ``df``: postings at ``postings`` when the caller overrides it, else
    at ``df``'s light width; docs at half of that and both dictionaries
    at an eighth (a dictionary row stands for many postings)."""
    n = postings or _width(df, light=True)[0]
    return {"docs": max(n // 2, 1), "postings": n, "dictionary": max(n // 8, 1)}
