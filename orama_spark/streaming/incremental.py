"""Structured Streaming incremental index ingestion.

The reference has NO streaming surface (strictly synchronous batch per
call — SURVEY.md §2.12); this is the Spark-native extension of its
``insertMultiple`` batch loop (methods/insert.ts:269-392): a stream of
document batches folds into the same durable index tables through the
incremental-maintenance path, with exactly-once bookkeeping delegated to
the streaming checkpoint + the builder's idempotent manifest stages.

Pattern: readStream -> foreachBatch(fold_batch). The first micro-batch
bootstraps a full build; subsequent batches append via
insert_documents() (tombstone/delta mechanics, no rewrite of existing
postings). At scale the micro-batch cadence amortizes the per-batch
dictionary/stats updates; compact() runs on whatever maintenance window
the deployment chooses.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..build.indexer import BUILD_STAGES, IndexBuilder, input_digest
from ..build.maintenance import insert_documents
from ..build.manifest import BuildManifest
from ..config import IndexConfig


class StreamingIndexWriter:
    """foreachBatch sink folding document micro-batches into an index.

    A batch is inserted into any index with ``stats.json``, unless the
    manifest's docs entry names this batch's input_id and one of
    ``BUILD_STAGES`` is unrecorded: then this batch's own bootstrap was
    torn, and the replayed batch resumes it through the same build."""

    def __init__(self, config: IndexConfig, index_dir: str):
        self.config = config
        self.index_dir = index_dir

    def _bootstrapped(self, input_id: str) -> bool:
        entries = BuildManifest.load(self.index_dir).entries
        if entries.get("docs", {}).get("input") == input_digest(input_id):
            return all(stage in entries for stage in BUILD_STAGES)
        return os.path.exists(os.path.join(self.index_dir, "stats.json"))

    def fold_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        input_id = f"stream-batch-{batch_id}"
        if not self._bootstrapped(input_id):
            IndexBuilder(self.config).build(batch_df, self.index_dir, input_id=input_id)
        else:
            insert_documents(
                batch_df.sparkSession, self.index_dir, self.config, batch_df
            )

    def start(self, stream_df: DataFrame, checkpoint_dir: str):
        """Attach to a streaming DataFrame with an availableNow trigger;
        returns the StreamingQuery."""
        return (
            stream_df.writeStream.foreachBatch(self.fold_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


def index_stream(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    config: IndexConfig,
):
    """Convenience: file-source stream of parquet document batches ->
    incremental index, schema inferred from the files. Blocks until the
    available data is folded."""
    schema = spark.read.parquet(source_dir).schema
    stream = spark.readStream.schema(schema).parquet(source_dir)
    q = StreamingIndexWriter(config, index_dir).start(stream, checkpoint_dir)
    q.awaitTermination()
    return q
