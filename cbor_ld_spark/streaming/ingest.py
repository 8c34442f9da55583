"""Structured Streaming ingest for the KG pipeline.

The north rule is batch + checkpoint-resume (SURVEY.md §2B: no streaming
semantics exist in the reference), so streaming is an *optional* ingest
mode, not a core stage: a continuously-growing corpus directory (or a
Kafka topic of repo pushes, in production) streams through the exact
same kernel pass, because ``mapInArrow`` is streaming-compatible —
stateless per-row transforms need no watermarks.

* source: file stream over repos-shaped parquet (each micro-batch = new
  files; ``maxFilesPerTrigger`` bounds batch size),
* transform: the identical ``process_corpus`` dataflow (sniff filter ->
  kernel pass), so batch and streaming share one code path,
* sink: append-mode parquet (docs results) with exactly-once via the
  streaming checkpoint; downstream graph stages run as periodic batch
  jobs over the accumulated output (the standard lambda-less pattern:
  streaming ingest + incremental batch consolidation).

``trigger(availableNow=True)`` drains everything present and stops —
that is also how the tests drive it hermetically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.corpus import REPOS_SCHEMA


def stream_corpus(spark: SparkSession, input_dir: str,
                  max_files_per_trigger: int | None = None) -> DataFrame:
    """Streaming DataFrame over a growing repos-parquet directory."""
    reader = (spark.readStream
              .schema(REPOS_SCHEMA)
              .format("parquet"))
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(input_dir)


def stream_kg_results(spark: SparkSession, input_dir: str, out_dir: str,
                      checkpoint_dir: str, registry_id: int = 1,
                      available_now: bool = True):
    """Run the kernel pass as a stream; returns the StreamingQuery.

    foreachBatch writes both products of the single kernel pass — doc
    results and exploded triples — per micro-batch; the streaming
    checkpoint gives exactly-once across restarts.
    """
    from cbor_ld_spark.operators.kg import (
        DOC_COLUMNS,
        process_corpus,
        triples_table,
    )

    stream = stream_corpus(spark, input_dir)
    # dedup_content=False: the dedup-first path's dropDuplicates would be
    # unbounded streaming state (no watermark on content hashes); the
    # per-row kernel is stateless and exactly-once under the checkpoint
    processed = process_corpus(stream, registry_id=registry_id,
                               dedup_content=False)

    def write_batch(batch_df, batch_id: int):
        # idempotent by batch_id: a retried micro-batch overwrites its own
        # partition instead of appending duplicates (plain append would be
        # at-least-once; two sinks cannot share one atomic commit)
        from pyspark.sql import functions as F

        batch_df = batch_df.persist()
        (batch_df.select(*DOC_COLUMNS)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id")
         .parquet(f"{out_dir}/docs"))
        (triples_table(batch_df)
         .withColumn("batch_id", F.lit(batch_id))
         .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy("batch_id")
         .parquet(f"{out_dir}/triples"))
        batch_df.unpersist()

    writer = (
        processed.writeStream
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
