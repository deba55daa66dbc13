"""Continuous ingestion: a Structured Streaming wrapper around stage 1.

The reference is batch-incremental (SURVEY §2.9) and the north rule demands
resumable BATCH stages — but a crawl feed is naturally a stream, so this
module provides the streaming spelling of stage 1 for users who want
continuous materialization instead of scheduled batches:

  * source: file stream over a parquet directory of pages rows (new files =
    new crawl snapshots); at scale, swap for Kafka/Kinesis — the transform
    is source-agnostic;
  * transform: the SAME extract_documents mapInPandas kernel (byte-identity
    invariant holds per micro-batch);
  * sink: foreachBatch writes documents into a ``batch_id=N`` partition
    with dynamic partition OVERWRITE — foreachBatch is only at-least-once,
    so a replayed batch must land idempotently (re-running batch N rewrites
    partition N instead of appending duplicates); the checkpoint offset log
    then upgrades this to effective exactly-once. The batch's lineage rows
    come from the footers of the files it wrote (plans/lineage.py) into
    ``lineage/batch_id=N/documents.parquet``, replaced the same way.

Watermarks/event-time windows are intentionally absent: warc_ts only
partitions data (the reference has no event-time semantics to preserve).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.stage1_extract import extract_documents
from ..plans.lineage import record_lineage


def stream_pages(
    spark: SparkSession, pages_dir: str, schema: str | None = None
) -> DataFrame:
    """readStream over a growing parquet directory of pages rows."""
    from ..sources.corpus import PAGES_SCHEMA  # one schema definition site

    schema = schema or PAGES_SCHEMA
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_dir)
    )


def start_ingest(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start the streaming stage-1 job; returns the StreamingQuery.

    ``available_now=True`` drains everything currently in the source then
    stops (the batch-parity mode used by tests); False = run continuously.
    """
    stream = stream_pages(spark, pages_dir)

    from pyspark.sql import functions as F

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent: a replayed batch OVERWRITES its own partition
        (
            extract_documents(batch_df, partitions=8)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{out_dir}/documents")
        )
        # the batch's files sit directly in its partition directory
        record_lineage(
            f"{out_dir}/documents/batch_id={batch_id}",
            f"{out_dir}/lineage/batch_id={batch_id}",
            "documents", f"stream_batch_{batch_id}", "url",
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def start_incremental_maintenance(
    spark: SparkSession,
    pages_dir: str,
    tables_dir: str,
    checkpoint_dir: str,
    aliases: DataFrame,
    available_now: bool = True,
    link_graph: bool = False,
):
    """Streaming maintenance of the FULL materialized table set: each
    micro-batch of pages (new or re-crawled urls) is applied with
    plans.pipeline.apply_increment in DELTA mode (upsert — a delta cannot
    prove absence, so nothing is deleted; full-snapshot deletions stay a
    batch operation, reference index.py:1536-1544).

    Per batch: classify vs the stored documents ledger, re-extract only the
    changed frontier, row-level merge, rebuild the corpus-global tables
    (canon/triples/nodes/edges — canonicalization is a global fixpoint).
    The streaming checkpoint gives exactly-once per micro-batch on top of
    apply_increment's idempotence (re-applying a delta is a no-op
    frontier), so a crash between offset commit and table swap is safe.

    Requires ``tables_dir`` to hold a prior run_pipeline output (the
    initial state). Returns the StreamingQuery."""
    from ..plans.pipeline import apply_increment

    stream = stream_pages(spark, pages_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        apply_increment(
            spark,
            batch_df,
            aliases,
            tables_dir,
            fingerprint=f"stream_{batch_id}",
            delete_missing=False,
            link_graph=link_graph,
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
