"""Streaming CDC ingestion: readStream → foreachBatch(apply_cdc_batch).

The reference's consumer loop (consumer_to_file.py:195-257) maps to one
streaming query: the Kafka source replaces poll(), checkpointing replaces
its fresh-group-id-every-run replay policy (re-ingest = new checkpoint
dir), and each micro-batch runs the same columnar apply pipeline as the
batch path (operators/cdc.apply_cdc_batch): one probe collect for the
whole batch, then one pass per table — validated once through the
table's cached RecordPlan, written once (upserts and deletes together),
its DLQ decision read from that write's observed bad-row count.

Delivery: compact mode is effectively exactly-once across restarts
(checkpointed offsets + an idempotent full overwrite per batch); append
mode defaults to dedup_replays=True, which upgrades at-least-once to
effectively-once: a crash between the parquet write and the checkpoint
commit replays the epoch, but each sink keeps a per-Kafka-partition
high-water mark of applied offsets (recovered from the sink's own
_cdc_partition/_cdc_offset columns on restart) and already-applied rows
are filtered by offset — fully-replayed epochs skip their write outright.
Both modes are an upgrade over the reference, which re-reads from the
earliest offset on EVERY restart by design (consumer_to_file.py:185-187).

Kafka itself isn't in the test container, so `ingest_kafka` is gated;
tests drive the identical body through `ingest_files` (file source) and
`run_batches` (direct foreachBatch simulation) — same code path either way.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from basic_data_pipeline_spark.operators.cdc import SinkTable, apply_cdc_batch


def make_cdc_batch_fn(
    spark: SparkSession,
    sink_root: str,
    mode: str = "append",
    dedup_replays: bool = False,
    sink_factory: Callable[[str], SinkTable] | None = None,
) -> tuple[Callable[[DataFrame, int], None], dict[str, SinkTable]]:
    """Build the foreachBatch body + its cross-batch sink registry (the
    foreachBatch analog of the reference's created_tables set).
    ``sink_factory`` retargets the sinks (e.g. jdbc_sink.JdbcSinkTable
    for a relational store) without changing the batch body."""
    sinks: dict[str, SinkTable] = {}

    def fn(batch_df: DataFrame, epoch_id: int) -> None:
        apply_cdc_batch(
            spark, batch_df, sink_root, mode=mode, sinks=sinks,
            dedup_replays=dedup_replays, sink_factory=sink_factory,
        )

    return fn, sinks


def ingest_kafka(
    spark: SparkSession,
    brokers: str,
    pattern: str,
    sink_root: str,
    checkpoint: str,
    mode: str = "append",
    dedup_replays: bool = True,
):
    """Kafka → CDC sink. subscribePattern does the topic-prefix namespace
    filtering at the source (consumer_to_file.py:10,171-180). Requires the
    spark-sql-kafka package on the classpath (reference spark.sh:22)."""
    fn, _ = make_cdc_batch_fn(spark, sink_root, mode, dedup_replays)
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribePattern", pattern)
        .option("startingOffsets", "earliest")
        .load()
        .selectExpr(
            "topic",
            "CAST(value AS STRING) AS value",
            "partition",
            "offset",
        )
    )
    return (
        raw.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def ingest_files(
    spark: SparkSession,
    source_dir: str,
    sink_root: str,
    checkpoint: str,
    mode: str = "append",
    dedup_replays: bool = True,
):
    """File-source variant (json files shaped like the Kafka rows) — the
    in-container way to drive the full streaming engine end-to-end."""
    fn, _ = make_cdc_batch_fn(spark, sink_root, mode, dedup_replays)
    raw = (
        spark.readStream.schema(
            "topic string, value string, partition int, offset long"
        )
        .json(source_dir)
    )
    return (
        raw.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_batches(
    spark: SparkSession,
    batches: list[DataFrame],
    sink_root: str,
    mode: str = "append",
    dedup_replays: bool = False,
    sink_factory: Callable[[str], SinkTable] | None = None,
) -> dict[str, SinkTable]:
    """Drive the foreachBatch body over explicit micro-batches — for tests
    that need precise batch boundaries (schema drift mid-stream, replay)."""
    fn, sinks = make_cdc_batch_fn(spark, sink_root, mode, dedup_replays,
                                  sink_factory=sink_factory)
    for epoch, b in enumerate(batches):
        fn(b, epoch)
    return sinks
