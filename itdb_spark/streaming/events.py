"""Structured Streaming over the testdata tables.

The reference has no streaming engine — its incrementality is mtime gates
and anti-joins (SURVEY.md §2.9). Here the tables flow through real
readStreams; `Trigger.AvailableNow` is the batch-incremental mode that
replaces the reference's `.loaded`-marker freshness gate
(itdbloader.py:78-103). Every live query is driven by the three helpers
below: `table_stream` (source), `run_available_now` (memory-sink drain)
and `run_staged_batches` (staged micro-batch drain)."""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from itdb_spark.catalog import DOCUMENTS_SCHEMA, EVENTS_RAW_SCHEMA

# ts is TIMESTAMP(MICROS) in the parquet — native TimestampType under the
# pinned schema (readStream requires an explicit schema regardless); see
# the EVENTS_RAW_SCHEMA comment in catalog.py for the regen history.
EVENTS_SCHEMA = EVENTS_RAW_SCHEMA


def table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The streaming twin of ``catalog.load_table``: a parquet readStream
    over ``<name>.parquet`` under ``sf_dir``, read with the table's pinned
    catalog schema (events or documents)."""
    schema = {"events": EVENTS_RAW_SCHEMA, "documents": DOCUMENTS_SCHEMA}[name]
    return (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .load(sf_dir)
    )


def windowed_counts_stream(
    spark: SparkSession, sf_dir: str, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """readStream → watermark → tumbling-window agg. Watermark bounds state:
    windows older than max(event time) − watermark are finalized and
    evicted — the late-data semantics the reference never had."""
    return (
        # NULL-ts events are defined out of time windows (F.window drops
        # them silently; the filter makes the rule explicit, matching the
        # batch twin and oracle)
        table_stream(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), F.col("event_type"))
        .agg(
            F.count("*").alias("cnt"),
            # integer cents: state-merge order can't perturb the sum, so the
            # streaming result is bit-identical to the batch twin / oracle
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("window_start"),
            "event_type",
            "cnt",
            "value_cents",
        )
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a streaming DataFrame to completion over the currently-available
    input (Trigger.AvailableNow semantics via processAllAvailable) and
    return the memory sink ``query_name`` as a table. ``update`` and
    ``append`` modes append each micro-batch's emissions, so the caller
    folds them (e.g. the last or max row per key)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {query_name}")


def run_staged_batches(
    spark: SparkSession,
    work: str,
    slices: list[DataFrame],
    fn: Callable[[DataFrame, int, str], None],
) -> list[str]:
    """Stage each slice as one parquet file under ``work/stage``, drain them
    as one micro-batch per file (``maxFilesPerTrigger=1``, stream schema
    taken from the slices), and call ``fn(batch_df, batch_id, out)`` per
    batch with ``out = work/results/b<batch_id>``. Returns the result dirs
    that exist, in batch order. The caller owns ``work`` and must collect
    what it needs from the dirs before removing it.

    foreachBatch is at-least-once: a replayed batch reruns ``fn``. So
    ``fn`` writes its own results, overwriting ``out`` so a replay never
    duplicates rows, and skips only the accept (the publish of its tagged
    index delta) when the tag is already published — never the write. An
    ingest ``fn`` whose results come from a probe BEFORE the accept
    writes them before it accepts; one that serves the just-accepted
    index (the ANN loop) accepts when the tag is absent and then always
    serves, which is read-only, so a replay after a crash between the
    accept and the write re-serves instead of losing the batch's
    results. A driver that wrote ``fn``'s return value after ``fn``
    returned would put every accept first, with the same loss."""
    stage = os.path.join(work, "stage")
    results = os.path.join(work, "results")
    os.makedirs(stage)
    for k, df in enumerate(slices):
        sub = os.path.join(work, f"sub{k}")
        df.coalesce(1).write.parquet(sub)
        part = glob.glob(os.path.join(sub, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(stage, f"b{k}.parquet"))
    q = (
        spark.readStream.format("parquet")
        .schema(slices[0].schema)
        .option("maxFilesPerTrigger", "1")
        .load(stage)
        .writeStream.foreachBatch(
            lambda bdf, batch_id: fn(
                bdf, batch_id, os.path.join(results, f"b{batch_id}")
            )
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if not os.path.isdir(results):
        return []
    ids = sorted(int(d[1:]) for d in os.listdir(results))
    return [os.path.join(results, f"b{i}") for i in ids]


def streaming_dedup(
    spark: SparkSession, source_dir: str, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: dropDuplicatesWithinWatermark on event_id —
    the training-data ingest guard against replayed/duplicated input
    batches. State holds only ids younger than the watermark, so memory
    is bounded by the dedup horizon, not the stream length."""
    events = (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .load(source_dir)
    )
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def rocksdb_state_conf() -> dict[str, str]:
    """The production state-store posture for every live streaming query
    in this package (SCALE.md "State-store backend"): the default
    HDFS-backed provider keeps each partition's entire state map in
    executor HEAP — sessionization / streaming dedup over billions of keys
    OOMs there first. RocksDB spills state to local disk and, with
    changelog checkpointing, ships only per-batch deltas to the checkpoint
    location instead of full snapshots.

    Apply at session build time (state-store provider cannot change across
    a restart of the same checkpointed query):

        builder = SparkSession.builder
        for k, v in rocksdb_state_conf().items():
            builder = builder.config(k, v)

    The sf-scale gate queries stay on the default provider — their state
    fits heap and the RocksDB JNI lib isn't guaranteed present in minimal
    test containers."""
    provider = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    return {
        "spark.sql.streaming.stateStore.providerClass": provider,
        # ship per-batch changelogs, not full RocksDB snapshots
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        # bound native memory: block-cache + memtable under one cap
        "spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage": "true",
    }


def freshness_gate(source_path: str, marker_path: str) -> bool:
    """The reference's mtime freshness gate (itdbloader.py:78-103): returns
    True when the source is newer than the `.loaded` marker (work needed)."""
    if not os.path.exists(marker_path):
        return True
    return os.path.getmtime(source_path) > os.path.getmtime(marker_path)
