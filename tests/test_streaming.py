"""Structured Streaming tests: the readStream path produces the same
windowed aggregates as the batch twin (stream-window query)."""

from __future__ import annotations

import os
import time

from tests.conftest import SF_DIR


def test_windowed_stream_matches_batch(spark):
    from itdb_spark.queries import load_all
    from itdb_spark.streaming.events import run_available_now, windowed_counts_stream

    stream_df = windowed_counts_stream(spark, SF_DIR, window="1 hour")
    result = run_available_now(stream_df, f"win_{int(time.time())}")
    got = {
        (r.window_start, r.event_type): (r.cnt, r.value_cents) for r in result.collect()
    }

    batch = load_all()["stream-window"].spark(spark, SF_DIR).collect()
    expected = {(r.window_start, r.event_type): (r.cnt, r.value_cents) for r in batch}
    assert got == expected  # streaming ≡ batch, counts AND cent-exact sums


def test_foreach_batch_sink(spark, tmp_path):
    """foreachBatch: the exactly-once sink pattern — each micro-batch lands
    as an idempotent parquet overwrite keyed by batch id; total rows in
    the sink equal the source."""
    from pyspark.sql import functions as F

    from itdb_spark.streaming.events import EVENTS_SCHEMA

    stream = (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .load(SF_DIR)
        .select("event_id", "event_type")
    )
    out_dir = str(tmp_path / "sink")

    def land(df, batch_id):
        df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

    q = stream.writeStream.foreachBatch(land).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    landed = spark.read.parquet(f"{out_dir}/batch=*")
    src_count = spark.read.schema(EVENTS_SCHEMA).parquet(f"{SF_DIR}/events.parquet").count()
    assert landed.count() == src_count
    assert landed.select(F.countDistinct("event_id")).collect()[0][0] == src_count


def test_run_staged_batches(spark, tmp_path):
    """The staged micro-batch driver: three slices arrive as batches 0, 1, 2
    in slice order, each batch holds exactly its slice's rows, and a batch
    whose fn writes nothing has no entry in the returned dirs."""
    from itdb_spark.streaming.events import run_staged_batches

    slices = [
        spark.createDataFrame([(10 * k + i, f"s{k}") for i in range(k + 2)], "id long, tag string")
        for k in range(3)
    ]
    seen = []

    def fn(bdf, batch_id, out):
        rows = sorted(tuple(r) for r in bdf.collect())
        seen.append((batch_id, rows))
        if batch_id != 1:
            bdf.write.mode("overwrite").parquet(out)

    dirs = run_staged_batches(spark, str(tmp_path), slices, fn)
    want = [sorted(tuple(r) for r in df.collect()) for df in slices]
    assert seen == list(enumerate(want))
    assert dirs == [str(tmp_path / "results" / b) for b in ("b0", "b2")]
    landed = sorted(tuple(r) for r in spark.read.parquet(*dirs).collect())
    assert landed == sorted(want[0] + want[2])


def test_stream_ann_ingest_replay_reserves_last_batch(spark, monkeypatch):
    """At-least-once replay of the ANN ingest loop: batch 2 runs, its
    results dir is lost (a crash after the accept, before the write
    lands), and the batch runs again. The replay finds its tag already
    published, so it must skip only the accept and still serve: the last
    returned dir is b2 and the graded rows equal an unreplayed run."""
    import shutil

    from itdb_spark.queries import streamingq

    registry_fn = streamingq.stream_ann_ingest_live
    want = sorted(tuple(r) for r in registry_fn(spark, SF_DIR).collect())

    real = streamingq.run_staged_batches
    returned = []

    def replaying(spark_, work, slices, fn):
        def wrapped(bdf, batch_id, out):
            fn(bdf, batch_id, out)
            if batch_id == 2:
                shutil.rmtree(out, ignore_errors=True)
                fn(bdf, batch_id, out)

        dirs = real(spark_, work, slices, wrapped)
        returned.append(dirs)
        return dirs

    monkeypatch.setattr(streamingq, "run_staged_batches", replaying)
    got = sorted(tuple(r) for r in registry_fn(spark, SF_DIR).collect())
    assert len(returned) == 1
    assert os.path.basename(returned[0][-1]) == "b2"
    assert got and got == want


def test_streaming_dedup(spark, tmp_path):
    """Duplicated input (the events table landed twice) streams through
    dropDuplicatesWithinWatermark → exactly the distinct events survive."""
    from itdb_spark.streaming.events import EVENTS_SCHEMA, streaming_dedup

    # pinned reader schema (ts native micros timestamp)
    src = spark.read.schema(EVENTS_SCHEMA).parquet(f"{SF_DIR}/events.parquet")
    dup_dir = str(tmp_path / "dup_events")
    src.write.mode("overwrite").parquet(dup_dir)
    src.write.mode("append").parquet(dup_dir)
    assert spark.read.parquet(dup_dir).count() == 2 * src.count()

    deduped = streaming_dedup(spark, dup_dir)
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_stream")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT * FROM dedup_stream")
    assert out.count() == src.count()
    assert out.select("event_id").distinct().count() == src.count()


def test_freshness_gate(tmp_path):
    from itdb_spark.streaming.events import freshness_gate

    src = tmp_path / "library.xml"
    marker = tmp_path / ".loaded"
    src.write_text("x")
    assert freshness_gate(str(src), str(marker))  # no marker → load
    marker.write_text("")
    import os

    os.utime(str(marker), (time.time() + 100, time.time() + 100))
    assert not freshness_gate(str(src), str(marker))  # fresh → skip
    os.utime(str(src), (time.time() + 200, time.time() + 200))
    assert freshness_gate(str(src), str(marker))  # source newer → load


def test_stream_join_live_no_session_conf_leak(spark):
    """stream-join-live must not mutate shared-session config: run it FIRST,
    then another events query in the same session — both still correct, and
    the legacy nanos conf is never set (historical regression guard: events
    was TIMESTAMP(NANOS) before the 2026-08-13 testdata regen and an early
    implementation set this conf session-wide; every events read now pins
    its own reader schema)."""
    from itdb_spark.queries import load_all

    registry = load_all()
    joined = {r.category: r.cnt for r in registry["stream-join-live"].spark(spark, SF_DIR).collect()}
    # a subsequent batch events query in the SAME session
    sessions = registry["stream-session"].spark(spark, SF_DIR).collect()
    assert sum(joined.values()) == 1000  # sf0.001 events rowcount
    assert sum(r.n_sessions for r in sessions) > 0

    # SET reports the built-in default ("false") when nothing mutated it;
    # a leak would have flipped it to "true" session-wide
    [row] = spark.sql("SET spark.sql.legacy.parquet.nanosAsLong").collect()
    assert row.value == "false", "query leaked a session-wide conf mutation"


def test_rocksdb_state_conf(spark):
    """The documented RocksDB posture (SCALE.md "State-store backend") must
    be real: every conf key round-trips through a SparkSession, and the
    provider class itself loads from Spark's classpath — so the recipe is a
    config change, not aspiration. Original values are restored so the
    shared session keeps the default provider for the live gate queries."""
    from itdb_spark.streaming.events import rocksdb_state_conf

    conf = rocksdb_state_conf()
    provider = conf["spark.sql.streaming.stateStore.providerClass"]
    # ships with spark-sql — loads without any RocksDB JNI initialization
    spark._jvm.java.lang.Class.forName(provider)

    saved = {}
    for k in conf:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        for k, v in conf.items():
            assert spark.conf.get(k) == v, k
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_no_event_gap_on_session_boundary(spark):
    """Backs the stream-session-live docstring claim (previously asserted
    nowhere — ADVICE r3): the live form starts a new session iff the
    microsecond gap is >= 1800 s (session_window ends are EXCLUSIVE), the
    lag-based twin and the DuckDB oracle iff the SECOND-truncated gap is
    strictly > 1800. Assert the two predicates agree on every same-user
    consecutive pair in every SF's events table — a testdata regen landing
    a pair in the divergence zone fails here instead of silently diverging
    the gate."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from itdb_spark.streaming.events import EVENTS_SCHEMA

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        ev = (
            spark.read.format("parquet")
            .schema(EVENTS_SCHEMA)
            .option("pathGlobFilter", "events.parquet")
            .load(f"/root/testdata/{sf}")
            .select("user_id", "event_id", F.unix_micros("ts").alias("ts_us"))
        )
        w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        pairs = ev.select(
            "ts_us", F.lag("ts_us").over(w).alias("prev_us")
        ).where(F.col("prev_us").isNotNull())
        new_live = (F.col("ts_us") - F.col("prev_us")) >= 1800 * 1_000_000
        sec_diff = F.floor(F.col("ts_us") / 1_000_000) - F.floor(F.col("prev_us") / 1_000_000)
        new_batch = sec_diff > 1800
        diverging = pairs.where(new_live != new_batch).count()
        assert diverging == 0, f"{sf}: {diverging} pairs in the session-boundary divergence zone"


def test_rocksdb_state_store_live(spark, tmp_path):
    """The RocksDB posture must also RUN here, not just load: a real
    applyInPandasWithState query executes under the rocksdb_state_conf
    provider and its progress reports RocksDB custom metrics (proof the
    provider engaged rather than silently falling back to the HDFS-backed
    default), with the same answer as the default provider. Provider
    class is captured per-query at start, so setting/restoring the
    session conf around the run is safe for the sequential suite."""
    import json
    import os

    from pyspark.sql import types as T

    from itdb_spark.streaming.events import rocksdb_state_conf
    from itdb_spark.streaming.stateful import running_user_totals

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = tmp_path / "src"
    os.makedirs(src)
    spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (2, 5.0)], schema
    ).coalesce(1).write.parquet(str(src / "b1.parquet"))

    conf = rocksdb_state_conf()
    saved = {}
    for k in conf:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = (
            running_user_totals(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName("rocksdb_live_sink")
            .start()
        )
        try:
            q.processAllAvailable()
            op = json.loads(q.lastProgress.json)["stateOperators"][0]
            rocks_metrics = {
                k for k in op.get("customMetrics", {}) if k.startswith("rocksdb")
            }
            assert rocks_metrics, f"no RocksDB metrics — provider fell back: {op}"
            assert op["numRowsTotal"] == 2, op
        finally:
            q.stop()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    rows = {
        r.user_id: (r.n_events, r.value_sum)
        for r in spark.sql(
            "SELECT user_id, max(n_events) AS n_events, max(value_sum) AS value_sum "
            "FROM rocksdb_live_sink GROUP BY user_id"
        ).collect()
    }
    assert rows == {1: (2, 3.0), 2: (1, 5.0)}


def test_stateful_query_recovers_state_from_checkpoint(spark, tmp_path):
    """The production durability property none of the in-run tests touch:
    a stateful query STOPPED and RESTARTED from its checkpointLocation
    must resume with its state intact (and its source offsets — no
    replay, no double counting). Run 1 seeds per-user totals and stops;
    new data lands while the query is DOWN; run 2 restarts from the same
    checkpoint and must emit user 1's total as 3 — state carried across
    the restart — not 1 (state lost) or 4+ (offsets lost, batch
    replayed into existing state)."""
    import os

    from pyspark.sql import types as T

    from itdb_spark.streaming.stateful import running_user_totals

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = tmp_path / "src"
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (2, 5.0)], schema
    ).coalesce(1).write.parquet(str(src / "b1.parquet"))

    def run() -> list:
        # memory sink refuses checkpoint recovery; foreachBatch is the
        # fault-tolerant sink shape (local mode: the closure appends to
        # a driver-side list)
        emitted: list = []
        stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
        q = (
            running_user_totals(stream)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _id: emitted.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return emitted

    first = {}
    for r in run():
        cur = first.get(r.user_id, (0, 0.0))
        first[r.user_id] = max(cur, (r.n_events, r.value_sum))
    assert first == {1: (2, 3.0), 2: (1, 5.0)}

    # data arrives while the query is down
    spark.createDataFrame([(1, 4.0)], schema).coalesce(1).write.parquet(
        str(src / "b2.parquet")
    )
    rows = run()
    # update mode after restart: only keys touched since the checkpoint
    # emit — and user 1 continues from the RECOVERED (2, 3.0)
    got = {r.user_id: (r.n_events, r.value_sum) for r in rows}
    assert got == {1: (3, 7.0)}, rows


def test_watermark_drops_late_data(spark, tmp_path):
    """SCALE.md §Streaming claims 'late data beyond the watermark drops
    deterministically' — measure it. Batch 1 carries an event that
    advances the watermark well past the first window; batch 2 delivers
    one late event inside that expired window plus one on-time event.
    The state-operator metrics must count exactly one row dropped by the
    watermark, and the expired window's aggregate must NOT include the
    late row."""
    import json
    import os

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    import datetime as dt

    t = lambda h, m=0: dt.datetime(2024, 1, 1, h, m)
    src = tmp_path / "src"
    os.makedirs(src)
    rows1 = [(1, t(0, 10), 1, "view", 1.0, "{}"), (2, t(5), 1, "view", 1.0, "{}")]
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        str(src / "b1.parquet")
    )
    from pyspark.sql import functions as F

    stream_df = (
        spark.readStream.schema(schema)
        .parquet(str(src) + "/*")
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count("*").alias("cnt"))
        .select(F.col("window.start").alias("ws"), "cnt")
    )
    q = (
        stream_df.writeStream.outputMode("update")
        .format("memory")
        .queryName("late_drop_sink")
        .start()
    )
    try:
        q.processAllAvailable()  # watermark advances to 04:00 post-batch
        rows2 = [
            (3, t(0, 20), 1, "view", 1.0, "{}"),  # LATE: window 00 expired
            (4, t(5, 10), 1, "view", 1.0, "{}"),  # on time
        ]
        spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
            str(src / "b2.parquet")
        )
        q.processAllAvailable()
        dropped = sum(
            json.loads(p.json)["stateOperators"][0]["numRowsDroppedByWatermark"]
            for p in q.recentProgress
        )
        assert dropped == 1, [p.json for p in q.recentProgress]
    finally:
        q.stop()
    got = {
        r.ws: r.cnt
        for r in spark.sql(
            "SELECT ws, max(cnt) AS cnt FROM late_drop_sink GROUP BY ws"
        ).collect()
    }
    assert got[t(0)] == 1, got  # late row NOT counted into the expired window
    assert got[t(5)] == 2, got
