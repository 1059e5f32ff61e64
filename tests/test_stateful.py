"""Stateful streaming operator + clustering tests."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_stateful_running_totals(spark):
    """applyInPandasWithState running per-user totals over the events
    stream equal the batch groupBy at end of input."""
    from itdb_spark.catalog import Tables
    from itdb_spark.streaming.events import EVENTS_SCHEMA, run_available_now
    from itdb_spark.streaming.stateful import running_user_totals

    stream = (
        spark.readStream.format("parquet")
        .schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .load(SF_DIR)
    )
    out = run_available_now(
        running_user_totals(stream), f"stateful_{int(time.time())}", "update"
    )
    # update mode appends one row per key per batch → take each key's max
    final = (
        out.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("value_sum").alias("value_sum"))
        .collect()
    )
    got = {r.user_id: (r.n_events, round(r.value_sum, 2)) for r in final}

    batch = (
        Tables(spark, SF_DIR)
        .events.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    )
    expected = {r.user_id: (r.n, r.s) for r in batch}
    assert got == expected


def test_connected_components_and_keepers(spark):
    from itdb_spark.operators.clustering import connected_components, elect_keepers

    # two components: {1,2,3,9} (chain 1-2, 2-3, 3-9) and {5,6}
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 9), (5, 6)], "id1 long, id2 long"
    )
    comp = {r.node: r.component for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}
    keepers = {r.component: (r.keeper, r.n_members, r.drop_count)
               for r in elect_keepers(connected_components(pairs)).collect()}
    assert keepers == {1: (1, 4, 3), 5: (5, 2, 1)}


def test_connected_components_chain_converges_log_rounds(spark):
    """Pointer-doubling guarantee: a 64-link chain — the worst shape for
    plain min-label propagation, which needs ~63 rounds — must fully
    converge within 10 rounds (≈ log2(64) + slack; tighter than the
    MAX_ITER=12 budget on purpose, so the log-depth property is what
    passes, not the budget). Without the label-of-label hop this test
    fails: the loop exhausts MAX_ITER and raises."""
    from itdb_spark.operators.clustering import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "id1 long, id2 long"
    )
    stats: dict = {}
    comp = {r.node: r.component for r in connected_components(chain, stats=stats).collect()}
    assert comp == {i: 0 for i in range(65)}, "chain must collapse to min label 0"
    assert stats["rounds"] <= 10, stats


def test_connected_components_raises_when_round_budget_ends(spark):
    """A 5000-link chain (> 2^12) cannot settle within MAX_ITER rounds even
    with pointer doubling: the loop must raise instead of silently
    returning the unconverged labels (905 of them were wrong before)."""
    from itdb_spark.operators.clustering import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5000)], "id1 long, id2 long"
    )
    with pytest.raises(RuntimeError, match="still changing after 12 rounds"):
        connected_components(chain)


def test_reliable_checkpoint_path(spark, tmp_path):
    """truncate_lineage auto-selects RELIABLE checkpoint() once the session
    has a checkpoint dir (the unreliable-executor cluster posture, SCALE.md)
    — both CC and the IVF build must produce identical results on that path,
    and checkpoint files must actually land in the directory. The context's
    checkpoint-dir state is restored afterwards so the shared session keeps
    its localCheckpoint default for every other test."""
    from itdb_spark.operators.clustering import connected_components
    from itdb_spark.plans.library import truncate_lineage

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # fixture default: local path
    sc.setCheckpointDir(str(tmp_path))
    try:
        pairs = spark.createDataFrame([(2, 1), (2, 3), (3, 9), (5, 6)], "id1 long, id2 long")
        comp = {r.node: r.component for r in connected_components(pairs).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5}
        ckpt_files = [p for p in tmp_path.rglob("*") if p.is_file()]
        assert ckpt_files, "reliable checkpoint() must write under the checkpoint dir"
        # explicit override still wins over auto-detection
        df = spark.range(5)
        assert truncate_lineage(df, reliable=False).count() == 5
    finally:
        # restore Option.empty on the Scala side — PySpark has no unset API
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(spark._jvm.scala.Option.empty())
        assert sc.getCheckpointDir() is None


def test_dedup_cluster_shape(spark):
    """Every cluster from the derived corpus keeps its min doc_id; planted
    triplets (base, +100000 near-dup, +200000 exact) should mostly land in
    one component with the base as keeper."""
    from itdb_spark.queries import load_all

    rows = load_all()["dedup-cluster"].spark(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.keeper == r.component  # min-label convention
        assert r.n_members == r.drop_count + 1
    # most keepers are base docs (< 100000)
    base_keepers = sum(1 for r in rows if r.keeper < 100000)
    assert base_keepers == len(rows)


def test_stream_asof_carries_state_across_batches(spark, tmp_path):
    """The streaming as-of's reason to exist: an error in micro-batch 1
    must enrich events arriving in micro-batch 2 (the carried GroupState
    pair), and a newer error must supersede it — driven with
    maxFilesPerTrigger=1 so the two files really are separate batches."""
    import datetime as dt
    import time as _time

    from itdb_spark.catalog import EVENTS_RAW_SCHEMA
    from itdb_spark.streaming.stateful import asof_enriched_stream

    d = str(tmp_path / "stream")
    T0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def write_batch(rows):
        spark.createDataFrame(rows, EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        _time.sleep(1.1)  # distinct mtimes → deterministic file order

    write_batch(
        [
            (1, T0, 7, "error", 0.0, "{}"),
            (2, T0 + dt.timedelta(minutes=5), 7, "click", 1.0, "{}"),
        ]
    )
    write_batch(
        [
            (3, T0 + dt.timedelta(minutes=60), 7, "click", 1.0, "{}"),
            (4, T0 + dt.timedelta(minutes=61), 7, "error", 0.0, "{}"),
            (5, T0 + dt.timedelta(minutes=62), 7, "click", 1.0, "{}"),
            (6, T0 + dt.timedelta(minutes=30), 8, "view", 1.0, "{}"),
        ]
    )
    stream = (
        spark.readStream.format("parquet")
        .schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .load(d)
    )
    q = (
        asof_enriched_stream(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("asof_carry_test_sink")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.event_id: (r.error_id, r.error_epoch)
        for r in spark.sql("SELECT * FROM asof_carry_test_sink").collect()
    }
    epoch0 = int(T0.timestamp())
    assert got[2] == (1, epoch0)  # same-batch carry
    assert got[3] == (1, epoch0)  # CROSS-BATCH carry from batch 1's error
    assert got[5] == (4, epoch0 + 61 * 60)  # newer error supersedes
    assert got[6] == (None, None)  # user with no errors anywhere
    assert set(got) == {2, 3, 5, 6}  # error rows themselves not emitted


def test_stream_funnel_carries_state_across_batches(spark, tmp_path):
    """The streaming funnel's reason to exist: a view in micro-batch 1
    must let a click in micro-batch 2 advance the funnel (carried
    set-once state); a purchase arriving before its click (batch 1)
    must NOT convert even though the click lands later; emissions are
    monotone so the max-per-user aggregate is the final answer."""
    import datetime as dt
    import time as _time

    from itdb_spark.catalog import EVENTS_RAW_SCHEMA
    from itdb_spark.streaming.stateful import funnel_stream

    d = str(tmp_path / "funnel_stream")
    T0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    mins = lambda m: T0 + dt.timedelta(minutes=m)

    def write_batch(rows):
        spark.createDataFrame(rows, EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        _time.sleep(1.1)

    # user 7: view in batch 1, click+purchase in batch 2 => stage 3
    # user 8: purchase (batch 1) BEFORE view+click (batch 2) => stage 2
    write_batch(
        [
            (1, mins(0), 7, "view", 0.0, "{}"),
            (2, mins(1), 8, "purchase", 0.0, "{}"),
        ]
    )
    write_batch(
        [
            (3, mins(10), 7, "click", 0.0, "{}"),
            (4, mins(20), 7, "purchase", 0.0, "{}"),
            (5, mins(30), 8, "view", 0.0, "{}"),
            (6, mins(40), 8, "click", 0.0, "{}"),
        ]
    )
    stream = (
        spark.readStream.format("parquet")
        .schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .load(d)
    )
    q = (
        funnel_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("funnel_carry_test_sink")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        """SELECT user_id, max(t_view_us) tv, max(t_click_us) tc,
                  max(t_purchase_us) tp, max(stage) stage
           FROM funnel_carry_test_sink GROUP BY user_id"""
    ).collect()
    got = {r.user_id: r for r in rows}
    us = lambda m: int(mins(m).timestamp()) * 1_000_000
    assert got[7].stage == 3
    assert (got[7].tv, got[7].tc, got[7].tp) == (us(0), us(10), us(20))
    assert got[8].stage == 2  # early purchase never converts
    assert (got[8].tv, got[8].tc, got[8].tp) == (us(30), us(40), None)
    # monotone emissions: per-batch stage never decreases for a user
    em = spark.sql(
        "SELECT user_id, stage FROM funnel_carry_test_sink"
    ).collect()
    assert all(e.stage >= 0 for e in em)


def test_stream_ewma_carries_window_across_batches(spark, tmp_path):
    """EWMA state carry: 6 values in micro-batch 1 + 4 in batch 2 must
    yield the EWMA of the LAST 8 across the batch boundary (values 3..10
    in cents), not of either batch alone — and n_seen counts all 10, so
    max_by picks the final emission. NULL values must not advance state."""
    import datetime as dt
    import time as _time

    from itdb_spark.catalog import EVENTS_RAW_SCHEMA
    from itdb_spark.streaming.stateful import _EWMA_D, _EWMA_W, ewma_stream

    d = str(tmp_path / "ewma_stream")
    T0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    mins = lambda m: T0 + dt.timedelta(minutes=m)

    def write_batch(rows):
        spark.createDataFrame(rows, EVENTS_RAW_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(d)
        _time.sleep(1.1)

    write_batch(
        [(i, mins(i), 9, "view", float(i) / 100, "{}") for i in range(1, 7)]
        + [(99, mins(50), 9, "view", None, "{}")]  # NULL: no state advance
    )
    write_batch(
        [(i, mins(i), 9, "view", float(i) / 100, "{}") for i in range(7, 10)]
        # 0.125 -> 12.5 half-cents: HALF-UP gives 13 (Python's banker's
        # round() gave 12 — the divergence the review caught)
        + [(10, mins(10), 9, "view", 0.125, "{}")]
    )
    stream = (
        spark.readStream.format("parquet")
        .schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .load(d)
    )
    q = (
        ewma_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("ewma_carry_test_sink")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    row = spark.sql(
        """SELECT user_id, max(n_seen) n_seen,
                  max_by(ewma_milli, n_seen) ewma_milli
           FROM ewma_carry_test_sink GROUP BY user_id"""
    ).collect()[0]
    xs = list(range(3, 10)) + [13]  # last 8 cents; 13 = HALF-UP(12.5)
    want = 1000 * sum(x * _EWMA_W[len(xs) - 1 - p] for p, x in enumerate(xs)) // _EWMA_D[7]
    assert row.user_id == 9
    assert row.n_seen == 10
    assert row.ewma_milli == want


def test_cents_half_up_matches_engine_round_at_boundaries(spark):
    """cents_half_up must agree with Spark F.round on the exact doubles
    where naive floor(x+0.5) diverges: 0.49999999999999994 rounds DOWN
    (the double is strictly below one half; adding 0.5 would round UP in
    the addition), plus the plain half-cent and negative boundaries."""
    from pyspark.sql import functions as F

    from itdb_spark.streaming.stateful import cents_half_up

    values = [
        0.004999999999999999,  # *100 -> 0.49999999999999994, the trap
        0.005, 0.015, 0.025, -0.005, -0.015, 2.675, -2.675, 0.0, 1.0,
    ]
    df = spark.createDataFrame([(v,) for v in values], "value double")
    engine = [
        r.c for r in df.select(F.round(F.col("value") * 100).cast("long").alias("c")).collect()
    ]
    ours = [cents_half_up(v) for v in values]
    assert ours == engine, list(zip(values, ours, engine))


def test_trunc_div_matches_engine_div(spark):
    """trunc_div must agree with Spark SQL DIV (and DuckDB //): both
    truncate toward zero, Python's // floors — divergence surfaces on
    any negative running sum (the edge corpus's -2.675 purchase)."""
    from pyspark.sql import functions as F

    from itdb_spark.streaming.stateful import trunc_div

    pairs = [(-229715, 2), (229715, 2), (-7, 2), (7, 2), (-1, 3), (1, -3), (-6, 3)]
    df = spark.createDataFrame(pairs, "a long, b long")
    engine = [r.q for r in df.select(F.expr("a DIV b").alias("q")).collect()]
    assert [trunc_div(a, b) for a, b in pairs] == engine


def test_state_ttl_evicts_idle_keys(spark, tmp_path):
    """SCALE.md §Stateful streaming: with ttl_ms set, running_user_totals
    bounds the state store by ACTIVE keys — a key idle past the TTL is
    REMOVED (ProcessingTimeTimeout + state.remove()), measured here via
    the state-operator metrics of a staged run. Batch 1 seeds users 1
    and 2; after the TTL lapses a later batch (the engine keeps firing
    micro-batches while timeouts are pending — which is also why this
    polls progress instead of processAllAvailable) must show both idle
    keys gone; user 3, arriving after, starts from zero state."""
    import json
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
    os.makedirs(src)
    spark.createDataFrame(
        [(1, 1.0), (1, 2.0), (2, 5.0)], schema
    ).coalesce(1).write.parquet(str(src / "b1.parquet"))

    stream = spark.readStream.schema(schema).parquet(str(src) + "/*")
    out = running_user_totals(stream, ttl_ms=500)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("ttl_evict_sink")
        .start()
    )

    def state_rows(deadline_s: float, want: int) -> dict:
        t0 = time.time()
        last = None
        while time.time() - t0 < deadline_s:
            lp = q.lastProgress
            if lp is not None:
                last = json.loads(lp.json)["stateOperators"][0]
                if last["numRowsTotal"] == want:
                    return last
            time.sleep(0.2)
        raise AssertionError(
            f"state never reached {want} rows within {deadline_s}s: {last}"
        )

    try:
        state_rows(60, 2)  # both seeded keys in the store
        time.sleep(1.0)  # let both go idle past the 500 ms TTL
        spark.createDataFrame([(3, 7.0)], schema).coalesce(1).write.parquet(
            str(src / "b2.parquet")
        )
        state_rows(60, 1)  # users 1 and 2 evicted; only 3 remains
    finally:
        q.stop()

    rows = {
        r.user_id: (r.n_events, r.value_sum)
        for r in spark.sql(
            "SELECT user_id, max(n_events) AS n_events, max(value_sum) AS value_sum "
            "FROM ttl_evict_sink GROUP BY user_id"
        ).collect()
    }
    assert rows[1] == (2, 3.0) and rows[2] == (1, 5.0) and rows[3] == (1, 7.0)


def test_state_schemas_are_constant_size_per_key():
    """The 100×-durability contract for every stateful machine: state per
    key is O(1) — fixed-arity tuples of scalars (as-of: one (ts, id)
    pair; funnel: three set-once timestamps; totals: two numbers), never
    a per-key history. The one machine holding a list (_ewma_update)
    truncates it to the fixed 8-term window each batch, so its state is
    also constant-size; this pins both facts structurally."""
    import inspect

    from itdb_spark.streaming import stateful as sm
    from pyspark.sql import types as T

    for schema in (sm.STATE_SCHEMA, sm.ASOF_STATE_SCHEMA, sm.FUNNEL_STATE_SCHEMA):
        assert len(schema.fields) <= 4
        for f in schema.fields:
            assert not isinstance(f.dataType, (T.ArrayType, T.MapType)), f
    # the EWMA machine's array state is explicitly re-truncated every batch
    assert "xs = xs[-8:]" in inspect.getsource(sm._ewma_update)
