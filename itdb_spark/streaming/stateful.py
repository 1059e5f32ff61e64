"""Custom stateful streaming operator: per-user running counters via
``applyInPandasWithState`` — the engine's template for operators whose
state Spark's built-in windowed aggs can't express (the reference has no
streaming at all; SURVEY.md §2.9).

The operator keeps (count, value_sum, max_ts) per user and emits one
updated row per user per micro-batch. State is per-key, evicted via
processing-time timeout — bounded by active keys, not history length."""

from __future__ import annotations

from collections.abc import Iterable
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("value_sum", T.DoubleType(), False),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType(), False),
        T.StructField("value_sum", T.DoubleType(), False),
    ]
)


def _make_update(ttl_ms: int):
    """Build the per-key update closure. ttl_ms rides INSIDE the closure
    (pickled by value to every python worker — a module global would
    reset to its default when the worker re-imports this module)."""

    def _update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        (user_id,) = key
        if ttl_ms and state.hasTimedOut:
            # TTL expiry: drop the key's state entirely — the 100 TB
            # eviction posture (SCALE.md §Stateful streaming). A key
            # seen again later restarts from zero, exactly like a key
            # never seen — correct for running totals whose consumers
            # window by activity, and the price of bounding state by
            # ACTIVE keys rather than all keys ever seen.
            state.remove()
            return
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        if ttl_ms:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "value_sum": [s]}
        )

    return _update


# the default no-TTL machine (named so tests/docs can reference it)
_update = _make_update(0)


def running_user_totals(
    events_stream: DataFrame, ttl_ms: int | None = None
) -> DataFrame:
    """events stream → per-user running (count, value_sum). ``update``
    output mode: one row per touched key per batch.

    ``ttl_ms`` is the state-eviction posture for unbounded key domains:
    with it set, a key idle for ttl_ms of processing time is dropped
    from the state store (ProcessingTimeTimeout + state.remove()), so
    state size tracks ACTIVE keys instead of growing with every key ever
    seen — at 100 TB event volume the distinct-user domain is ~10⁹ and
    never-evicting state is a slow OOM. Default None keeps NoTimeout:
    exact lifetime totals, right for bounded key domains."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _make_update(int(ttl_ms) if ttl_ms else 0),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms
            else GroupStateTimeout.NoTimeout
        ),
    )


ASOF_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("error_id", T.LongType(), True),
        T.StructField("error_epoch", T.LongType(), True),
    ]
)

# exact event-time micros, not the floored output epoch: cross-batch
# "latest error at-or-before" comparisons need full precision
ASOF_STATE_SCHEMA = T.StructType(
    [
        T.StructField("err_ts_us", T.LongType(), False),
        T.StructField("err_id", T.LongType(), False),
    ]
)


def _asof_carry(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Per-user as-of carry: walk the batch's rows in (ts, event_id)
    order with error rows first at equal timestamps (inclusive backward
    semantics — exactly DuckDB ``ASOF JOIN ... ON l.ts >= r.ts`` and
    batch asof_join's side ordering); error events update the carried
    (ts, id) state, every other event emits with the carried value."""
    (user_id,) = key
    # SQL-join NULL semantics (the DuckDB ASOF oracle and batch
    # asof_join agree): a NULL key never matches — the NULL-user group's
    # errors must not enrich its events, so the group runs with no
    # carry and keeps no state.
    null_key = user_id is None or pd.isna(user_id)
    last = state.get if state.exists and not null_key else None
    batch = pd.concat(list(pdfs), ignore_index=True)
    is_err = (batch["event_type"] == "error").astype(int)
    batch = (
        batch.assign(_e=is_err)
        .sort_values(["ts", "_e", "event_id"], ascending=[True, False, True])
    )
    out_rows = []
    for r in batch.itertuples(index=False):
        # NULL-ts rules mirror batch asof_join: a NULL-ts error (right
        # row) is dropped — never becomes carried state (NaT's int64
        # sentinel would otherwise masquerade as a real epoch) — and a
        # NULL-ts event (left row) matches nothing, emitting NULLs.
        if pd.isna(r.ts):
            if r.event_type != "error":
                out_rows.append((r.event_id, user_id, None, None))
            continue
        ts_us = r.ts.value // 1000  # pandas ns → µs
        if r.event_type == "error":
            if not null_key and (last is None or (ts_us, r.event_id) >= last):
                last = (ts_us, r.event_id)
        else:
            out_rows.append(
                (
                    r.event_id,
                    user_id,
                    last[1] if last is not None else None,
                    last[0] // 1_000_000 if last is not None else None,
                )
            )
    if last is not None:
        state.update(last)
    yield pd.DataFrame(
        out_rows, columns=["event_id", "user_id", "error_id", "error_epoch"]
    )


def asof_enriched_stream(events_stream: DataFrame) -> DataFrame:
    """Streaming twin of operators/asof.py::asof_join on the events
    shape: every non-error event enriched with the latest error of the
    same user at or before it. State per user is ONE (ts, id) pair —
    bounded by active keys, independent of history length; the batch
    union-tag window cannot run on an unbounded stream, this can."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _asof_carry,
        outputStructType=ASOF_OUTPUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


FUNNEL_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("t_view_us", T.LongType(), True),
        T.StructField("t_click_us", T.LongType(), True),
        T.StructField("t_purchase_us", T.LongType(), True),
        T.StructField("stage", T.IntegerType(), False),
    ]
)

FUNNEL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("t_view_us", T.LongType(), True),
        T.StructField("t_click_us", T.LongType(), True),
        T.StructField("t_purchase_us", T.LongType(), True),
    ]
)


def _funnel_update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    """Per-user sequential-funnel carry (the streaming twin of
    agg-funnel): walk the batch in ts order; each stage timestamp is
    SET-ONCE and only when strictly after the previous stage —
    first 'view', first 'click' > t_view, first 'purchase' > t_click.
    Because every transition is monotone (a set stage never changes),
    the per-batch emission is a running lower bound that converges to
    the batch answer once the user's events have all arrived in
    event-time order; ties in ts cannot chain (strict >), so
    processing order within a timestamp is immaterial.

    SQL-join NULL semantics (same rule as _asof_carry): the agg-funnel
    oracle builds stages via ``u LEFT JOIN t1 USING (user_id)``, and a
    NULL key never equality-matches — so the NULL-user group must stay
    at stage 0 with all-NULL timestamps no matter what events it sees."""
    (user_id,) = key
    null_key = user_id is None or pd.isna(user_id)
    tv, tc, tp = state.get if state.exists and not null_key else (None, None, None)
    batch = pd.concat(list(pdfs), ignore_index=True).sort_values(
        ["ts", "event_id"]
    )
    if null_key:
        batch = batch.iloc[0:0]  # no stage can ever set; emit 0/NULLs below
    for r in batch.itertuples(index=False):
        if pd.isna(r.ts):  # defense: funnel_stream pre-filters these
            continue
        ts_us = r.ts.value // 1000
        if r.event_type == "view":
            if tv is None:
                tv = ts_us
        elif r.event_type == "click":
            if tv is not None and tc is None and ts_us > tv:
                tc = ts_us
        elif r.event_type == "purchase":
            if tc is not None and tp is None and ts_us > tc:
                tp = ts_us
    state.update((tv, tc, tp))
    stage = 3 if tp is not None else 2 if tc is not None else 1 if tv is not None else 0
    yield pd.DataFrame(
        [(user_id, tv, tc, tp, stage)],
        columns=["user_id", "t_view_us", "t_click_us", "t_purchase_us", "stage"],
    )


def funnel_stream(events_stream: DataFrame) -> DataFrame:
    """Streaming sequential funnel: per-user state is THREE set-once
    timestamps — bounded by active keys, independent of history; the
    batch sorted-array fold (agg-funnel) cannot run on an unbounded
    stream, this can. Pre-filter to the funnel event types AND non-NULL
    ts (NULL-ts events are defined out of the funnel — the same filter
    the batch query and oracle apply, so the per-user group set agrees)
    so state is only created for users who enter the funnel at all."""
    filtered = events_stream.where(
        events_stream["event_type"].isin("view", "click", "purchase")
        & events_stream["ts"].isNotNull()
    )
    return filtered.groupBy("user_id").applyInPandasWithState(
        _funnel_update,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- streaming EWMA (win-ewma's stateful twin) -------------------------------

# W[i] = 3^i * 4^(7-i), D[s] = sum(W[:s]) — INTEGER literals, the same
# exactness discipline as the batch query (libm pow + double casts would
# not be engine-portable; see win-ewma)
_EWMA_W = (16384, 12288, 9216, 6912, 5184, 3888, 2916, 2187)
_EWMA_D = (16384, 28672, 37888, 44800, 49984, 53872, 56788, 58975)

EWMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType(), True),
        T.StructField("n_seen", T.LongType(), False),
        T.StructField("ewma_milli", T.LongType(), False),
    ]
)

EWMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("xs", T.ArrayType(T.LongType()), False),
        T.StructField("n_seen", T.LongType(), False),
    ]
)


def trunc_div(a: int, b: int) -> int:
    """Integer division truncating toward ZERO — Spark SQL DIV and
    DuckDB // semantics. Python's // floors toward -infinity, so a
    negative running sum diverges by one milli (caught by the edge
    corpus's -2.675 purchase: the weighted numerator divided out to
    -229715 // 2 → Python -114858, both engines -114857)."""
    return -(-a // b) if (a < 0) != (b < 0) else a // b


def cents_half_up(value: float) -> int:
    """value → integer cents, HALF-AWAY-FROM-ZERO on the EXACT double —
    bit-for-bit Spark F.round (BigDecimal HALF_UP) and DuckDB round.
    Python round() is banker's (round(12.5) == 12 — diverges on the
    first half-cent), and floor(x + 0.5) rounds in the ADDITION:
    0.49999999999999994 + 0.5 == 1.0, yielding 1 where both engines
    yield 0. Decimal(double) is exact, so HALF_UP on it is the engines'
    semantics at every boundary."""
    return int(Decimal(value * 100).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _ewma_update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    (user_id,) = key
    if state.exists:
        stored, n_seen = state.get
        xs = list(stored)
    else:
        xs, n_seen = [], 0
    batch = pd.concat(list(pdfs), ignore_index=True).sort_values(
        ["ts", "event_id"]
    )
    for r in batch.itertuples(index=False):
        xs.append(cents_half_up(float(r.value)))
        n_seen += 1
    xs = xs[-8:]
    state.update((xs, n_seen))
    s = len(xs)
    num = sum(x * _EWMA_W[s - 1 - p] for p, x in enumerate(xs))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_seen": [n_seen],
            "ewma_milli": [trunc_div(1000 * num, _EWMA_D[s - 1])],
        }
    )


def ewma_stream(events_stream: DataFrame) -> DataFrame:
    """Streaming truncated EWMA (alpha=1/4, trailing 8): per-user state
    is the last-8 cents deque + a monotone emission counter — bounded by
    active keys regardless of stream length. The batch form (win-ewma)
    recomputes each row's window exactly; the stream carries it. NULL
    values are filtered BEFORE the keyed grouping so state only advances
    on real observations (the batch twin filters identically) and every
    emission strictly increases n_seen — which is what lets the gate
    take max_by(ewma_milli, n_seen) as the final answer per key."""
    return (
        events_stream.where(events_stream["value"].isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            _ewma_update,
            outputStructType=EWMA_OUTPUT_SCHEMA,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
