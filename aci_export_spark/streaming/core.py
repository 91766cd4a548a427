"""Structured Streaming surface: the streaming twins of the batch event
queries (harness_llm.events_hourly_agg / events_sessionization).

The reference has no event-time streaming (SURVEY.md §2.9) — its "streams"
are paginated REST pulls. This module is the beyond-reference extension a
100 TB pipeline needs: the same logical aggregations declared over
``readStream`` so one code path serves both the backfill (batch over
parquet) and the live feed (Kafka / file drops), which is the standard
lambda-free Spark design.

Scale notes:
- the hourly aggregation is a watermarked tumbling-window groupBy —
  state per (window × event_type) only, safely bounded;
- sessionization is ``applyInPandasWithState`` keyed by user_id — state is
  one small tuple per open session; Arrow batches the per-group rows;
- both run under ``Trigger.AvailableNow`` in tests so the finite parquet
  input is processed exactly once and the result is comparable to the
  batch twin (the correctness harness does exactly that comparison).

On ``transformWithStateInPandas`` (the Spark 4 stateful API): a port was
prototyped and is ENVIRONMENT-BLOCKED — PySpark's transformWithState
driver worker imports ``google.protobuf`` for its state-server protocol,
which this container does not ship (the worker crashes with
``ImportError: cannot import name 'descriptor'``). Measured overhead of
the shipped path at sf0.1 (100k events / 1.5k users, warm session): the
``applyInPandasWithState`` machinery floor — a pass-through stateful op —
is ~1.8s at 4 partitions (per-group Arrow round trips dominate; the
session logic itself adds only ~0.6s and the reconcile ~0.7s). Because
the bottleneck is Python-side per-group work, the stateful twins run at
16 shuffle partitions (more parallel Python workers; A/B in
harness_streaming) while JVM-stateful streams keep the low-partition
default. Revisit the port when the environment ships protobuf — the
per-group protocol there amortizes round trips through a long-lived state
server and should cut the machinery floor.

One-command repro of the block (run in this container's python):
``python -c "import google.protobuf.descriptor"`` →
``ImportError: cannot import name 'descriptor' from 'google.protobuf'``
(the installed google namespace package is broken/incomplete). Install
re-attempted 2026-08-16 (rounds 7, 8, 9, 10 AND 11 — five times): ``pip
install 'protobuf>=4'`` fails with DNS resolution errors against every
index (``[Errno -2] Name or service not known``) — the sandbox has no
network route, so the block stands. To lift:
``pip install 'protobuf>=4'``, then port `_sessionize_group` /
`_funnel_group` onto ``df.groupBy(key).transformWithStateInPandas(
StatefulProcessor, ...)`` — the handler keeps the same state tuples; only
the state get/update calls change API (ValueState.get()/update()).
"""

from __future__ import annotations

import uuid
from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

SESSION_GAP_SECONDS = 30 * 60


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the events parquet with the same ts normalization
    as the batch source (sources.read_table): nanosecond parquet timestamps
    surface as bigint (nanosAsLong) and are reduced to microsecond
    TIMESTAMP_NTZ so event-time logic matches the batch/oracle view.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # streaming reads need an explicit schema: take it from a batch scan
    static = spark.read.parquet(f"{sf_dir}/events.parquet")
    # The events path comes in two layouts: a single FILE (the driver
    # fixture) or a DIRECTORY of part files (any df.write.parquet output,
    # e.g. the 10× stress corpus). FileStreamSource requires a directory
    # basePath, so stream the directory itself when events.parquet is one,
    # and fall back to parent-dir + pathGlobFilter for the single-file
    # layout. Branching matters: the glob filter matches leaf FILE names,
    # so on the directory layout it silently matches nothing and the stream
    # runs "green" over an EMPTY feed — the 10× stress surfaced exactly
    # that as impossible 0.1× growth rows.
    import os

    events_path = f"{sf_dir}/events.parquet"
    if os.path.isdir(events_path.removeprefix("file:")):
        stream = spark.readStream.schema(static.schema).parquet(events_path)
    else:
        stream = (
            spark.readStream.schema(static.schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    if dict(static.dtypes).get("ts") == "bigint":
        # TIMESTAMP (not NTZ): watermarks require it, and under the UTC
        # session timezone the wall-clock values are identical to the
        # batch/oracle NTZ view
        stream = stream.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def hourly_agg_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling-window aggregation — the streaming twin of
    ``events_hourly_agg`` (minus COUNT(DISTINCT), which streaming state
    cannot hold exactly; the batch twin keeps it).

    State is bounded: one row per (hour-window × event_type) younger than
    the watermark; late rows beyond `watermark` are dropped, on time they
    merge into their window.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value_dec"),
            F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            F.col("sum_value_dec").cast("double").alias("sum_value"),
            "sum_k",
        )
    )


def _sessionize_group(
    key: Tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful session builder for one user (applyInPandasWithState).

    State tuple: (session_no, start_us, last_us, n_events) of the open
    session. Emits a snapshot row for every session touched in this batch;
    snapshots grow monotonically, so the post-pass ``groupBy(user_id,
    session_no).agg(min(start), max(end), max(n_events))`` reconstructs the
    final table regardless of how the input was micro-batched.
    """
    (user_id,) = key
    rows = pd.concat(list(pdfs), ignore_index=True)
    # deterministic event order inside the batch: ts, then event_id
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
    # normalize to ns first: pandas may surface the Arrow column as
    # datetime64[us] or [ns] depending on conversion path
    ts_us = rows["ts"].values.astype("datetime64[ns]").astype("int64") // 1000

    if state.exists:
        session_no, start_us, last_us, n_events = state.get
    else:
        session_no, start_us, last_us, n_events = 0, None, None, 0

    touched: dict[int, tuple[int, int, int]] = {}
    gap_us = SESSION_GAP_SECONDS * 1_000_000
    for t in ts_us:
        t = int(t)
        if start_us is None or t - last_us > gap_us:
            session_no += 1
            start_us, n_events = t, 0
        last_us = t
        n_events += 1
        touched[session_no] = (start_us, last_us, n_events)

    state.update((session_no, start_us, last_us, n_events))

    def fmt(us: int) -> str:
        return pd.Timestamp(us * 1000).strftime("%Y-%m-%d %H:%M:%S")

    yield pd.DataFrame(
        {
            "user_id": [user_id] * len(touched),
            "session_no": list(touched.keys()),
            "session_start": [fmt(v[0]) for v in touched.values()],
            "session_end": [fmt(v[1]) for v in touched.values()],
            "n_events": [v[2] for v in touched.values()],
        }
    )


_SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_no long, session_start string, "
    "session_end string, n_events long"
)
_SESSION_STATE_SCHEMA = "session_no long, start_us long, last_us long, n_events long"


def sessionize_stream(events: DataFrame) -> DataFrame:
    """30-min-gap sessionization as a custom stateful streaming operator —
    the streaming twin of ``events_sessionization`` (batch window + cumsum).

    One state tuple per user (the open session); emitted rows are session
    snapshots (see ``_sessionize_group``). Within-batch ordering is exact;
    across micro-batches events are assumed watermark-ordered per user, the
    standard contract for streaming sessionizers.
    """
    return (
        events.select("user_id", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=_SESSION_OUTPUT_SCHEMA,
            stateStructType=_SESSION_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def session_window_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """JVM-native session windows (`F.session_window`) — the built-in
    stateful operator Spark ships for gap-based sessionization when the
    per-session result is AGGREGATIVE (counts, min/max, sums). No Python in
    the loop: state lives in the JVM state store and merges window ranges
    natively, so this path has none of the per-group Arrow round-trip floor
    the `applyInPandasWithState` twin pays (~1.8 s at sf0.1) — the custom
    op remains for genuinely non-aggregative per-session logic.

    Gap semantics, stated exactly: an event at t extends a session whose
    last event is at s iff t − s < gap (the window [t, t+gap) must overlap)
    — a gap of EXACTLY `gap` starts a new session. The paired oracle uses
    `>=` as its break condition accordingly (the custom twin uses `>`,
    which differs only on exact-gap ties).

    Emits one row per (user, session) with session_end = MAX(ts) (not the
    window's end, which includes the trailing gap). Session-window
    aggregations stream in APPEND mode only (update is rejected): a session
    emits exactly once, when the watermark passes its end+gap — on a finite
    feed that means sessions still open at end-of-input stay in state (the
    harness twin's oracle mirrors that closure predicate; pass a 0-second
    watermark so end-of-feed closes everything it can).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window("ts", gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("__smin"),
            F.max("ts").alias("__smax"),
        )
        .select(
            "user_id",
            F.date_format("__smin", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("__smax", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def reconcile_session_windows(
    snapshots: DataFrame, dedupe_replays: bool = False
) -> DataFrame:
    """Number each user's landed sessions 1..k by start time — matching the
    batch twin's cumulative-sum numbering (closed sessions are a per-user
    prefix, so the numbering agrees). In append mode every window lands
    exactly once per run, so the default is numbering only. A sink that
    accumulates MULTIPLE runs (a replayed checkpoint into a persistent
    table) can carry superseded snapshots; `dedupe_replays=True` adds the
    maximality filter — session windows only ever GROW, so a snapshot is
    stale iff another snapshot for the same user covers a strictly larger
    span (and same-span re-emissions keep the max count). Both paths run
    over session-count-sized data (snapshots, not events)."""
    from pyspark.sql import Window

    maximal = snapshots
    if dedupe_replays:
        # rename the probe side instead of alias() — the memory-sink view's
        # self-join alias resolution is unreliable under Spark 4's resolver
        b = snapshots.select(
            F.col("user_id").alias("__b_user"),
            F.col("session_start").alias("__b_start"),
            F.col("session_end").alias("__b_end"),
        )
        stale = (
            (F.col("__b_user") == F.col("user_id"))
            & (F.col("__b_start") <= F.col("session_start"))
            & (F.col("__b_end") >= F.col("session_end"))
            & (
                (F.col("__b_start") != F.col("session_start"))
                | (F.col("__b_end") != F.col("session_end"))
            )
        )
        maximal = (
            snapshots.join(b, on=stale, how="left_anti")
            .groupBy("user_id", "session_start", "session_end")
            .agg(F.max("n_events").alias("n_events"))
        )
    w = Window.partitionBy("user_id").orderBy("session_start", "session_end")
    return maximal.withColumn(
        "session_no", F.row_number().over(w).cast("long")
    ).select("user_id", "session_no", "session_start", "session_end", "n_events")


def reconcile_session_snapshots(snapshots: DataFrame) -> DataFrame:
    """Collapse per-batch session snapshots to the final session table."""
    return snapshots.groupBy("user_id", "session_no").agg(
        F.min("session_start").alias("session_start"),
        F.max("session_end").alias("session_end"),
        F.max("n_events").alias("n_events"),
    )


def run_stream_to_table(
    df: DataFrame,
    spark: SparkSession,
    output_mode: str,
    shuffle_partitions: int | None = 4,
) -> DataFrame:
    """Run a finite streaming query (Trigger.AvailableNow) into a memory
    sink and return the result as a batch DataFrame.

    Memory sink is correct here because everything routed through it is
    pre-aggregated (small); raw events never land on the driver.

    A streaming query materializes one state store per shuffle partition per
    stateful operator, and every micro-batch pays open/commit on each of
    them. At the bench's input size that fixed cost dwarfs the data, so the
    stream runs with a low partition count (`shuffle_partitions`, default 4
    — A/B-measured ~10% faster than 8 on the bench inputs)
    and the session's batch setting is restored afterwards. A production
    deployment sizes this to cluster cores instead (pass None to leave the
    session value untouched) — the partition count is baked into the
    checkpoint on first run either way.
    """
    name = f"stream_result_{uuid.uuid4().hex[:12]}"
    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if shuffle_partitions is not None:
            if prev is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
            else:
                # the session never set it explicitly: unset to fall back to
                # the default rather than pinning the batch session to the
                # streaming value
                spark.conf.unset("spark.sql.shuffle.partitions")
    return spark.table(name)


def interval_join_stream(
    events: DataFrame, lookback: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join: each click joined to the same user's
    views from the preceding `lookback` window — the streaming twin of the
    keyed range join (operators/range_join.keyed_range_join).

    Both sides are watermarked and the join carries an event-time range
    constraint, so Spark bounds the join state to the lookback horizon:
    state size is O(events within watermark+lookback), not O(stream).
    Inner joins emit eagerly — on a finite AvailableNow run the sink holds
    exactly the batch-join result.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    return clicks.join(
        views,
        F.expr(
            f"user_id = v_user_id AND view_ts <= click_ts "
            f"AND view_ts >= click_ts - INTERVAL {lookback}"
        ),
        "inner",
    ).select(
        "click_id",
        "user_id",
        F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "view_id",
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
    )


def distinct_users_stream(events: DataFrame, horizon: str = "30 days") -> DataFrame:
    """Streaming distinct within a dedup horizon: bounded-state contract.

    `dropDuplicatesWithinWatermark` evicts a key's state once the watermark
    passes its event time + `horizon`, so state is bounded by (keys active
    within the horizon), not total distinct keys ever seen — the property a
    plain `dropDuplicates(["user_id"])` lacks (its state grows without bound
    on an unbounded stream). The trade: a key recurring more than `horizon`
    apart is emitted again. That is the honest scalable semantics — exact
    global distinct over an unbounded stream fundamentally requires
    unbounded state (use the HLL sketch for an approximate global count).
    With `horizon` ≥ the input's event-time span (as in the harness) the
    output equals batch SELECT DISTINCT. Streaming twin of exact dedup (A5).
    """
    return (
        events.select("user_id", "ts")
        .withWatermark("ts", horizon)
        .dropDuplicatesWithinWatermark(["user_id"])
        .select("user_id")
    )


def stream_into_mirror(
    events: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    keys: list[str],
) -> None:
    """foreachBatch sink: apply mirror upsert semantics per micro-batch —
    the streaming load path of the app-sync mirror (operators/mirror.upsert
    inside the batch callback, exactly-once via checkpoint + idempotent
    upsert). Finite inputs use Trigger.AvailableNow; a live feed runs the
    same code continuously.
    """
    import os

    from aci_export_spark.operators.mirror import upsert

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if os.path.exists(target_path):
            target = spark.read.parquet(target_path)
            post = upsert(target, batch_df, keys)
        else:
            post = batch_df
        tmp = target_path + ".tmp"
        post.write.mode("overwrite").parquet(tmp)
        import shutil

        if os.path.exists(target_path):
            shutil.rmtree(target_path)
        os.rename(tmp, target_path)

    q = (
        events.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def dq_monitor_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming data-quality monitor: per tumbling hour, total events plus
    CASE-sum violation counters (the fused-predicate discipline of
    ``operators/dq.predicate_check_report``, under a watermarked window).
    State is one row per open window — the always-on twin of the batch DQ
    gate: a load pipeline alerts on a window whose violation counters jump
    instead of gating a whole batch."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("value") > 90, 1).otherwise(0))
            .cast("long")
            .alias("n_value_over_90"),
            F.sum(F.when(F.col("value").isNull() | (F.col("value") <= 0), 1).otherwise(0))
            .cast("long")
            .alias("n_value_nonpositive"),
            F.sum(
                F.when(F.get_json_object("props", "$.k").isNull(), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_props_missing_k"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n_events",
            "n_value_over_90",
            "n_value_nonpositive",
            "n_props_missing_k",
        )
    )


FUNNEL_STEPS = ("signup", "view", "click", "purchase")

_FUNNEL_OUTPUT_SCHEMA = (
    "user_id long, t_signup string, t_view string, t_click string, "
    "t_purchase string, stage_reached int"
)
_FUNNEL_STATE_SCHEMA = "t1 long, t2 long, t3 long, t4 long"


def _funnel_group(
    key: Tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Stateful funnel chain for one user (applyInPandasWithState).

    State: the four chain timestamps (µs, None until reached). Events are
    processed in (ts, event_id) order; step N's slot is filled by the first
    step-N event at-or-after slot N-1 — identical to the batch
    min-with-predicate semantics under the watermark-ordered per-user
    contract the sessionizer documents. Slots are write-once, so snapshots
    are monotone and the last one per user is the final row.
    """
    (user_id,) = key
    rows = pd.concat(list(pdfs), ignore_index=True)
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
    ts_us = rows["ts"].values.astype("datetime64[ns]").astype("int64") // 1000

    slots: list[int | None] = list(state.get) if state.exists else [None] * 4
    step_of = {s: i for i, s in enumerate(FUNNEL_STEPS)}
    for t, etype in zip(ts_us, rows["event_type"]):
        i = step_of.get(etype)
        if i is None or slots[i] is not None:
            continue
        if i == 0 or (slots[i - 1] is not None and int(t) >= slots[i - 1]):
            slots[i] = int(t)
    state.update(tuple(slots))

    if slots[0] is None:  # no signup yet → user not in the funnel table
        return

    def fmt(us):
        return None if us is None else pd.Timestamp(us * 1000).strftime("%Y-%m-%d %H:%M:%S")

    stage = sum(1 for s in slots if s is not None)
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "t_signup": [fmt(slots[0])],
            "t_view": [fmt(slots[1])],
            "t_click": [fmt(slots[2])],
            "t_purchase": [fmt(slots[3])],
            "stage_reached": [stage],
        }
    )


def funnel_stream(events: DataFrame) -> DataFrame:
    """Streaming conversion funnel — the stateful twin of
    ``operators/funnel.funnel_steps``: one 4-slot state tuple per user,
    write-once slots, snapshot per touched user per micro-batch."""
    return (
        events.select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_group,
            outputStructType=_FUNNEL_OUTPUT_SCHEMA,
            stateStructType=_FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _release_checkpoints(*frames: DataFrame | None) -> None:
    """Drop the blocks of `localCheckpoint`ed frames now. Spark otherwise
    frees them only when the JVM collects the frame, and for state a
    `foreachBatch` function captured that can be minutes after the stream
    ended, in the middle of unrelated work."""
    for df in frames:
        if df is not None:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def funnel_foreach_batch(
    events: DataFrame,
    spark: SparkSession,
    steps: tuple[str, ...] = FUNNEL_STEPS,
    shuffle_partitions: int | None = 4,
    allowed_lateness_s: float | None = None,
    state_out: dict | None = None,
) -> DataFrame:
    """JVM-native streaming funnel: ``foreachBatch`` incremental chain merge
    — no Python in the per-event loop, unlike the `applyInPandasWithState`
    twin (`funnel_stream`), which pays the ~1.8 s per-group Arrow machinery
    floor at bench scale.

    The trick that makes the funnel a *batch-composable* aggregation: filled
    chain slots are equivalent to synthetic events. Each micro-batch unions
    the previous state's non-NULL slots — re-emitted as one event per slot —
    with the batch's raw events plus the retained *candidate* events (see
    below) and runs the ordinary batch `funnel_steps` (type-filtered
    min-with-predicate chain, all JVM aggregates/joins) over that union.

    Exactness under out-of-order arrival: chain slots are monotone
    non-increasing as events accumulate (t₁ is a plain min; inductively a
    smaller t₍ₖ₋₁₎ only *grows* slot k's valid set, and the event behind the
    current tₖ stays valid, so tₖ can only fall). Hence any step-k event
    with ts ≥ current tₖ can never become the min later — safe to forget;
    any event with ts < tₖ (it was invalid: ts < t₍ₖ₋₁₎) or belonging to a
    user whose slot k is still NULL *can* be promoted when an earlier slot
    falls, so it is retained as a pending candidate. Each batch therefore
    merges (batch ∪ pending ∪ slot-synthetics), recomputes the chain, and
    re-derives pending — giving exact batch-funnel semantics under ARBITRARY
    per-user arrival order across micro-batches (round-6 ADVICE: the
    previous cut silently dropped a view@8 that a late signup@5 should have
    promoted). State (one chain row per signed-up user + the pending
    candidates, which shrink as slots converge to their true minima) is
    localCheckpointed between batches — the foreachBatch delta-merge
    pattern, with executor block storage standing in for the warehouse
    table a production deployment would MERGE into.

    Scale: per micro-batch cost is `funnel_steps` over (batch ∪ pending ∪
    one row per filled slot) — K co-partitioned joins over per-user
    aggregates; pending holds only not-yet-promotable events (out-of-order
    stragglers and pre-signup activity), the streaming-funnel analogue of a
    watermark buffer.

    Bounded state on unbounded streams: with ``allowed_lateness_s`` set,
    pending candidates older than ``max(event ts seen) - lateness`` are
    EVICTED each batch (r7 verdict #7 — without this, pre-signup events of
    users who never sign up accumulate forever). Safe under the lateness
    contract: promoting a candidate c at step k requires slot k-1 to drop
    to ≤ c.ts, and any such drop — even through a cascade of other pending
    promotions — bottoms out at a newly ARRIVING event with ts ≤ c.ts; once
    c.ts < horizon, that arrival would violate the contract. So when no
    event arrives later than the horizon, the evicting funnel is
    row-identical to the exact one (asserted in
    tests/test_funnel_eviction.py); true contract violators may then land
    in a lower slot than an offline recompute — the standard watermark
    trade, stated rather than hidden.
    """
    from aci_export_spark.operators.funnel import funnel_steps

    state: dict = {"df": None, "pending": None, "max_ts": None}

    def merge(batch_df: DataFrame, _batch_id: int) -> None:
        ev = batch_df.select("user_id", "ts", "event_type").filter(
            F.col("event_type").isin(*steps)
        )
        prev_state, prev_pending = state["df"], state["pending"]
        if prev_pending is not None:
            ev = ev.unionByName(prev_pending)
        if prev_state is not None:
            for s in steps:
                ev = ev.unionByName(
                    prev_state.filter(F.col(f"t_{s}").isNotNull()).select(
                        "user_id",
                        F.col(f"t_{s}").alias("ts"),
                        F.lit(s).alias("event_type"),
                    )
                )
        ev = ev.localCheckpoint(eager=True)  # scanned once per step + once for pending
        _release_checkpoints(prev_state, prev_pending)
        chain = funnel_steps(ev, steps).localCheckpoint(eager=True)
        # retain candidates: step-k events strictly below the user's slot k
        # (or with slot k still NULL / user absent from the chain) — exactly
        # the events a future earlier-slot decrease could promote
        slot_of = F.create_map(
            *[x for s in steps for x in (F.lit(s), F.col(f"t_{s}"))]
        )
        pending = (
            ev.join(
                chain.select("user_id", *[f"t_{s}" for s in steps]),
                on="user_id",
                how="left",
            )
            .filter(
                slot_of[F.col("event_type")].isNull()
                | (F.col("ts") < slot_of[F.col("event_type")])
            )
            .select("user_id", "ts", "event_type")
        )
        if allowed_lateness_s is not None:
            # advance the high-water mark from RAW batch arrivals (not the
            # union — re-emitted state must not move the clock), then evict
            # candidates the lateness contract makes unpromotable. Bounded
            # 1-row scalar fetch per micro-batch, the watermark-tracking
            # shape — not a data collect.
            batch_max = batch_df.agg(F.max("ts")).first()[0]
            if batch_max is not None and (
                state["max_ts"] is None or batch_max > state["max_ts"]
            ):
                state["max_ts"] = batch_max
            if state["max_ts"] is not None:
                import datetime

                horizon = state["max_ts"] - datetime.timedelta(
                    seconds=allowed_lateness_s
                )
                pending = pending.filter(F.col("ts") >= F.lit(horizon))
        state["df"] = chain
        state["pending"] = pending.localCheckpoint(eager=True)
        _release_checkpoints(ev)

    import tempfile

    prev = spark.conf.get("spark.sql.shuffle.partitions", None)
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        with tempfile.TemporaryDirectory(prefix="funnel_fb_ckpt_") as ckpt:
            q = (
                events.select("user_id", "ts", "event_type")
                .writeStream.foreachBatch(merge)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        if shuffle_partitions is not None:
            if prev is not None:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
            else:
                # Session never set the conf explicitly: unset rather than
                # skip, or the session stays pinned at the funnel's narrow
                # setting for every subsequent query (same contract as
                # run_stream_to_table's finally block).
                spark.conf.unset("spark.sql.shuffle.partitions")

    chain, pending, max_ts = state["df"], state["pending"], state["max_ts"]
    # the JVM holds `merge`, and so `state`, until it collects the query
    state.clear()
    if state_out is not None:
        # observability hook (used by the bounded-state tests): final
        # retained-candidate set and event-time high-water mark
        state_out["pending"] = pending
        state_out["max_ts"] = max_ts
    else:
        _release_checkpoints(pending)
    if chain is None:  # no batch ever fired (empty landing dir)
        schema = ", ".join(["user_id long"] + [f"t_{s} timestamp" for s in steps])
        return spark.createDataFrame([], schema + ", stage_reached int")
    return chain


def reconcile_funnel_snapshots(snapshots: DataFrame) -> DataFrame:
    """Collapse per-batch funnel snapshots to the final per-user table:
    slots are write-once (monotone), so max() per column reconstructs the
    last snapshot."""
    return snapshots.groupBy("user_id").agg(
        F.max("t_signup").alias("t_signup"),
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
        F.max("stage_reached").alias("stage_reached"),
    )


#: subfiles per landing range group — a micro-batch's parallelism is its
#: file count, so each group spreads over this many (still disjoint) files
_FILE_SPREAD = 8


def _file_drop_index_stream(
    spark: SparkSession,
    sf_dir: str,
    delta_fn,
    merge_fn,
    stage_key: str,
    n_files: int = 5,
    batch_counter: dict | None = None,
    columns: tuple[str, ...] = ("doc_id", "text"),
    files_per_trigger: int = 3,
) -> DataFrame:
    """Shared machinery for streaming INDEX maintenance over a file-drop
    corpus: the documents table is staged into a range-partitioned landing
    dir (disjoint doc_id ranges → every micro-batch is a disjoint doc set
    regardless of arrival order), re-read with
    ``maxFilesPerTrigger=files_per_trigger`` so the ingest genuinely spans
    multiple micro-batches, and every ``foreachBatch`` merges
    ``delta_fn(batch)`` into the maintained index via
    ``merge_fn(index, delta)``.

    ``files_per_trigger`` is the scheduling-floor dial (r10 verdict #4:
    one-file micro-batches made these two queries the registry's most
    expensive rows — each batch pays scheduling + a merge shuffle + a
    full-index materialization).  Disjointness holds for ANY grouping of
    landing files (ranges are disjoint per FILE), so batching k groups per
    trigger divides the per-batch floors by k without weakening the
    stream ≡ rebuild oracle; the default 3 keeps ceil(5/3) = 2 batches —
    the minimum that still exercises a genuine mid-stream incremental
    merge.  At 100 TB the same dial is the trigger's
    ingest-rate control — state stays bounded by distinct index keys
    either way.

    Each range group is additionally SPREAD over ``_FILE_SPREAD`` subfiles
    (still pairwise-disjoint doc ranges): a micro-batch's source otherwise
    has as many input partitions as files, and a 1–2-file batch pinned the
    whole per-batch Arrow delta onto 1–2 of the executor's threads — the
    actual r10 floor behind the 7 s winnow row (the merge checkpoints
    measure ~0.2 s; the serialized delta was the cost).

    State is the index itself (bounded by distinct keys, not stream
    length), localCheckpointed per batch so each merge reads compact
    stats, not a growing lineage. Raises if the stream collapsed to a
    single micro-batch — a silent one-batch run would "verify" nothing
    but the batch path (the events-glob lesson, SCALE.md)."""
    import hashlib
    import os
    import shutil

    from aci_export_spark.sources import read_table

    docs = read_table(spark, sf_dir, "documents").select(*columns)
    # md5 keying, not Python hash(): hash() is PYTHONHASHSEED-salted, so
    # every interpreter would mint a fresh landing dir (and the old copies
    # would pile up in /tmp); the dir is keyed + bounded (one per
    # corpus×operator) and REUSED across runs — only the checkpoint is
    # removed in the finally below
    key = hashlib.md5(
        f"{sf_dir}:{n_files}:{_FILE_SPREAD}:v2:{stage_key}".encode()
    ).hexdigest()[:16]
    stage = f"/tmp/spark_graft_{stage_key}_stream_{key}"
    spread = _FILE_SPREAD
    # the landing dir is a DETERMINISTIC function of its key (corpus path,
    # layout, operator), so a completed prior staging is reused — _SUCCESS
    # is the completeness witness (a crashed half-write lacks it and is
    # rewritten); bench reps and oracle re-runs skip the staging write.
    # Partition count is capped by the doc count so a SMALL corpus (the
    # degenerate sweep's duplicate/tiny fixtures) does not land mostly
    # EMPTY part files — with empties, one trigger could hold every row
    # and the two-batch guard below would fire spuriously
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        n_parts = max(2, min(n_files * spread, docs.count()))
        docs.repartitionByRange(n_parts, "doc_id").write.mode(
            "overwrite"
        ).parquet(stage)
    n_landed = len(
        [f for f in os.listdir(stage) if f.startswith("part-")]
    )
    # trigger size derived from the ACTUAL landed file count: at the real
    # corpus (40 files) this is the same 2-micro-batch split as the fixed
    # 24-file trigger; at a tiny corpus it shrinks so the incremental
    # merge path is still genuinely exercised
    mfpt = max(1, min(max(1, int(files_per_trigger)) * spread, n_landed // 2))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", str(mfpt))
        .parquet(stage)
    )
    state: dict = {"index": None, "batches": 0}

    def upsert(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        delta = delta_fn(batch_df)
        prev = state["index"]
        merged = delta if prev is None else merge_fn(prev, delta)
        state["index"] = merged.localCheckpoint(eager=True)
        _release_checkpoints(prev)
        state["batches"] += 1

    ckpt = f"{stage}_ckpt_{uuid.uuid4().hex}"
    try:
        q = (
            stream.writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # the index is localCheckpointed (independent of these files); the
        # one-shot stream checkpoint is scratch; the staged corpus copy is
        # deterministic and kept for reuse (see the staging guard above)
        shutil.rmtree(ckpt, ignore_errors=True)
    index, batches = state["index"], state["batches"]
    # the JVM holds `upsert`, and so `state`, until it collects the query
    state.clear()
    if batch_counter is not None:
        batch_counter["batches"] = batches
    if batches < 2:
        _release_checkpoints(index)
        raise RuntimeError(
            f"{stage_key} index stream ran in {batches} "
            "micro-batch(es) — the incremental merge path was not "
            "exercised; check the landing dir produced multiple files"
        )
    return index


def gram_index_stream(
    spark: SparkSession,
    sf_dir: str,
    n: int = 8,
    min_docs: int = 2,
    n_files: int = 5,
    batch_counter: dict | None = None,
) -> DataFrame:
    """Streaming maintenance of the exact-substring gram-stats INDEX: each
    micro-batch's gram stats merge into the maintained index via
    :func:`~aci_export_spark.llm.dedup.merge_gram_stats` — the disjoint-doc
    contract holds by construction (doc_id range partitioning). The final
    index filtered to ``n_docs >= min_docs`` must equal the batch rebuild
    over the whole corpus, which is exactly what the driver oracle checks.
    (Machinery: :func:`_file_drop_index_stream`.)"""
    from aci_export_spark.llm.dedup import gram_stats_table, merge_gram_stats

    index = _file_drop_index_stream(
        spark,
        sf_dir,
        delta_fn=lambda b: gram_stats_table(b, "doc_id", "text", n=n),
        merge_fn=merge_gram_stats,
        stage_key="gram",
        n_files=n_files,
        batch_counter=batch_counter,
    )
    return index.filter(F.col("n_docs") >= min_docs).select(
        "gram", "n_docs", "n_occurrences"
    )


def chunk_index_stream(
    spark: SparkSession,
    sf_dir: str,
    chunk_tokens: int = 64,
    stride: int = 48,
    min_docs: int = 2,
    n_files: int = 5,
    batch_counter: dict | None = None,
) -> DataFrame:
    """Streaming maintenance of the RAG chunk-dedup INDEX: each
    micro-batch is chunked (:func:`~aci_export_spark.llm.text.
    chunk_stats_table`, singletons kept — a singleton plus one delta
    occurrence becomes a duplicate) and merged into the maintained
    (chunk_hash, n_docs, n_occurrences) table; distinct-doc counts add
    exactly because micro-batch doc sets are disjoint AND a document's
    chunks never straddle batches (chunking is per-doc). Final index
    filtered to ``n_docs >= min_docs`` must equal the batch rebuild
    (llm_chunk_dedup's oracle). (Machinery:
    :func:`_file_drop_index_stream`.)"""
    from aci_export_spark.llm.text import chunk_stats_table

    def merge(base: DataFrame, delta: DataFrame) -> DataFrame:
        return (
            base.unionByName(delta)
            .groupBy("chunk_hash")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("n_occurrences").alias("n_occurrences"),
            )
        )

    index = _file_drop_index_stream(
        spark,
        sf_dir,
        delta_fn=lambda b: chunk_stats_table(b, "doc_id", "text", chunk_tokens, stride),
        merge_fn=merge,
        stage_key="chunk",
        n_files=n_files,
        batch_counter=batch_counter,
    )
    return index.filter(F.col("n_docs") >= min_docs).select(
        "chunk_hash", "n_docs", "n_occurrences"
    )


def winnow_index_stream(
    spark: SparkSession,
    sf_dir: str,
    k: int = 24,
    w: int = 8,
    min_docs: int = 2,
    n_files: int = 5,
    batch_counter: dict | None = None,
) -> DataFrame:
    """Streaming maintenance of the winnowing fingerprint POSTING index:
    each micro-batch is winnowed (selection is per-document, so batch
    boundaries cannot change any doc's selected set) and its
    (fp_hash, n_docs, n_selections) stats merge into the maintained
    table; counts add exactly under the disjoint-doc ingest contract.
    Final index filtered to ``n_docs >= min_docs`` equals the batch
    rebuild — the overlap-pair candidate vocabulary, maintained without
    re-winnowing the base corpus. (Machinery:
    :func:`_file_drop_index_stream`.)"""
    from aci_export_spark.llm.winnow import winnow_fingerprints

    def delta(batch: DataFrame) -> DataFrame:
        fps = winnow_fingerprints(batch, "doc_id", "text", k=k, w=w)
        return fps.groupBy("fp_hash").agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_selections"),
        )

    def merge(base: DataFrame, d: DataFrame) -> DataFrame:
        return (
            base.unionByName(d)
            .groupBy("fp_hash")
            .agg(
                F.sum("n_docs").alias("n_docs"),
                F.sum("n_selections").alias("n_selections"),
            )
        )

    index = _file_drop_index_stream(
        spark,
        sf_dir,
        delta_fn=delta,
        merge_fn=merge,
        stage_key="winnow",
        n_files=n_files,
        batch_counter=batch_counter,
    )
    return index.filter(F.col("n_docs") >= min_docs).select(
        "fp_hash", "n_docs", "n_selections"
    )


def hll_index_stream(
    spark: SparkSession,
    sf_dir: str,
    n_files: int = 5,
    batch_counter: dict | None = None,
) -> DataFrame:
    """Streaming maintenance of a per-language HyperLogLog REGISTER index
    over the corpus vocabulary: each micro-batch's (lang, register,
    max_rho) table merges into the maintained index by MAX — the
    strongest merge law in the index family: unlike the count-based
    gram/chunk/winnow merges it needs NO disjointness contract at all
    (max is idempotent), so re-delivered or overlapping batches cannot
    corrupt the state. State is the index itself: ≤ langs · 2^p rows
    FOREVER, regardless of stream length — the sketch's whole point.

    The final fold (:func:`~aci_export_spark.operators.sketches.
    hll_estimate`) must equal the batch rebuild over the whole corpus,
    which is exactly what the driver oracle recomputes.  (Machinery:
    :func:`_file_drop_index_stream`.)"""
    from aci_export_spark.llm.text import word_tokens
    from aci_export_spark.operators.sketches import hll_estimate, hll_registers

    def delta(batch: DataFrame) -> DataFrame:
        toks = batch.select(
            "lang", F.explode(word_tokens(F.col("text"))).alias("tok")
        )
        return hll_registers(toks, "tok", ["lang"])

    def merge(base: DataFrame, d: DataFrame) -> DataFrame:
        return (
            base.unionByName(d)
            .groupBy("lang", "register")
            .agg(F.max("max_rho").alias("max_rho"))
        )

    index = _file_drop_index_stream(
        spark,
        sf_dir,
        delta_fn=delta,
        merge_fn=merge,
        stage_key="hll",
        n_files=n_files,
        batch_counter=batch_counter,
        columns=("doc_id", "lang", "text"),
    )
    return hll_estimate(index, ["lang"])
