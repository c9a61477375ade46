"""The reference jobs, defined once for stream and batch, plus the
streaming-only operators (watermarks, dedup-in-time, session windows,
custom stateful operators).  Each operator has one body.

Each reference job maps a DataFrame of notification rows (payload
STRING, service, servicePath, ts TIMESTAMP) to its result.  The same
function runs on the ``orion_http`` stream and on a batch DataFrame,
where ``withWatermark`` is a no-op — the Structured Streaming
unification (SIGMOD'18).

Job shapes (reference) and the functions that define them here:
  Example1 (Example1.scala:14-33): source -> flatMap entities -> map
    Temp_Node(id, temperature) -> keyBy(id) -> timeWindow(5,2) ->
    min(temperature) -> print                      ``streaming_window_min``
  Example2/3 (Example2.scala:17-47): same through min, then
    OrionSinkObject(json, URL_CB + id + "/attrs", JSON, POST) ->
    OrionSink + print(content)                     ``sink_envelopes``
  Example4 (Example4.scala:17-35): custom AverageAggregate (sum,count)
    -> windowed avg                                ``streaming_window_avg``
  Example5 (Example5.scala:14-37): nested information.value ->
    explode buses -> Bus(name, price) -> keyBy(name) ->
    timeWindow(5,2) -> min(price)                  ``streaming_window_bus_min``

Semantics mapping (SURVEY.md §7 'hard parts' #1): Flink 1.9
processing-time sliding windows emit every pane close; Structured
Streaming's closest analog is ingest-timestamp event time + ``update``
output mode, which re-emits a (window, key) row whenever a micro-batch
changes it.  ``append`` mode + watermark emits once per closed window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fiware_cosmos_orion_flink_connector_examples_spark.operators.ngsi import (
    entity_update_url,
    explode_buses,
    flatten_entities,
    parse_notifications,
    project_temp_nodes,
    to_ngsi_update_json,
)

# The reference's window: timeWindow(Time.seconds(5), Time.seconds(2)).
WINDOW_SIZE = "5 seconds"
WINDOW_SLIDE = "2 seconds"


def _window_agg(rows: DataFrame, key: str, agg: Column, watermark: str) -> DataFrame:
    """Watermarked keyed sliding-window aggregate ->
    (window_start, window_end, key, aggregate).  State: one row per
    (key, window) in the state store, dropped once the watermark passes
    window end — bounded by key-cardinality × (size/slide) live windows
    regardless of input rate."""
    return (
        rows.withWatermark("ts", watermark)
        .groupBy(F.window("ts", WINDOW_SIZE, WINDOW_SLIDE).alias("w"), key)
        .agg(agg)
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "*",
        )
        .drop("w")
    )


def _temp_nodes(notifications: DataFrame) -> DataFrame:
    return project_temp_nodes(flatten_entities(parse_notifications(notifications)))


def streaming_window_min(notifications: DataFrame, watermark: str = "10 seconds") -> DataFrame:
    """Example1: windowed min temperature per entity id."""
    return _window_agg(
        _temp_nodes(notifications), "id", F.min("temperature").alias("temperature_min"), watermark
    )


def streaming_window_avg(notifications: DataFrame, watermark: str = "10 seconds") -> DataFrame:
    """Example4: windowed average temperature per entity id (the state
    store keeps the (sum, count) accumulator exactly like
    AverageAggregate, Example4.scala:39-49)."""
    return _window_agg(
        _temp_nodes(notifications), "id", F.avg("temperature").alias("temperature_avg"), watermark
    )


def streaming_window_bus_min(notifications: DataFrame, watermark: str = "10 seconds") -> DataFrame:
    """Example5: windowed min price per bus company over the nested
    information.value buses (Example5.scala:20-30)."""
    buses = explode_buses(flatten_entities(parse_notifications(notifications)))
    return _window_agg(buses, "name", F.min("price").alias("price_min"), watermark)


def sink_envelopes(mins: DataFrame, url_cb: str) -> DataFrame:
    """Example2/3: each windowed min becomes the HTTP sink's
    (content, url, content_type, method) record (OrionSinkObject,
    Example2.scala:35-38), plus the ``window_end`` the HTTP sink sends
    an entity's updates in.  Example3 differs from Example2 only in
    ``url_cb``, the broker address (Example3.scala:13)."""
    return mins.select(
        to_ngsi_update_json(F.col("temperature_min"), "temperature_min").alias("content"),
        entity_update_url(url_cb, F.col("id")).alias("url"),
        F.lit("application/json").alias("content_type"),
        F.lit("POST").alias("method"),
        "window_end",
    )


def streaming_dedup(
    notifications: DataFrame,
    keys: list[str],
    watermark: str = "30 seconds",
) -> DataFrame:
    """X1 streaming exact dedup: dropDuplicatesWithinWatermark — state
    holds one fingerprint per key within the watermark horizon (the
    broker-side '≥5 s throttling per subscription' P2 is the degenerate
    form: dedup key = subscription, horizon = 5 s)."""
    return notifications.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def _ts_us(sec: float):
    """Epoch float-seconds → µs-exact pandas Timestamp.  Constructing
    from float seconds lands on ns precision, which Arrow refuses to
    (unsafely) truncate to Spark's timestamp[us] — surfaced the first
    time a stateful op ran on real fractional-µs event times."""
    import pandas as pd

    return pd.Timestamp(int(round(sec * 1_000_000)), unit="us")


def sessionize(
    events: DataFrame,
    gap_secs: float = 30.0,
    watermark: str = "1 minute",
) -> DataFrame:
    """Session windows per ``user_id`` with a ``gap_secs`` inactivity
    gap, on the built-in ``F.session_window`` aggregate: the state
    store keeps one row per open session and MERGES sessions whose
    gap closes (the Structured Streaming session merge, SIGMOD'18), so
    no custom state code runs.  A session is emitted once the event-time
    watermark passes its last event + gap (append mode).

    Output: (user_id, session_start, session_end = the last event,
    n_events, sum_value) — the contract of ``sessionize_batch``.  Events
    exactly ``gap_secs`` apart share a session; a larger gap splits it
    (the batch twin's strict ``> gap``)."""
    # millisecond interval so fractional gaps aren't truncated to 0
    # (gap_secs=0.5 must mean 500ms)
    gap = f"{int(round(gap_secs * 1000))} milliseconds"
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).cast("int").alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "session_end",
            "n_events",
            "sum_value",
        )
    )


def sessionize_batch(events: DataFrame, gap_secs: float = 30.0) -> DataFrame:
    """Batch twin of ``sessionize`` built from window functions (lag +
    cumulative sum of gap breaks) — same output contract, used as the
    correctness oracle for the stateful streaming path."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gaps = events.select(
        "user_id",
        "ts",
        "value",
        F.when(
            F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
            > gap_secs,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = gaps.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).cast("int").alias("n_events"),
        F.sum("value").alias("sum_value"),
    ).drop("session_id")


def maintain_hourly_rollup(
    table_path: str,
    txn_app_id: str = "hourly-rollup",
):
    """EXACTLY-ONCE continuous-aggregate maintenance: keep an hourly
    rollup TABLE incrementally up to date from a stream — the
    timescale-style materialized rollup.  Per micro-batch the batch is
    partially aggregated per (hour, event_type) — mergeable sums and
    counts only, never averages — and re-summed into the touched keys.
    The rollup lives as a keyed snapshot table (key = hour|event_type),
    each micro-batch becomes ONE atomic manifest commit carrying BOTH
    the re-summed touched keys and the per-app batch watermark, so

      * a batch replayed after a completed commit sees batch_id ≤ its
        watermark and skips (no double-count);
      * a crash anywhere before the manifest rename leaves the table
        at the previous version, and the retry recomputes against that
        unchanged base;
      * the read-modify-write unit is guarded against FOREIGN writers:
        the base rows are read at a pinned version and the merge
        carries ``expected_version=`` that same version, so a foreign
        commit landing between the read and the merge raises
        ``SnapshotVersionConflict`` (``layout.optimistic_commit``
        re-reads the new latest and recomputes) instead of silently
        losing the foreign keys' updates;
      * cross-hour atomicity is total — a batch touching several
        hours commits all of them or none.

    Scale shape: the batch partial-agg is map-side combined; the
    read-modify joins the CURRENT table against the batch's touched
    keys (broadcast — bounded by hours×types in one batch); a rollup
    table is hours×types rows, tiny at any corpus size, so the full
    snapshot_read is metadata-cheap; the merge commit rewrites only
    the touched keys' hash buckets.  Readers use
    ``layout.snapshot_read(spark, table_path)`` (time travel and the
    CDC feed come free).  Returns the function for ``foreachBatch``."""

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        from fiware_cosmos_orion_flink_connector_examples_spark.sources import (
            layout,
        )

        spark = batch.sparkSession
        base = table_path.rstrip("/")
        part = (
            batch.groupBy(
                F.date_trunc("hour", F.col("ts")).alias("hour"),
                "event_type",
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("value").alias("sum_value"),
            )
            .withColumn(
                "k",
                F.concat_ws(
                    "|", F.col("hour").cast("string"), F.col("event_type")
                ),
            )
            .select("k", "hour", "event_type", "n_events", "sum_value")
        )

        def attempt() -> None:
            cur = layout.snapshot_latest_version(spark, base)
            if layout._txn_applied(spark, base, txn_app_id, batch_id, cur):
                return  # replay of an already-committed batch
            if cur == 0:
                layout.snapshot_write_keyed(
                    spark,
                    part,
                    base,
                    "k",
                    n_buckets=8,
                    _txn_update={txn_app_id: batch_id},
                )
                return
            # pin the read to the version the merge will claim to
            # supersede — read + merge form one optimistic txn
            existing = layout.snapshot_read(spark, base, version=cur)
            merged = (
                part.unionByName(
                    existing.join(F.broadcast(part.select("k")), "k", "semi")
                )
                .groupBy("k", "hour", "event_type")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("sum_value").alias("sum_value"),
                )
            )
            layout.snapshot_merge(
                spark,
                base,
                merged,
                "k",
                _txn_update={txn_app_id: batch_id},
                expected_version=cur,
            )

        layout.optimistic_commit(
            f"maintain_hourly_rollup batch {batch_id}", attempt
        )

    return merge_batch


FUNNEL_SCHEMA = (
    "user_id bigint, stage int, step string, reached_ts timestamp"
)
# -1.0 = stage not reached (state tuples need a fixed non-null schema)
FUNNEL_STATE_SCHEMA = "t0 double, t1 double, t2 double"


def streaming_funnel(
    events: DataFrame,
    watermark: str = "1 minute",
) -> DataFrame:
    """Stateful streaming funnel — the live twin of the batch
    ``events_funnel_conversion`` query: per user, the first 'signup'
    sets t0, the first 'click' after t0 sets t1, the first 'purchase'
    after t1 sets t2; a (stage, step, reached_ts) row is emitted the
    micro-batch a stage is first reached (append mode), so a dashboard
    counts stage rows instead of recomputing the funnel per trigger.

    State per key is three doubles — constant size, no event
    buffering; the watermark bounds how late an event may arrive,
    and within each micro-batch events replay in ts order, so a
    same-batch signup→click→purchase chain resolves all three stages
    at once (the availableNow replay of a history equals the batch
    funnel exactly — pytest-pinned).  Cross-batch late events are
    applied in arrival order within the watermark horizon.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        user_id = key[0]
        t0, t1, t2 = state.get if state.exists else (-1.0, -1.0, -1.0)
        reached = []  # (stage, step, ts)
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            for ts, etype in zip(pdf["ts"], pdf["event_type"]):
                t = ts.timestamp()
                if etype == "signup" and t0 < 0:
                    t0 = t
                    reached.append((1, "signup", t))
                elif etype == "click" and t0 >= 0 and t > t0 and t1 < 0:
                    t1 = t
                    reached.append((2, "click_after_signup", t))
                elif etype == "purchase" and t1 >= 0 and t > t1 and t2 < 0:
                    t2 = t
                    reached.append((3, "purchase_after_click", t))
        state.update((t0, t1, t2))
        if reached:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(reached),
                    "stage": [s for s, _, _ in reached],
                    "step": [n for _, n, _ in reached],
                    "reached_ts": [_ts_us(t) for _, _, t in reached],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=FUNNEL_SCHEMA,
            stateStructType=FUNNEL_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


TRANSITION_SCHEMA = "user_id bigint, prev_state string, next_state string"
TRANSITION_STATE_SCHEMA = "last_state string, last_us bigint"


def streaming_transitions(
    events: DataFrame,
    watermark: str = "1 minute",
) -> DataFrame:
    """Stateful streaming twin of the batch transition matrix
    (``events_transition_matrix``): per user, each arriving event emits
    one (prev_state, next_state) pair row against the user's previous
    event — state is just (last_state, last_event_us), constant size.
    A live dashboard keeps the matrix as a running count over the
    emitted pair stream (append mode), never recomputing history.

    Within a micro-batch events replay in (ts, event_id) order, so an
    availableNow replay of a history equals the batch lag-window
    exactly (pytest-pinned); cross-batch late events are applied in
    arrival order within the watermark horizon.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        user_id = key[0]
        last_state, last_us = (
            state.get if state.exists else (None, -1)
        )
        prevs, nexts = [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts, etype in zip(pdf["ts"], pdf["event_type"]):
                if last_state is not None:
                    prevs.append(last_state)
                    nexts.append(etype)
                last_state = etype
                last_us = int(ts.value // 1_000)
        state.update((last_state, last_us))
        if prevs:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(prevs),
                    "prev_state": prevs,
                    "next_state": nexts,
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=TRANSITION_SCHEMA,
            stateStructType=TRANSITION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


LOCF_SCHEMA = "user_id bigint, bin_ts bigint, value_locf double, is_observed boolean"
LOCF_STATE_SCHEMA = "cur_bin bigint, cur_us bigint, cur_id bigint, cur_v double"


def streaming_locf(
    events: DataFrame,
    step_secs: int = 3600,
    watermark: str = "1 minute",
) -> DataFrame:
    """Stateful streaming gap-fill — the live twin of the batch
    ``temporal.resample_locf``: per user, a fixed-``step_secs`` bin is
    EMITTED when the first event of a later bin arrives (the bin is
    then closed), together with carried-forward rows for any empty
    bins in between.  State per key is one open bin: (bin, last_us,
    last_id, last_v) — constant size, no event buffering; a dashboard
    appends grid rows instead of recomputing the resample per trigger.

    The open (most recent) bin is never emitted — it could still
    receive a later in-bin event — so an availableNow replay of a
    history equals the batch resample minus each key's final bin
    (pytest-pinned).  Within a micro-batch events replay in
    (ts, event_id) order; a cross-batch event arriving for an
    already-closed bin is dropped as late (arrival order within the
    watermark horizon).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    step_us = step_secs * 1_000_000

    def update(key, pdfs, state):
        import pandas as pd

        user_id = key[0]
        cur_bin, cur_us, cur_id, cur_v = (
            state.get if state.exists else (-1, -1, -1, float("nan"))
        )
        out_bins, out_vals, out_obs = [], [], []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for ts, eid, val in zip(pdf["ts"], pdf["event_id"], pdf["value"]):
                us = int(ts.value // 1_000)
                b = us // step_us
                if cur_bin < 0:
                    cur_bin, cur_us, cur_id, cur_v = b, us, eid, val
                elif b == cur_bin:
                    if (us, eid) > (cur_us, cur_id):
                        cur_us, cur_id, cur_v = us, eid, val
                elif b > cur_bin:
                    # close the open bin, carry through the gap
                    out_bins.append(cur_bin)
                    out_vals.append(cur_v)
                    out_obs.append(True)
                    for gap in range(cur_bin + 1, b):
                        out_bins.append(gap)
                        out_vals.append(cur_v)
                        out_obs.append(False)
                    cur_bin, cur_us, cur_id, cur_v = b, us, eid, val
                # b < cur_bin: late event for a closed bin — dropped
        state.update((cur_bin, cur_us, cur_id, cur_v))
        if out_bins:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out_bins),
                    "bin_ts": [b * step_secs for b in out_bins],
                    "value_locf": out_vals,
                    "is_observed": out_obs,
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=LOCF_SCHEMA,
            stateStructType=LOCF_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


CEP_SCHEMA = "user_id bigint, signup_ts bigint, purchase_ts bigint, latency_us bigint"
CEP_STATE_SCHEMA = "t0 bigint, t1 bigint, err bigint, done bigint"


def streaming_cep_signup_purchase(
    events: DataFrame,
    within_us: int = 86_400_000_000,
    watermark: str = "1 minute",
) -> DataFrame:
    """Stateful streaming twin of the batch CEP pattern
    (``events_cep_signup_purchase``): per user, track the first
    'signup' (t0), reject on any 'error' strictly after t0 before the
    match completes, and emit ONE match row when the earliest
    'purchase' within ``within_us`` of t0 arrives — state is four
    int64s, constant size.

    Streaming semantics note (the retraction boundary): the batch
    query rejects on an error anywhere in (t0, t1) — including one
    that ARRIVES later but TIMESTAMPS earlier.  A stream cannot
    retract an emitted match, so in-order feeds (and availableNow
    replays, which sort per batch) match the batch output exactly
    (pytest-pinned) — including the same-timestamp error/purchase tie,
    which is resolved purchase-first to mirror batch's strictly-inside
    (t0, t1) error window; an out-of-order error crossing
    micro-batch boundaries is the documented divergence (arrival
    order within the watermark horizon).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        user_id = key[0]
        t0, t1, err, done = state.get if state.exists else (-1, -1, -1, 0)
        out = []
        for pdf in pdfs:
            # same-timestamp tie-break: apply a tied 'purchase' BEFORE a
            # tied 'error' — batch rejects only errors STRICTLY inside
            # (t0, t1), so an error timestamped exactly at the matching
            # purchase must not kill the pattern.  Other
            # types keep event_id order at equal ts.
            pdf = pdf.assign(
                _tie=(pdf["event_type"] != "purchase").astype("int8")
            ).sort_values(["ts", "_tie", "event_id"])
            for ts, etype in zip(pdf["ts"], pdf["event_type"]):
                us = int(ts.value // 1_000)
                if done:
                    break
                if etype == "signup" and t0 < 0:
                    t0 = us
                elif etype == "error" and t0 >= 0 and us > t0:
                    err = us
                    done = 1  # pattern dead for this user
                elif (
                    etype == "purchase"
                    and t0 >= 0
                    and us > t0
                    and us <= t0 + within_us
                ):
                    t1 = us
                    done = 1
                    out.append((user_id, t0 // 1_000_000, us // 1_000_000, us - t0))
        state.update((t0, t1, err, done))
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "signup_ts", "purchase_ts", "latency_us"],
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=CEP_SCHEMA,
            stateStructType=CEP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


DAU_WAU_SCHEMA = "day string, dau bigint, wau bigint, stickiness double"
DAU_WAU_STATE_SCHEMA = "dau_ids array<bigint>, wau_ids array<bigint>"


def streaming_dau_wau(
    events: DataFrame,
    watermark: str = "1 minute",
) -> DataFrame:
    """Stateful streaming engagement — the live twin of the batch
    ``events_dau_wau``: per report day, running exact DAU,
    trailing-7-day WAU, and the DAU/WAU stickiness ratio, re-emitted
    each micro-batch the day's counts change (update mode — a
    dashboard upserts on `day`).

    Same contribution-explode shape as the batch query, streamed: each
    event fans stateless-ly into the 7 report days it contributes to
    (k = 0 marks the DAU contribution), so the stateful stage keys on
    REPORT DAY and its per-key state is two distinct-user-id sets —
    per-day state is bounded by weekly actives, never by event count.
    At larger cardinalities the exact id sets swap for HLL registers
    (events_hll_mergeable_daily's sketch, ~2 KB per day constant) with
    the same plan shape — exact sets keep the twin bit-comparable to
    the batch oracle here.

    TOTAL state is bounded too: each day key arms an EventTimeTimeout
    at day_end + 7 days.  Once the watermark passes that point no event
    can contribute to the day (the last contributing event-day is the
    report day itself, and its rows are watermark-dropped long before),
    so the timeout fires and the state row is removed — total state is
    the ~8-day active horizon × weekly actives, not the deployment's
    lifetime.  The timeout branch emits nothing: a closed day is final,
    and update-mode consumers already hold its last value.  Eviction
    follows the watermark, which only advances after a micro-batch, so
    a single-batch replay of a whole history evicts nothing before it
    has emitted every day — that replay equals the batch query exactly
    (pytest-pinned on the sf0.001 history).

    Day keys are strings (yyyy-MM-dd): Arrow state serialization
    round-trips strings losslessly, and the batch query emits the same
    format — the join key for the replay-equality pin.
    """
    import datetime as dt

    from pyspark.sql.streaming.state import GroupStateTimeout

    # the watermarked ts rides through the projections: EventTimeTimeout
    # needs the watermark column at the stateful operator
    contrib = (
        events.withWatermark("ts", watermark)
        .select(F.to_date("ts").alias("_day"), "user_id", "ts")
        .select(
            "_day",
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(6))).alias("_k"),
            "ts",
        )
        .select(
            F.date_format(F.date_add("_day", F.col("_k")), "yyyy-MM-dd").alias(
                "day"
            ),
            "user_id",
            (F.col("_k") == 0).alias("is_dau"),
            "ts",
        )
    )

    def update(key, pdfs, state):
        import pandas as pd

        day = key[0]
        if state.hasTimedOut:
            # day_end + 7d passed the watermark: no future contribution
            # is possible — drop the id sets, emit nothing (the day's
            # last update-mode row is already final downstream).
            state.remove()
            return
        if state.exists:
            a, b = state.get
            dau, wau = set(int(x) for x in a), set(int(x) for x in b)
        else:
            dau, wau = set(), set()
        for pdf in pdfs:
            for uid, is_d in zip(pdf["user_id"], pdf["is_dau"]):
                u = int(uid)
                wau.add(u)
                if is_d:
                    dau.add(u)
        state.update((sorted(dau), sorted(wau)))
        day_close = dt.datetime.strptime(day, "%Y-%m-%d").replace(
            tzinfo=dt.timezone.utc
        ) + dt.timedelta(days=8)  # end of `day` (+1d) + 7d horizon
        # clamp above the current watermark: applyInPandasWithState
        # does NOT drop late rows for us, so an out-of-order replay
        # can deliver a contribution to a day whose close already
        # passed — Spark rejects a timeout behind the watermark, and
        # the right semantics is "evict at the next opportunity".
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
            max(int(day_close.timestamp() * 1000), wm + 1)
        )
        # Emit only days with dau > 0: a report day holding nothing but
        # trailing-window contributions never appears in the batch
        # events_dau_wau output, so emitting it would hand a dashboard
        # upsert extra zero-DAU rows the batch twin contradicts.  State
        # still records the wau contribution — the day starts emitting
        # the first micro-batch a same-day event lands.
        if not dau:
            return
        # Half-UP rounding to match the batch side's F.round (Spark
        # rounds half away from zero; Python round() is half-even, so
        # exact dyadic ties like 1/128 would diverge).
        from decimal import ROUND_HALF_UP, Decimal

        ratio = Decimal(len(dau)) / Decimal(len(wau))
        stick = float(ratio.quantize(Decimal("0.000001"), ROUND_HALF_UP))
        yield pd.DataFrame(
            {
                "day": [day],
                "dau": [len(dau)],
                "wau": [len(wau)],
                "stickiness": [stick],
            }
        )

    return contrib.groupBy("day").applyInPandasWithState(
        update,
        outputStructType=DAU_WAU_SCHEMA,
        stateStructType=DAU_WAU_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_hll_daily(events: DataFrame, watermark: str = "1 minute") -> DataFrame:
    """Streaming twin of the batch mergeable-sketch rollup
    (``events_hll_mergeable_daily``'s per-day half): per event day, a
    live Datasketches HLL distinct-user estimate via the BUILT-IN
    ``hll_sketch_agg`` running as a streaming aggregate — zero custom
    state code, Spark's agg state IS the sketch (update mode re-emits
    a day's estimate whenever it changes).

    Because HLL union is commutative/associative and the lgConfigK
    matches the batch query (12), an availableNow replay's final
    per-day estimates equal the batch rows EXACTLY — same registers,
    not merely same-accuracy (pytest-pinned).  This is the property
    that makes the sketch architecture incremental: the stream keeps
    daily sketches hot while the batch side unions stored sketch bytes
    for totals, and both read the same numbers."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.to_date("ts").alias("_day"))
        .agg(F.hll_sketch_agg("user_id", 12).alias("sk"))
        .select(
            F.date_format("_day", "yyyy-MM-dd").alias("day"),
            F.hll_sketch_estimate("sk").alias("distinct_est"),
        )
    )


HASH_PAIR_SCHEMA = "d1 bigint, d2 bigint, hamming int"
HASH_BUCKET_STATE_SCHEMA = "ids array<bigint>, hs array<bigint>"


def streaming_hash_dedup(
    hashes: DataFrame,
    id_col: str = "media_id",
    hash_col: str = "phash",
    max_hamming: int = 6,
    bits: int = 64,
    n_bands: int = 8,
) -> DataFrame:
    """Streaming near-dup detection over a fingerprint stream — the
    live twin of the batch banded join (``dedup.hash_dup_pairs``):
    each arriving (id, int64-hash) row band-explodes through the SAME
    ``dedup.band_explode`` arithmetic, and a stateful stage keyed on
    (band, bv) holds the bucket's seen (id, hash) list as state — the
    inverted index, kept hot as stream state.  A new arrival compares
    against its bucket (python ``int.bit_count`` on the xor) and emits
    a (d1, d2, hamming) row per within-radius match, the micro-batch
    it becomes knowable (append mode; a pair is final on emit).

    Pigeonhole recall carries over exactly: a pair within the radius
    shares >=1 band, and whichever side arrives later finds the
    earlier one in that band's state — an availableNow replay emits
    the batch pair set exactly (pytest-pinned, including a cross-batch
    pair resolved from carried state).  Pairs sharing several bands
    would surface in each shared bucket, so each match emits ONLY from
    the MINIMUM shared band (both parties hold both full hashes, so
    every bucket computes the same minimum independently — the classic
    LSH first-matching-band rule).  One stateful stage, exactly one
    row per pair; Spark permits only a single applyInPandasWithState
    per stream, so a downstream dedup stage isn't even an option.

    State sizing at scale: bucket state IS the band index, so total
    state ≈ n_bands × corpus rows of (int64, int64) — the same bytes
    the batch join shuffles, amortized across the stream's life; a
    flooded bucket (constant images) is the same skew the batch side
    caps with ``band_df_cap``, and the streaming analog is bounding
    the state list length (drop-new policy) when a corpus needs it."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from fiware_cosmos_orion_flink_connector_examples_spark.operators.dedup import (
        band_explode,
    )

    # same invariants the batch twin raises on (hash_dup_pairs):
    # without them a max_hamming >= n_bands call would silently lose
    # recall — a pair differing in every band shares no bucket — and
    # the documented replay ≡ batch contract would break with no error.
    # ValueError, not assert: `python -O` strips asserts and
    # re-enables the silent mode.
    if n_bands < max_hamming + 1:
        raise ValueError("pigeonhole needs >= max_hamming+1 bands")
    if bits // n_bands < 1:
        raise ValueError("band_bits must be >= 1")

    bands = band_explode(hashes, id_col, hash_col, bits, n_bands).select(
        F.col(id_col).alias("_id"), "_h", "band", "bv"
    )

    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1

    def update(key, pdfs, state):
        import pandas as pd

        my_band = int(key[0])
        if state.exists:
            ids, hs = state.get
            ids, hs = [int(x) for x in ids], [int(x) for x in hs]
        else:
            ids, hs = [], []
        seen = set(zip(ids, hs))
        d1s, d2s, hams = [], [], []
        for pdf in pdfs:
            pdf = pdf.sort_values("_id")
            for i, h in zip(pdf["_id"], pdf["_h"]):
                i, h = int(i), int(h)
                # idempotent under at-least-once delivery: an exact
                # (id, hash) re-arrival (source re-listed, item
                # re-crawled unchanged) must neither re-emit the
                # pairs already emitted for it nor duplicate bucket
                # state.  Same id with a
                # CHANGED hash is a new observation and still
                # compares/stores.
                if (i, h) in seen:
                    continue
                seen.add((i, h))
                for j, g in zip(ids, hs):
                    if i == j:
                        continue
                    x = (h ^ g) & ((1 << 64) - 1)
                    if x.bit_count() <= max_hamming:
                        # emit only from the MINIMUM shared band: every
                        # bucket holding this pair derives the same
                        # minimum from the two hashes alone
                        first = next(
                            k
                            for k in range(n_bands)
                            if (x >> (k * band_bits)) & mask == 0
                        )
                        if first == my_band:
                            a, b = (j, i) if j < i else (i, j)
                            d1s.append(a)
                            d2s.append(b)
                            hams.append(x.bit_count())
                ids.append(i)
                hs.append(h)
        state.update((ids, hs))
        if d1s:
            yield pd.DataFrame({"d1": d1s, "d2": d2s, "hamming": hams})

    pairs = bands.groupBy("band", "bv").applyInPandasWithState(
        update,
        outputStructType=HASH_PAIR_SCHEMA,
        stateStructType=HASH_BUCKET_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return pairs


def streaming_quality_gate(
    docs: DataFrame,
    weight_rows: list[tuple[str, int]],
    oov_q: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_score: float | None = None,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Online model-based quality filtering — the streaming twin of
    the batch naive-Bayes classifier (``quality_nb_classifier``): a
    trained weight table (``text.nb_quality_weight_map``'s quantized
    artifact) is embedded as a ``create_map`` literal and every
    arriving doc is labeled and scored in ONE projection — no join,
    no aggregation, no watermark, no state; append-mode-legal behind
    any sink.  This is the shape an ingest pipeline wants: the model
    is a broadcast-sized artifact refreshed out-of-band (retrain
    batch-side, restart the query), while the hot path stays
    whole-stage-codegen'd per-row arithmetic.

    Equality contract (pytest-pinned): the weights are quantized
    integer picounits produced by the SAME engine expressions as the
    batch scorer, and the per-doc fold sums those integers — an
    availableNow replay emits exactly ``nb_quality_scores``' rows
    (n_tokens, label, nb_score all bit-equal; per-doc sums are exact
    DECIMAL(38,0) either way, summation-order-free) **provided the
    trained vocabulary fit ``nb_quality_weight_map``'s vocab_max**:
    a truncated map folds tail tokens into the OOV weight while the
    batch scorer joins the full table, so scores for tail-bearing
    docs intentionally differ (the serving-size trade, stated in the
    weight-map docstring).  Empty/NULL-text docs drop at the
    boundary, matching the batch explode.

    ``min_score`` adds a ``pass_gate`` boolean (score ≥ threshold)
    without filtering — the caller routes rejects (the multimodal
    decode-rejects pattern)."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators.text import (
        nb_quality_label,
        tokens,
    )

    toks = tokens(text_col)
    if weight_rows:
        mapping = F.create_map(
            *[x for tok, wq in weight_rows for x in (F.lit(tok), F.lit(int(wq)))]
        )
        per_tok = lambda t: F.coalesce(  # noqa: E731
            F.element_at(mapping, t), F.lit(int(oov_q))
        )
    else:
        per_tok = lambda t: F.lit(int(oov_q))  # noqa: E731
    quant = F.transform(toks, per_tok)
    total = F.aggregate(
        quant,
        F.lit(0).cast("decimal(38,0)"),
        lambda a, x: a + x.cast("decimal(38,0)"),
    )
    extras = list(extra_cols or [])
    pre = docs.select(
        F.col(id_col),
        *extras,
        F.size(toks).cast("long").alias("n_tokens"),
        nb_quality_label(text_col).alias("label"),
        total.alias("_sq"),
    ).filter(F.col("n_tokens") > 0)
    out = pre.select(
        id_col,
        *extras,
        "n_tokens",
        "label",
        F.round(
            F.col("_sq").cast("double") / F.col("n_tokens") / F.lit(1e12), 6
        ).alias("nb_score"),
    )
    if min_score is not None:
        out = out.withColumn("pass_gate", F.col("nb_score") >= F.lit(min_score))
    return out


def streaming_curation_gate(
    docs: DataFrame,
    weight_rows: list[tuple[str, int]],
    oov_q: int,
    min_score: float = 0.0,
) -> DataFrame:
    """Live twin of ``corpus_curate_nb``'s first two stages: exact
    first-seen text dedup (stateful) chained into the
    stateless naive-Bayes quality gate — the shape of a streaming
    ingest front-end where only the draw (which needs corpus totals)
    stays batch.

    Stage 1 keys on ``md5(text)`` (128-bit — the same exact-content
    identity ``exact_dedup`` groups on, hashed so state never holds
    document bodies) and keeps ONE doc per text: within a micro-batch
    the min doc_id (the batch keep_id rule), across batches
    first-seen-wins.  Replay ≡ batch therefore holds when the replay
    arrives in doc_id order — the natural order of a history re-feed
    — and that chained replay equals the batch capstone's pre-draw
    survivor set row-for-row (pytest-pinned).  Stage 2 is
    ``streaming_quality_gate``'s literal-map projection (weights
    trained batch-side on the DEDUPED corpus, exactly as the capstone
    trains), filtering at ``min_score`` — stateless, so the single
    allowed applyInPandasWithState slot stays with the dedup.

    State at scale: one boolean per DISTINCT text ever seen (the
    md5 key is the state key); an at-least-once redelivery of an
    already-kept doc is dropped by the marker, keeping emission
    exactly-once per text.

    Returns (source, doc_id, lang, nb_score) — the capstone's surv
    frame."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = docs.filter(F.col("text").isNotNull()).select(
        F.md5(F.col("text")).alias("_k"), "doc_id", "source", "lang", "text"
    )

    def update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            return  # text already kept — every arrival is a duplicate
        best = None
        for pdf in pdfs:
            for did, src, lang, txt in zip(
                pdf["doc_id"], pdf["source"], pdf["lang"], pdf["text"]
            ):
                if best is None or int(did) < best[0]:
                    best = (int(did), src, lang, txt)
        if best is None:
            return
        state.update((True,))
        yield pd.DataFrame(
            {
                "doc_id": [best[0]],
                "source": [best[1]],
                "lang": [best[2]],
                "text": [best[3]],
            }
        )

    kept = keyed.groupBy("_k").applyInPandasWithState(
        update,
        outputStructType="doc_id long, source string, lang string, text string",
        stateStructType="kept boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    scored = streaming_quality_gate(
        kept,
        weight_rows,
        oov_q,
        min_score=min_score,
        extra_cols=["source", "lang"],
    )
    return scored.filter(F.col("pass_gate")).select(
        "source", "doc_id", "lang", "nb_score"
    )


def streaming_rule_gate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Online rule-based quality filtering — the streaming twin of the
    batch Gopher + C4 rule cards (``text_gopher_rules`` /
    ``text_c4_rules``): every arriving doc gets the full per-doc rule
    card in ONE stateless projection (the SAME
    ``text.with_gopher_rules`` / ``text.with_c4_rules`` layered
    builders the batch queries select, so replay ≡ batch is equality
    by construction, pytest-pinned).  No join, no aggregation, no
    watermark, no state — append-mode-legal behind any sink, and the
    cheapest possible ingest front-end: rule filtering happens at
    wire speed BEFORE anything stateful (dedup, model scoring) sees
    the doc.

    Emits the union of both cards' columns plus ``rules_pass`` =
    gopher_pass AND c4_keep — the caller routes rejects (the
    multimodal decode-rejects pattern) or filters.  ``rules_pass`` is
    derived from the ALIASED card booleans in a final select, never by
    re-inlining the card trees (interpreted-HOF duplication is real
    work per row)."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators.text import (
        C4_RULE_COLS,
        GOPHER_RULE_COLS,
        with_c4_rules,
        with_gopher_rules,
    )

    # narrow to exactly the needed input columns first: an upstream
    # enrichment that already added a card-named column (n_words,
    # n_lines, gopher_pass, ...) would otherwise make the final
    # by-name select AMBIGUOUS_REFERENCE at query start
    carded = with_c4_rules(
        with_gopher_rules(
            docs.filter(F.col(text_col).isNotNull()).select(
                id_col, *(extra_cols or []), text_col
            ),
            text_col,
        ),
        text_col,
    )
    return carded.select(
        F.col(id_col),
        *(extra_cols or []),
        *GOPHER_RULE_COLS,
        *C4_RULE_COLS,
        (F.col("gopher_pass") & F.col("c4_keep")).alias("rules_pass"),
    )


def streaming_decontaminate_gate(
    docs: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Online benchmark decontamination — the streaming twin of the
    release capstone's drop-contaminated-train stage
    (``corpus_release_pipeline`` / ``dedup.ngram_contamination``):
    every arriving doc emits with ``n_shared_grams`` = how many of its
    distinct whole-word ``n``-grams appear in the STATIC benchmark
    set (> 0 ⟹ contaminated; the caller routes or drops before
    anything downstream tokenizes it).

    Shape — deliberately STATELESS (the streaming_rule_gate
    discipline): the eval set is a batch frame (benchmarks are
    versioned artifacts, not streams) distilled once to ONE row
    holding its distinct-gram array; the stream side builds each
    doc's distinct gram array row-locally (``dedup.shingles`` — the
    same arithmetic the batch checker shingles with) and a broadcast
    1-row cross join + ``array_intersect`` scores every doc in pure
    per-row column work.  No aggregation, no watermark, no state —
    append-legal, and replay ≡ batch by construction (the
    ``filter(n_shared_grams > 0)`` projection equals
    ``ngram_contamination`` row-for-row, pytest-pinned).

    100 TB path: a benchmark too large for one in-memory array swaps
    this for ``dedup.bloom_probe_filter`` (stream-static broadcast
    word-table probes, already streaming-legal) + an idempotent
    keyed sink collapsing per-gram hit rows — same contract, bounded
    memory."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators.dedup import (
        shingle_rows,
        shingles,
    )

    # materialize the 1-row gram-set frame ONCE: the
    # static side of a stream-static join re-executes per micro-batch,
    # so without this every batch re-runs the full benchmark
    # distillation (shingle explode + distinct + collect_list).
    # localCheckpoint(eager) truncates the lineage to the materialized
    # partitions — each batch then just rereads one cached row.
    ev_set = (
        shingle_rows(eval_docs, id_col, text_col, n, distinct=False)
        .select("gram")
        .distinct()
        .agg(F.sort_array(F.collect_list("gram")).alias("_ev_grams"))
        .localCheckpoint(eager=True)
    )
    g = docs.filter(F.col(text_col).isNotNull()).select(
        id_col, shingles(text_col, n=n, distinct=True).alias("_grams")
    )
    return g.crossJoin(F.broadcast(ev_set)).select(
        id_col,
        F.size(F.array_intersect("_grams", "_ev_grams")).cast("long").alias(
            "n_shared_grams"
        ),
    )


def streaming_bm25_gate(
    docs: DataFrame,
    model: dict,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_score: float | None = None,
) -> DataFrame:
    """Online BM25 relevance scoring — arriving docs scored against a
    FROZEN index model (``text.bm25_query_model``: per-term df + the
    (N, Σdl) scalars, a handful of integers) for a fixed query set:
    the routing/alerting shape (\"does this doc match my standing
    queries, how well\").  Entirely ROW-LOCAL: per term, tf =
    occurrences in the doc's token array (``F.size(F.filter(...))``),
    dl = the array size, and the BM25 contribution is the SAME
    double-expression tree as ``_bm25_score_parts`` with df/N/Σdl
    bound as literals — quantized to picounit int64 per term, summed
    in fixed literal order.  No join, no state, no watermark;
    append-legal.  Scores therefore bit-equal the batch scorer run
    with the same frozen stats (pytest-pinned); docs matching no term
    score 0 (the batch join emits no row — filter score_q12 != 0 to
    compare).  Model refresh is out-of-band: rebuild/merge the index,
    re-distill, restart the query (the streaming_quality_gate
    discipline)."""
    from fiware_cosmos_orion_flink_connector_examples_spark.operators.text import (
        tokens,
    )

    k1, b = float(model["k1"]), float(model["b"])
    n_docs, sum_dl = int(model["n_docs"]), int(model["sum_dl"])
    toks = tokens(text_col)
    dl_d = F.size(toks).cast("long").cast("double")
    avgdl = (
        F.lit(sum_dl).cast("long").cast("double")
        / F.lit(n_docs).cast("long").cast("double")
    )
    denom_norm = F.lit(1.0 - b) + F.lit(b) * dl_d / avgdl
    cqs = []
    for term, df in model["terms"]:
        tf_d = (
            F.size(F.filter(toks, lambda x: x == F.lit(term)))
            .cast("long")
            .cast("double")
        )
        idf = F.log(
            F.lit(1.0)
            + (F.lit(n_docs).cast("long").cast("double") - F.lit(int(df)) + F.lit(0.5))
            / (F.lit(int(df)).cast("long").cast("double") + F.lit(0.5))
        )
        c = idf * tf_d * F.lit(k1 + 1.0) / (tf_d + F.lit(k1) * denom_norm)
        cqs.append(F.round(c * F.lit(1e12)).cast("long"))
    score_q12 = cqs[0] if cqs else F.lit(0).cast("long")
    for c in cqs[1:]:
        score_q12 = score_q12 + c
    out = docs.filter(F.col(text_col).isNotNull()).select(
        id_col,
        score_q12.alias("score_q12"),
        F.round(score_q12.cast("double") / F.lit(1e12), 6).alias("score"),
    )
    if min_score is not None:
        out = out.withColumn("pass_gate", F.col("score") >= F.lit(min_score))
    return out


def maintain_cms_rollup(
    table_path: str,
    depth: int = 4,
    width: int = 1024,
    text_col: str = "text",
):
    """Continuous count-min sketch maintenance — the frequency twin of
    ``maintain_hourly_rollup``: keep a (d, bucket, c) CMS counter
    snapshot table incrementally up to date from a document stream.
    Per micro-batch: partially count the batch's token buckets (the
    exact arithmetic of the batch ``heavy_hitters_cms`` sketch —
    ``hashing.cms_buckets``), add them cell-wise to the latest version
    (CMS cells are plain counters — the merge is lossless, so the
    maintained table always EQUALS the one-shot sketch over everything
    ingested, pytest-pinned), and commit the sum as the next version.
    The table is model-sized (4096 rows at the defaults) regardless of
    ingest volume; estimates are min-over-rows lookups against it,
    exactly as the batch query does.  Readers use
    ``layout.snapshot_read(spark, table_path)``.  Returns the function
    for ``foreachBatch``.

    EXACTLY-ONCE under retries: foreachBatch is at-least-once — a crash
    between a completed commit and the streaming checkpoint commit
    redelivers the SAME batch_id, which would double-count its tokens.
    Each commit carries the batch id as the ``cms-rollup`` txn
    watermark in the same atomic manifest rename as the counters, so a
    redelivered batch_id ≤ the watermark is skipped.  A crash before
    the rename leaves the previous version serving, and the retry adds
    the batch to that unchanged base.  Old versions stay on disk until
    ``layout.vacuum_snapshots``, like every snapshot table."""

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        from fiware_cosmos_orion_flink_connector_examples_spark.functions.hashing import (
            cms_buckets,
        )
        from fiware_cosmos_orion_flink_connector_examples_spark.operators.text import (
            tokens,
        )
        from fiware_cosmos_orion_flink_connector_examples_spark.sources import (
            layout,
        )

        spark = batch.sparkSession
        base = table_path.rstrip("/")
        part = (
            batch.filter(F.col(text_col).isNotNull())
            .select(F.explode(tokens(text_col)).alias("term"))
            .select(
                F.posexplode(
                    F.array(*cms_buckets(F.col("term"), depth, width))
                ).alias("d", "bucket")
            )
            .groupBy("d", "bucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )

        def attempt() -> None:
            cur = layout.snapshot_latest_version(spark, base)
            if layout._txn_applied(spark, base, "cms-rollup", batch_id, cur):
                return  # redelivered batch already folded into the table
            merged = part
            if cur > 0:
                merged = (
                    part.unionByName(layout.snapshot_read(spark, base, version=cur))
                    .groupBy("d", "bucket")
                    .agg(F.sum("c").alias("c"))
                )
            layout.snapshot_commit(
                spark,
                merged,
                base,
                mode="overwrite",
                _txn_update={"cms-rollup": batch_id},
            )

        layout.optimistic_commit(f"maintain_cms_rollup batch {batch_id}", attempt)

    return merge_batch


def watermark_drop_report(query) -> dict:
    """Operational late-data accounting for a running/finished
    streaming query: fold the per-batch state-operator counters out of
    ``recentProgress`` — rows DROPPED because they arrived behind the
    watermark (the silent-loss signal an ingest pipeline must alarm
    on), current state rows/bytes, and batch count.  Pure driver-side
    metadata; no extra Spark work.  Pair with an ``observe()`` counter
    on the input to get dropped/total rates."""
    totals = {
        "dropped_by_watermark": 0,
        "state_rows": 0,
        "state_bytes": 0,
        "batches": 0,
    }
    progresses = list(query.recentProgress)
    for p in progresses:
        totals["batches"] += 1
        for op in p.get("stateOperators", []) or []:
            totals["dropped_by_watermark"] += op.get("numRowsDroppedByWatermark", 0) or 0
    if progresses:
        # state size is a LEVEL, not a flow: the latest batch's value,
        # SUMMED across operators — a multi-operator query (dedup +
        # windowed agg, stream-stream join + agg) otherwise reports
        # only its last operator
        for op in progresses[-1].get("stateOperators", []) or []:
            totals["state_rows"] += op.get("numRowsTotal", 0) or 0
            totals["state_bytes"] += op.get("memoryUsedBytes", 0) or 0
    return totals


def maintain_search_index(
    index_path: str,
    txn_app: str = "search-index-stream",
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """EXACTLY-ONCE streaming maintenance of a VERSIONED combined
    search index (``text.search_index_write``): each micro-batch of
    (doc id, text) docs — optionally carrying a boolean ``_del``
    column for deletions — becomes ONE atomic multi-table index-root
    publish whose txn watermark is the batch id, so a replayed batch
    is a no-op, a crash mid-apply leaves the previous root serving
    (dangling sub-versions are merged over on retry), and a reader can
    never see the batch's postings without its doc lengths.  The
    streaming twin of ``search_index_sync`` with foreachBatch's
    batch_id standing in for the CDC source version.  Returns the
    function for ``writeStream.foreachBatch``."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
            text as _text,
        )

        if batch.isEmpty():
            return  # no root publish for an empty trigger
        dels = None
        docs = batch.select(id_col, text_col)
        if "_del" in batch.columns:
            flag = F.coalesce(F.col("_del"), F.lit(False))
            dels = batch.filter(flag).select(id_col)
            docs = batch.filter(~flag).select(id_col, text_col)
        _text.search_index_ingest(
            batch.sparkSession,
            docs,
            index_path,
            txn_app=txn_app,
            txn_id=batch_id,
            delete_ids=dels,
        )

    return apply_batch


def maintain_ann_index(
    index_path: str,
    txn_app: str = "ann-index-stream",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """EXACTLY-ONCE streaming maintenance of an IVF index
    (``similarity.ann_index_write``): each micro-batch of
    (vector id, embedding) rows — optionally carrying a boolean
    ``_del`` column for removals — becomes ONE atomic merge into the
    lists snapshot table plus a root publish whose txn watermark is
    the batch id, so a replayed batch is a no-op, a crash mid-apply
    leaves the previous root serving (the dangling lists sub-version
    is merged over on retry), and a searcher can never see a batch's
    vectors under centroids that didn't place them (adds assign to the
    FROZEN root centroids; retraining is ``ann_index_rebuild``,
    a separate atomic root flip).  The ANN twin of
    ``maintain_search_index`` — together they make every serving index
    (BM25/phrase/ANN) maintainable from a stream with the same
    exactly-once contract.  Returns the function for
    ``writeStream.foreachBatch``."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
            similarity as _sim,
        )

        if batch.isEmpty():
            return  # no root publish for an empty trigger
        dels = None
        vecs = batch.select(id_col, vec_col)
        if "_del" in batch.columns:
            flag = F.coalesce(F.col("_del"), F.lit(False))
            dels = batch.filter(flag).select(id_col)
            vecs = batch.filter(~flag).select(id_col, vec_col)
        _sim.ann_index_add(
            batch.sparkSession,
            vecs,
            index_path,
            txn_app=txn_app,
            txn_id=batch_id,
            delete_ids=dels,
        )

    return apply_batch


def maintain_agg_view(
    source_path: str,
    view_path: str,
    key_col: str,
    group_cols: list[str],
    sum_cols: list[str],
    txn_app: str = "agg-view",
):
    """EXACTLY-ONCE streaming pipeline sink: each micro-batch of keyed
    upserts (optional boolean ``_del`` column) MERGEs into the source
    snapshot table through ``layout.snapshot_merge_stream`` (source txn
    watermark = ``{txn_app}-src`` keyed by batch id, so a replayed
    batch is absorbed before it can double-apply, and a merge that
    loses its rename to a foreign commit re-reads and retries), then
    the incremental count/sum view follows the
    source's commit log (``ivm.agg_view_sync`` — its own watermark is
    the consumed source version, so the view leg is idempotent
    independently of the source leg; a crash between the two legs just
    re-runs the sync).  PAIRING CONTRACT: ``txn_app`` must be the SAME
    string the view was created with (``ivm.agg_view_create``'s
    ``txn_app``, default ``"agg-view"``).

    The lakehouse "always-fresh aggregate" twin of
    ``maintain_search_index`` / ``maintain_ann_index``.  Returns the
    function for ``writeStream.foreachBatch``."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
            ivm as _ivm,
        )
        from fiware_cosmos_orion_flink_connector_examples_spark.sources import (
            layout as _layout,
        )

        if batch.isEmpty():
            return
        _layout.snapshot_merge_stream(
            source_path,
            key_col,
            f"{txn_app}-src",
            delete_col="_del" if "_del" in batch.columns else None,
        )(batch, batch_id)
        _ivm.agg_view_sync(
            batch.sparkSession, source_path, view_path, group_cols, sum_cols,
            txn_app=txn_app,
        )

    return apply_batch


def maintain_join_view(
    a_path: str,
    b_path: str,
    view_path: str,
    key_col: str,
    join_col: str | list[str],
    group_cols: list[str],
    sum_cols: list[str],
    txn_app: str = "join-view",
    how: str = "inner",
    side: str = "a",
):
    """EXACTLY-ONCE streaming maintenance of an incremental JOIN view:
    each micro-batch of keyed upserts for ``side`` (optional boolean
    ``_del`` column) MERGEs into that side's snapshot table through
    ``layout.snapshot_merge_stream`` (source txn watermark =
    ``{txn_app}-src.{side}`` keyed by batch id, so a replayed batch is
    absorbed before it can double-apply), then ``ivm.join_view_sync``
    advances the view over BOTH tables' commit logs — so out-of-band
    commits to the OTHER side (a dimension-maintenance job, another
    stream's merges) flow into the same view on the next trigger
    without their own sink.  The sync's own watermarks are the
    consumed source versions, so the view leg is idempotent
    independently of the merge leg; a crash between the two just
    re-runs the sync.  PAIRING CONTRACT: ``txn_app``, ``how``, and the
    (a_path, b_path) ORDER must be the SAME values the view was
    created with (``ivm.join_view_create``).  Two streams feeding the
    two sides?  Run one ``maintain_join_view`` per side — same
    (a_path, b_path) order, one with ``side="a"`` and ``key_col`` of
    A, one with ``side="b"`` and ``key_col`` of B; each merges its own
    table and both call the same sync, which the view's optimistic
    ``expected_version`` retry serializes.  The join twin of
    ``maintain_agg_view``.  Returns the function for
    ``writeStream.foreachBatch``."""
    if side not in ("a", "b"):
        raise ValueError(f"maintain_join_view: side={side!r} (a|b)")
    merge_path = a_path if side == "a" else b_path

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
            ivm as _ivm,
        )
        from fiware_cosmos_orion_flink_connector_examples_spark.sources import (
            layout as _layout,
        )

        if batch.isEmpty():
            return
        _layout.snapshot_merge_stream(
            merge_path,
            key_col,
            f"{txn_app}-src.{side}",
            delete_col="_del" if "_del" in batch.columns else None,
        )(batch, batch_id)
        _ivm.join_view_sync(
            batch.sparkSession, a_path, b_path, view_path, join_col,
            group_cols, sum_cols, txn_app=txn_app, how=how,
        )

    return apply_batch


def maintain_pipeline_legs(catalog_path: str, legs: list[dict], source: str):
    """PIPELINE-ATOMIC streaming sink over a DECLARATIVE member set:
    each micro-batch of keyed upserts routes to the named ``source``
    leg and flows through ``operators.pipeline.pipeline_apply_legs`` —
    every source merge, view sync (including join views and views over
    views), and index sync publishes as ONE catalog root rename per
    batch, the batch id riding the root as its txn watermark.  This
    upgrades ``maintain_agg_view``'s per-leg exactly-once to
    WHOLE-PIPELINE atomicity: a reader resolving through the catalog
    can never see a batch's source rows without its view delta or its
    postings, a replayed batch id is absorbed at every leg AND at the
    root, and a crash mid-batch leaves the previous coherent root
    serving (the retry completes the same batch).  Create the catalog
    with ``pipeline.pipeline_create_legs`` first, with the same
    ``legs``.  Returns the function for ``writeStream.foreachBatch``."""

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        from fiware_cosmos_orion_flink_connector_examples_spark.operators import (
            pipeline as _pipeline,
        )

        if batch.isEmpty():
            return  # no root publish for an empty trigger
        _pipeline.pipeline_apply_legs(
            batch.sparkSession, catalog_path, legs, {source: batch}, batch_id
        )

    return apply_batch
