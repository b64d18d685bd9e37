"""Event-time windowing: tumbling / sliding / session windows.

Each transform is written once, as a *batch* DataFrame function (used
by the oracle-checked query registry — deterministic,
DuckDB-expressible).  Its *Structured Streaming* form is the same
function applied to one watermarked file source (:func:`_event_stream`)
— the premise that one query runs unchanged over a static or an
unbounded table — and is equivalence-tested against the batch form in
tests/test_streaming.py.  A streaming form keeps a body of its own only
where it needs an operator that exists only on streams:
``session_window``, ``dropDuplicatesWithinWatermark`` and
``applyInPandasWithState``.  The reference has no streaming at all
(its "streaming" is byte piping, wrds2pg/postgres/copy.py:152-153) —
this is north-star surface.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

import pandas as pd

from wrds2pg_spark.functions.numeric import dsum

__all__ = [
    "tumbling_counts", "sliding_counts", "sessionize", "dedup_first",
    "purchase_attribution",
    "streaming_tumbling_counts", "streaming_session_windows",
    "streaming_user_running_totals", "streaming_dedup",
    "streaming_purchase_attribution",
    "enrich_static", "streaming_enrich_static",
    "user_totals", "streaming_foreachbatch_upsert",
    "windowed_topk", "streaming_windowed_topk", "topk_from_serving",
    "jittered_arrival_batch", "late_filtered", "late_drop_counts",
    "streaming_late_drop_counts",
    "streaming_threshold_crossings",
    "streaming_rolling_beta",
]


def _event_stream(
    spark: SparkSession,
    path: str,
    schema,
    *,
    watermark: str | None = None,
    max_files: int | None = None,
) -> DataFrame:
    """The event feed as a stream: parquet file source, ``ts`` as a
    TIMESTAMP, optionally ``max_files`` files per micro-batch and a
    ``watermark`` delay on ``ts``."""
    reader = spark.readStream.schema(schema)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    # watermarks require session-tz TIMESTAMP (not NTZ); session tz
    # is pinned UTC so the cast preserves wall-clock values
    stream = reader.parquet(path).withColumn(
        "ts", F.col("ts").cast("timestamp"))
    if watermark is not None:
        stream = stream.withWatermark("ts", watermark)
    return stream


def _with_segment(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Events keyed by user_id pick up the customer's market segment
    through a broadcast hash probe of the customer dim."""
    seg = customer.select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment")
    )
    return events.join(F.broadcast(seg), "user_id")


def enrich_static(events: DataFrame, customer: DataFrame) -> DataFrame:
    """Batch twin of the stream-static enrichment join: events keyed
    by user_id pick up the customer's market segment (broadcast dim),
    then aggregate per (tumbling hour, segment).

    The dim side is explicitly broadcast — in the streaming form this
    is the canonical 'enrich a stream against a slowly-changing lookup
    table' topology, where each micro-batch hash-probes the broadcast
    map with no shuffle of the stream and no join state store at all
    (unlike stream-stream joins).  At 100 TB/day of events the only
    wide op is the windowed aggregate."""
    return (
        _with_segment(events, customer)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("c_mktsegment"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value"), 2).alias("sum_value"),
        )
    )


def streaming_enrich_static(
    spark: SparkSession,
    parquet_path: str,
    schema,
    customer: DataFrame,
    duration: str = "1 hour",
    watermark: str = "2 hours",
):
    """Structured Streaming form of :func:`enrich_static`: readStream
    -> broadcast hash probe against the static dim -> watermarked
    tumbling aggregate.  Stream-static joins are stateless (the static
    side re-broadcasts per micro-batch if it changes), so the state
    store holds only the open windows.  Its aggregate stays its own:
    the tumbling ``window()`` adds an ``isnotnull(ts)`` filter the
    batch ``date_trunc`` form (and its oracle) does not have."""
    ev = _event_stream(spark, parquet_path, schema, watermark=watermark)
    return (
        _with_segment(ev, customer)
        .groupBy(F.window("ts", duration), F.col("c_mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            "c_mktsegment", "n", "sum_value",
        )
    )


def purchase_attribution(
    events: DataFrame, window_minutes: int = 30
) -> DataFrame:
    """Batch purchase->click attribution: each purchase joined to the
    same user's clicks in the preceding ``window_minutes``.

    Both legs filter by event type BEFORE the join (clicks and
    purchases are small slices of the event stream), then equi-join on
    user_id with the time band as a join residual — one shuffle per
    leg, band checked post-match.  The streaming twin
    (:func:`streaming_purchase_attribution`) is this function over a
    watermarked stream: a stream-stream join."""
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    bound = F.expr(f"purchase_ts - INTERVAL {window_minutes} MINUTES")
    return (
        p.join(
            c,
            (p.user_id == c.c_user_id)
            & (c.click_ts <= p.purchase_ts)
            & (c.click_ts >= bound),
        )
        .select("user_id", "purchase_id", "purchase_ts",
                "click_id", "click_ts")
    )


def streaming_purchase_attribution(
    spark: SparkSession,
    parquet_path: str,
    schema,
    window_minutes: int = 30,
    watermark: str = "2 hours",
):
    """Stream-stream inner join with event-time bounds — the
    Structured Streaming feature none of the windowed aggregates
    exercise: :func:`purchase_attribution` over one watermarked source.
    Both legs carry its watermark and the join condition bounds
    click_ts to a closed interval around purchase_ts, which is exactly
    what lets the state store evict buffered rows once the watermark
    passes the bound (unbounded stream-stream joins cannot GC state).
    Append output; equivalence vs the batch twin is asserted in
    tests/test_streaming.py."""
    pairs = purchase_attribution(
        _event_stream(spark, parquet_path, schema, watermark=watermark),
        window_minutes,
    )
    return pairs.select(
        "user_id", "purchase_id",
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "click_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
    )


def tumbling_counts(events: DataFrame, duration: str = "1 hour") -> DataFrame:
    """Tumbling event-time windows via the native window() operator —
    partial aggregation + one shuffle on (window, event_type)."""
    return (
        events.groupBy(
            F.window("ts", duration).alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type", "n", "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame, duration: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Sliding windows: each event lands in duration/slide windows."""
    return (
        events.groupBy(F.window("ts", duration, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "n", "sum_value",
        )
    )


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Batch sessionization: a session breaks when the gap to the
    previous event of the same user exceeds ``gap_seconds``.  One
    shuffle on user_id; the cumulative-flag-sum trick assigns session
    ids without iteration."""
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ can't cast straight to BIGINT; route through session-tz
    # timestamp (pinned UTC) -> floor-seconds, matching the oracle's
    # CAST(floor(epoch(ts)) AS BIGINT)
    epoch = F.col("ts").cast("timestamp").cast("long")
    prev = F.lag(epoch).over(w)
    # two steps: the gap flag uses lag(), the session id a cumulative
    # sum — Spark (like SQL) forbids nesting one window fn in another.
    # Both windows share the same partitioning, so this is still ONE
    # shuffle on user_id.
    flagged = events.select(
        "user_id", "event_id", "ts", "value",
        F.when(prev.isNull() | ((epoch - prev) > gap_seconds), 1)
        .otherwise(0).alias("new_session"),
    )
    with_ids = flagged.select(
        "user_id", "event_id", "ts", "value",
        F.sum("new_session").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("session_id"),
    )
    return (
        with_ids.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 2).alias("sum_value"),
        )
    )


def dedup_first(
    events: DataFrame, keys: tuple[str, ...] = ("user_id", "event_type")
) -> DataFrame:
    """Batch twin of streaming dedup: keep the FIRST event per key in
    event-time order (deterministic (ts, event_id) tiebreak) — the
    classic at-most-once-per-key reduction of an event feed.  One
    shuffle on the key; the ranking window prunes everything else."""
    w = W.partitionBy(*keys).orderBy("ts", "event_id")
    return (
        events.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


def streaming_dedup(
    spark: SparkSession,
    parquet_path: str,
    schema,
    watermark: str = "2 hours",
):
    """Streaming dedup via ``dropDuplicatesWithinWatermark``: one state
    entry per (user_id, event_type) that the watermark evicts once no
    earlier duplicate can arrive — bounded state, unlike a plain
    ``dropDuplicates`` whose key store grows forever.  Keeps the first
    ARRIVAL per key (arrival order, not event-time order — the batch
    twin ``dedup_first`` resolves ties by event time instead), so
    equivalence tests compare the surviving KEY SET, not row
    identity."""
    stream = _event_stream(spark, parquet_path, schema, watermark=watermark)
    return stream.dropDuplicatesWithinWatermark(["user_id", "event_type"])


def streaming_tumbling_counts(
    spark: SparkSession,
    parquet_path: str,
    schema,
    duration: str = "1 hour",
    watermark: str = "2 hours",
):
    """Structured Streaming twin of tumbling_counts: file source ->
    watermark (bounds state for late data) -> windowed agg.  Returns
    the streaming DataFrame; callers start it with
    foreachBatch/memory sink (see tests/test_streaming.py)."""
    return tumbling_counts(
        _event_stream(spark, parquet_path, schema, watermark=watermark),
        duration,
    )


def streaming_session_windows(
    spark: SparkSession,
    parquet_path: str,
    schema,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
):
    """Native session windows over a stream: ``F.session_window``
    merges events into dynamic per-key windows that close when the
    event-time gap exceeds ``gap``; the watermark lets the state store
    evict closed sessions.  This is the Structured-Streaming twin of
    the batch ``sessionize`` (same gap semantics, engine-managed
    state instead of the lag/cumsum trick)."""
    stream = _event_stream(spark, parquet_path, schema, watermark=watermark)
    return (
        stream.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "n_events", "sum_value",
        )
    )


def streaming_user_running_totals(
    spark: SparkSession,
    parquet_path: str,
    schema,
    timeout_minutes: int | None = None,
):
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-user running (event count, value total) that survives across
    micro-batches — the shape Spark's built-in windowed aggregates
    can't express (unbounded per-key running state emitted every
    batch).

    State: one (count, total) pair per user_id.  Each batch emits the
    user's updated totals.  ``timeout_minutes`` turns on
    processing-time eviction of idle keys (bounded state at 100 TB key
    cardinality) — note the engine then schedules timeout-handling
    micro-batches indefinitely, so leave it off for drain-and-stop
    (``processAllAvailable``) usage like the tests."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    timeout_ms = timeout_minutes and timeout_minutes * 60 * 1000

    def update(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return
        count, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            count += len(pdf)
            total += float(pdf["value"].sum())
        state.update((count, total))
        if timeout_ms:
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [count],
             "total_value": [round(total, 2)]}
        )

    stream = _event_stream(spark, parquet_path, schema)
    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, total_value double",
        stateStructType="count bigint, total double",
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if timeout_ms else GroupStateTimeout.NoTimeout
        ),
    )


def user_totals(events: DataFrame) -> DataFrame:
    """Batch twin of the foreachBatch upsert sink's end state: per-user
    lifetime totals.  One map-side-combined aggregate."""
    return events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), 2).alias("sum_value"),
    )


def _keyed_swap(
    table_path: str, merge: Callable[[DataFrame, DataFrame], DataFrame]
) -> Callable[[DataFrame, int], None]:
    """``foreachBatch`` body of a keyed upsert into the parquet table at
    ``table_path``: ``merge(batch_df, old)`` folds the micro-batch into
    the current table (the batch is written as-is while there is none),
    the result is staged, then swapped in by two renames."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        stage = table_path + "__stage"
        old_aside = table_path + "__old"
        # Heal leftovers from a crash mid-swap: a stranded __old means
        # the serving rename never completed — restore it; a stranded
        # __stage is a dead write — drop it before re-staging.
        if os.path.exists(old_aside) and not os.path.exists(table_path):
            os.rename(old_aside, table_path)
        for leftover in (stage, old_aside):
            if os.path.exists(leftover):
                shutil.rmtree(leftover)
        if os.path.exists(os.path.join(table_path, "_SUCCESS")):
            merged = merge(
                batch_df, batch_df.sparkSession.read.parquet(table_path))
        else:
            merged = batch_df
        merged.write.mode("overwrite").parquet(stage)
        # Two renames instead of rmtree-then-rename: the serving path
        # is missing only between the two renames (both metadata-only
        # ops), never across a full directory delete; a crash in the
        # window is healed by the __old restore above on next batch.
        if os.path.exists(table_path):
            os.rename(table_path, old_aside)
        os.rename(stage, table_path)
        shutil.rmtree(old_aside, ignore_errors=True)

    return upsert


def streaming_foreachbatch_upsert(
    spark: SparkSession,
    parquet_path: str,
    schema,
    table_path: str,
    max_files_per_trigger: int = 1,
):
    """Streaming MERGE sink: update-mode per-user totals land in a
    parquet table via ``foreachBatch`` keyed upsert — the canonical
    pattern for maintaining a serving table from a stream when the
    sink has no native idempotent-upsert support.

    Each micro-batch delivers the NEW cumulative value for every key
    the batch touched (update output mode), so the upsert is
    new-wins-per-key: full-outer join against the current table,
    coalesce toward the batch side, write to a staging directory, and
    swap.  The swap is driver-side and atomic enough for a local demo;
    on a real deployment the same ``foreachBatch`` body targets an
    ACID table format (Delta/Iceberg MERGE) or a keyed store, and
    nothing upstream changes.  State note: an unwindowed keyed agg
    keeps one state row per user forever — bound it in production
    with windowing + watermark or state TTL.
    """
    agg = user_totals(_event_stream(
        spark, parquet_path, schema, max_files=max_files_per_trigger))

    def merge(batch_df: DataFrame, old: DataFrame) -> DataFrame:
        old = old.select(
            F.col("user_id"),
            F.col("n_events").alias("__old_n"),
            F.col("sum_value").alias("__old_s"),
        )
        return (
            batch_df.join(old, "user_id", "full_outer")
            .select(
                "user_id",
                F.coalesce("n_events", "__old_n").alias("n_events"),
                F.coalesce("sum_value", "__old_s").alias("sum_value"),
            )
        )

    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(_keyed_swap(table_path, merge))
    )


def _top_k(counts: DataFrame, k: int) -> DataFrame:
    """The ``k`` highest (n, sum_value) event types per window_start
    of a window-counts frame; rank ties break on event_type so the
    result is deterministic."""
    w = W.partitionBy("window_start").orderBy(
        F.desc("n"), F.desc("sum_value"), "event_type")
    return (
        counts.select(
            "window_start", "event_type", "n", "sum_value",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= k)
    )


def windowed_topk(
    events: DataFrame, duration: str = "1 hour", k: int = 3
) -> DataFrame:
    """Top-k event types per tumbling window — the leaderboard shape
    (batch twin of :func:`streaming_windowed_topk`).  One shuffle for
    the window counts, one for the per-window rank."""
    return _top_k(tumbling_counts(events, duration), k)


def streaming_windowed_topk(
    spark: SparkSession,
    parquet_path: str,
    schema,
    table_path: str,
    duration: str = "1 hour",
    watermark: str = "2 hours",
    max_files_per_trigger: int = 1,
):
    """Streaming leaderboard: windowed counts maintained in update
    mode through the same keyed foreachBatch upsert as
    :func:`streaming_foreachbatch_upsert` (key = window_start +
    event_type), with the top-k RANK applied at serving-read time
    (:func:`topk_from_serving`).  Ranking cannot run inside the
    stream: a window's ordering is only final once the watermark
    closes it, and update mode re-emits growing counts per key — so
    the stream maintains the monotone state and the cheap rank runs
    on read, the standard serving split for streaming top-k."""
    stream = _event_stream(
        spark, parquet_path, schema,
        watermark=watermark, max_files=max_files_per_trigger,
    )
    agg = tumbling_counts(stream, duration)

    def merge(batch_df: DataFrame, old: DataFrame) -> DataFrame:
        # new-wins-per-key: update mode re-emits the full cumulative
        # row for every touched key, so max(n) picks the newest
        return (
            batch_df.unionByName(old)
            .groupBy("window_start", "event_type")
            .agg(F.max(F.struct("n", "sum_value")).alias("s"))
            .select(
                "window_start", "event_type",
                F.col("s.n").alias("n"),
                F.col("s.sum_value").alias("sum_value"),
            )
        )

    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(_keyed_swap(table_path, merge))
    )


def topk_from_serving(
    spark: SparkSession, table_path: str, k: int = 3
) -> DataFrame:
    """Serving-read rank over the streaming-maintained window counts:
    the cheap half of the streaming top-k split (see
    :func:`streaming_windowed_topk`)."""
    return _top_k(spark.read.parquet(table_path), k)


def jittered_arrival_batch(delay_spread_minutes: int = 240) -> "F.Column":
    """Simulated out-of-order arrival for an event-time-sorted fixture:
    each event's ARRIVAL time is its event time plus a deterministic
    per-event delay (md5 first hex nibble -> 0..15 x spread/16, the
    repo's portable-hash idiom), and the stream triggers hourly — the
    micro-batch id is the arrival hour.  Entirely row-local, engine-
    portable (md5/instr/floor exist on both sides), and it creates
    genuinely late rows: the spread must exceed window + delay + one
    trigger of late-watermark lag (here up to 225 min vs 60 + 10 +
    60) or nothing can ever drop — an event is discarded only when
    its whole WINDOW is behind the lagged late-event watermark, not
    merely delay behind the newest event."""
    idx = F.instr(
        F.lit("0123456789abcdef"),
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 1),
    ) - 1
    step = delay_spread_minutes * 60 // 16
    # unix_seconds over a plain cast, NOT unix_timestamp: on a
    # timestamp_ntz column unix_timestamp lowers to a per-row
    # FORMATTER conversion (measured ~7 s over 1M rows at sf1 with
    # this expression evaluated on both the tag and filter paths);
    # the cast is a zero-cost reinterpret under the UTC session tz.
    secs = F.unix_seconds(F.col("ts").cast("timestamp"))
    return F.floor((secs + idx * step) / F.lit(3600)).alias("__bid")


def late_filtered(
    events: DataFrame,
    delay_minutes: int = 10,
    batch_col: "F.Column | None" = None,
    window_minutes: int = 60,
) -> DataFrame:
    """Micro-batch-granular watermark drop, batch form: assign every
    event to a micro-batch (``batch_col``; defaults to the simulated
    jittered hourly arrival) and drop an event exactly when the
    engine would: when the END of its tumbling window is at-or-behind
    the LATE-EVENT watermark of its batch (a late row whose window is
    still open by that watermark is accepted and aggregated).

    Spark keeps TWO watermark values per batch (its deterministic-
    replay design, observed empirically on 4.1 and modeled here):
    state EVICTION in batch k uses max event time over batches
    <= k-1, but LATE-ROW FILTERING in batch k uses the watermark as
    of the START of batch k-1 — i.e. max event time over batches
    <= k-2, one full trigger of extra lag.  The filter predicate is
    therefore max(ts | batch <= k-2) - delay, expressed as a RANGE
    frame (2 PRECEDING on the numeric batch id) so trigger gaps —
    hours with no arrivals, where the real watermark does not move —
    lag correctly too.

    Scale shape: the batch id is row-local, the per-batch max is a
    map-side-combined agg keyed by batch id, the running max is a
    window over the BATCH TABLE (metadata-sized: one row per
    micro-batch, not per event), and the per-batch watermark
    broadcasts back onto the event scan — the events themselves are
    never globally sorted or shuffled."""
    step = window_minutes * 60
    b = events.withColumn(
        "__bid",
        batch_col if batch_col is not None else jittered_arrival_batch(),
    )
    bmax = b.groupBy("__bid").agg(F.max("ts").alias("__mx"))
    w = W.orderBy("__bid").rangeBetween(W.unboundedPreceding, -2)
    wm = bmax.select(
        "__bid",
        (F.max("__mx").over(w)
         - F.expr(f"INTERVAL {delay_minutes} MINUTES")).alias("__wmk"),
    )
    win_end = F.timestamp_seconds(
        (F.floor(F.unix_seconds(F.col("ts").cast("timestamp")) / step) + 1)
        * step
    ).cast(dict(events.dtypes)["ts"])
    return (
        b.join(F.broadcast(wm), "__bid")
        .filter(F.col("__wmk").isNull() | (win_end > F.col("__wmk")))
        .drop("__bid", "__wmk")
    )


def late_drop_counts(
    events: DataFrame,
    delay_minutes: int = 10,
    batch_col: "F.Column | None" = None,
    duration: str = "1 hour",
) -> DataFrame:
    """Watermarked tumbling counts, batch twin: drop late arrivals at
    micro-batch granularity (:func:`late_filtered`), then the same
    tumbling aggregate as :func:`tumbling_counts`."""
    return tumbling_counts(
        late_filtered(events, delay_minutes, batch_col), duration
    )


def streaming_late_drop_counts(
    spark: SparkSession,
    parquet_path: str,
    schema,
    delay: str = "10 minutes",
    duration: str = "1 hour",
):
    """Real watermarked stream in APPEND mode: a window is emitted
    exactly once — when the watermark passes its end — and input rows
    behind the watermark are dropped, never updating a closed window.
    One file per micro-batch (maxFilesPerTrigger=1) so arrival order
    is the file order, making the engine's between-batch watermark
    advance reproducible; the batch twin with matching chunking is
    :func:`late_drop_counts` (equivalence-tested in
    tests/test_streaming.py)."""
    return tumbling_counts(
        _event_stream(
            spark, parquet_path, schema, watermark=delay, max_files=1),
        duration,
    )


def streaming_threshold_crossings(
    spark: SparkSession,
    parquet_path: str,
    schema,
    threshold: float = 8.0,
):
    """Stateful upward threshold-crossing detection on a live stream —
    the real-time form of queries.events_threshold_crossings (whose
    docstring promises exactly this operator): per user, fire ONCE
    when the metric first exceeds ``threshold``, carrying the last
    seen value across micro-batches in ``applyInPandasWithState``.

    State per user: (last value, seen-anything flag) — 9 bytes, so
    state size is O(active users), not O(events); add a
    processing-time timeout for eviction at unbounded key cardinality
    (same knob as streaming_user_running_totals).  Rows inside one
    batch sort by (ts, event_id) before the scan; cross-batch order
    is arrival order (one file per trigger in the tests), matching
    the batch twin's lag-window semantics when files are time-split.
    Crossing detection itself is vectorized numpy over the sorted
    batch — the Python boundary does a shift-and-compare, not a row
    loop."""
    import numpy as np

    def update(key, pdf_iter, state):
        if state.hasTimedOut:
            state.remove()
            return
        last, seen = state.get if state.exists else (0.0, False)
        frames = []
        for pdf in pdf_iter:
            if len(pdf):
                frames.append(pdf)
        if not frames:
            state.update((last, seen))
            return
        batch = pd.concat(frames).sort_values(["ts", "event_id"])
        v = batch["value"].to_numpy(dtype="float64")
        prev = np.concatenate([[last if seen else np.nan], v[:-1]])
        fire = (v >= threshold) & (prev < threshold)
        state.update((float(v[-1]), True))
        hit = batch[fire]
        if len(hit):
            yield pd.DataFrame({
                "user_id": hit["user_id"].astype("int64"),
                "event_id": hit["event_id"].astype("int64"),
                "ts": hit["ts"],
                "value": hit["value"].astype("float64"),
                "prev_value": prev[fire],
            })

    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = _event_stream(spark, parquet_path, schema, max_files=1)
    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id bigint, event_id bigint, ts timestamp, "
            "value double, prev_value double"
        ),
        stateStructType="last double, seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_rolling_beta(
    spark: SparkSession,
    parquet_path: str,
    schema,
    window: int = 20,
):
    """Stateful rolling regression slope on a live stream — the
    real-time form of finance.stats_rolling_beta: per event_type,
    emit the trailing-``window`` OLS slope of value against the
    within-series row index for every full window, carrying (row
    counter, last window-1 scaled values) across micro-batches in
    ``applyInPandasWithState``.

    State per series: one BIGINT counter + (window-1) scaled-long
    observations — O(series x window), never O(events).  The slope
    arithmetic is the batch twin's exact integer tree transposed to
    numpy int64: x is the global row index rn, so the frame's
    Σx/Σx² collapse to closed forms in rn (20rn-190 and
    20rn²-380rn+2470 for window=20), Σy/Σ(d·y) come from one
    sliding-window matrix product over [carried state ++ batch], and
    beta = (kΣxy - ΣxΣy)/(kΣx² - (Σx)²) rounds at 6 dp exactly like
    the batch key.  Rows inside a batch sort by (ts, event_id);
    cross-batch order is arrival order — time-split files (one per
    trigger) make that equal to the batch window's global ordering,
    the same premise as streaming_threshold_crossings."""
    import numpy as np

    k = int(window)
    offs = np.arange(k, dtype="int64")

    def update(key, pdf_iter, state):
        rn0, hist = state.get if state.exists else (0, [])
        frames = [pdf for pdf in pdf_iter if len(pdf)]
        if not frames:
            state.update((rn0, list(hist)))
            return
        batch = pd.concat(frames).sort_values(["ts", "event_id"])
        # same HALF_UP-on-shortest-repr kernel as the beta rounding
        # below: the batch twin scales with Spark round(value*100, 0)
        # = BigDecimal.valueOf(v*100).setScale(0, HALF_UP); np.rint
        # is half-even on the binary value and flips the tie cases
        # (value*100 landing exactly on .5, e.g. 0.125) — ADVICE r6.
        from decimal import ROUND_HALF_UP as _HU, Decimal as _D

        yv = np.fromiter(
            (int(_D(repr(float(v))).quantize(_D("1"), _HU))
             for v in batch["value"].to_numpy(dtype="float64") * 100),
            dtype="int64",
        )
        n = len(yv)
        full = np.concatenate(
            [np.asarray(hist, dtype="int64"), yv])
        rns = rn0 + np.arange(1, n + 1, dtype="int64")
        # len(full)-(k-1) start (not -(k-1):) so window=1 carries an
        # EMPTY history instead of the whole array (a -0 slice)
        state.update((int(rns[-1]),
                      [int(v) for v in full[len(full) - (k - 1):]]))
        # windows ending at each NEW row with a full k-frame
        emit = rns >= k
        if not emit.any():
            return
        # sliding k-windows over [hist ++ batch]: row i of M is the
        # frame ending at batch row (i + k-1 - len(hist))
        M = np.lib.stride_tricks.sliding_window_view(full, k)
        sel = M[len(hist) + np.flatnonzero(emit) - (k - 1)]
        rn = rns[emit]
        sy = sel.sum(axis=1)
        d_dot = sel @ offs
        sxy = (rn - (k - 1)) * sy + d_dot
        sx = k * rn - (k * (k - 1)) // 2
        sxx = (k * rn * rn - k * (k - 1) * rn
               + ((k - 1) * k * (2 * k - 1)) // 6)
        num = (k * sxy - sx * sy).astype("float64")
        den = (k * sxx - sx * sx).astype("float64")
        # Spark's round(double, 6) is HALF_UP on the double's SHORTEST
        # decimal repr (BigDecimal.valueOf); np.round is half-even on
        # the binary value — they diverge on reachable quotients
        # (e.g. 0.0221025 -> 0.022103 vs 0.022102), which would break
        # the exact streaming==batch equivalence.  Python repr(float)
        # is the same shortest repr, so Decimal(repr).quantize(HALF_UP)
        # reproduces Spark bit-for-bit; the per-row loop is fine at
        # the Python batch boundary we already pay here.
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("0.000001")
        beta = np.fromiter(
            (float(Decimal(repr(float(v))).quantize(q, ROUND_HALF_UP))
             for v in num / den),
            dtype="float64",
        )
        hit = batch[emit]
        yield pd.DataFrame({
            "event_type": np.repeat(key[0], len(rn)),
            "event_id": hit["event_id"].astype("int64"),
            "beta": beta,
        })

    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = _event_stream(spark, parquet_path, schema, max_files=1)
    return stream.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, event_id bigint, beta double",
        stateStructType="rn bigint, hist array<bigint>",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
