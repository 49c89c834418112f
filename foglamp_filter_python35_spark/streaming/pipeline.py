"""S1/S2/S3 + T10: the reference's micro-batch dataflow on Structured
Streaming.

Reference model (``plugin.cpp:226-352``): upstream pushes a ReadingSet into
``plugin_ingest``; the filter transforms it (or passes it through on any
error); the result is pushed to the next stage via the OUTPUT_STREAM
function pointer (``plugin.cpp:108-121``).  Buffering for aggregation
across batches is explicitly allowed (``plugin.cpp:113-116``).

Spark mapping:

* S1 ingest  -> ``spark.readStream`` (file/rate/kafka source); each
  micro-batch is the ReadingSet analog.
* S2 output  -> ``writeStream.foreachBatch(sink)``; intra-query chaining
  is DataFrame composition (``registry.apply_pipeline``).
* S3 degraded behavior -> the foreachBatch wrapper catches any failure
  to build the stages, and any error raised while the sink's job runs
  them, logs it and forwards the INPUT batch to the sink unmodified —
  at-least-the-input delivery, never loss by crash
  (``plugin.cpp:268-282``, ``:295-310``, ``:338-342``).  A T9 error
  never reaches it: T9 falls back per Arrow batch in its worker.  Each
  trigger runs one Spark job (the sink's); the ``SinkFn`` requirement
  below keeps the retry with the input exactly-once.
* C3 reconfigure -> stop + rebuild + restart from checkpoint (exactly-once
  resumption replaces the reference's config mutex,
  ``python35_filter.cpp:310-436``).
* T10 buffering -> watermarked windowed aggregation (event time =
  ``user_ts``, the reference's dual-timestamp split,
  ``python35_filter.cpp:94-103``) or arbitrary cross-batch state via
  ``applyInPandasWithState``.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState
from pyspark.sql.streaming.query import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from foglamp_filter_python35_spark.registry import Stage, apply_pipeline

SinkFn = Callable[[DataFrame, int], None]
"""A micro-batch sink: ``sink(batch_df, epoch_id)``.

Requirement: **a sink call that raises must leave no rows behind.**  The
S3 fallback calls the sink again with the input batch after a failed
call, so a sink that kept part of the failed write would deliver those
rows twice.  Spark's file sinks meet it (a failed write job aborts and
commits no files), and so does ``snapshot_table.snapshot_sink`` (its
manifest, which alone makes files visible, is published last)."""

_log = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# S6 — asset tracking (lineage).  The reference records a (config, asset,
# "Filter") tuple for every reading entering and leaving each filter
# (plugin.cpp:245-253, :325-333).  Spark analog: observe() metrics on the
# in/out DataFrames — collected per micro-batch with no extra job — plus a
# driver-side tracker fed from foreachBatch.
# ---------------------------------------------------------------------------


class AssetTracker:
    """Collects per-stage, per-direction (in/out) asset counts.

    DEBUG PATH, opt-in only: ``record`` runs a per-batch aggregate and
    collects one row per distinct asset to the driver — bounded by asset
    cardinality, but still a driver materialization every micro-batch.
    The default lineage path is ``observe_readings`` (zero extra job,
    metrics ride the micro-batch progress events); pass an AssetTracker
    to ``run_micro_batch_pipeline(tracker=...)`` only when per-asset
    in/out counts are needed for debugging."""

    def __init__(self) -> None:
        self.tuples: list[tuple[str, str, str, int]] = []

    def record(self, stage: str, direction: str, df: DataFrame) -> None:
        for row in df.groupBy("asset_code").count().collect():
            self.tuples.append(
                (stage, row["asset_code"], direction, row["count"])
            )

    def assets_seen(self, stage: str | None = None) -> set[str]:
        return {
            a
            for (s, a, _d, _n) in self.tuples
            if stage is None or s == stage
        }


def observe_readings(df: DataFrame, observation) -> DataFrame:
    """Attach zero-cost lineage metrics (row count + distinct assets) to a
    readings plan.

    ``observation`` is either a string name (streaming: read the metrics
    from ``StreamingQueryProgress.observedMetrics[name]``) or a
    ``pyspark.sql.Observation`` (batch: read ``observation.get`` after
    the first action)."""
    return df.observe(
        observation,
        F.count(F.lit(1)).alias("n_readings"),
        F.approx_count_distinct("asset_code").alias("n_assets"),
    )


def run_micro_batch_pipeline(
    stream: DataFrame,
    stages: list[Stage],
    sink: SinkFn,
    checkpoint_dir: str,
    query_name: str = "readings-pipeline",
    trigger: dict[str, Any] | None = None,
    lineage: str | None = "lineage",
    tracker: AssetTracker | None = None,
) -> StreamingQuery:
    """Wire source -> filter chain -> sink with the reference's degraded
    behavior: a failing transform forwards the input batch unchanged.

    Lineage (S6): by default the input stream carries an ``observe``
    named ``lineage`` — per-batch row/asset counts ride
    ``StreamingQueryProgress.observedMetrics[lineage]`` at zero extra
    cost (no job, no collect).  Pass ``lineage=None`` to disable, or a
    ``tracker`` to ALSO record per-asset in/out counts via the
    collect-based debug path (see ``AssetTracker``)."""
    if lineage:
        stream = observe_readings(stream, lineage)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        from foglamp_filter_python35_spark.operators.python_filter import (  # noqa: PLC0415
            FilterSetupError,
        )

        if tracker is not None:
            tracker.record(query_name, "in", batch_df)
        try:
            # one Spark job per trigger, the sink's: an error a stage
            # raises while that job runs lands below like a build error
            # (T9's own errors never do — it falls back per Arrow batch
            # in its worker), and the SinkFn requirement keeps the retry
            # with the input exactly-once
            sink(apply_pipeline(batch_df, stages), epoch_id)
        except FilterSetupError:
            # misconfigured stage: fail the QUERY (plugin_init
            # returning NULL) — falling back here would silently
            # forward unfiltered data every micro-batch
            raise
        except Exception as exc:
            # S3: error => pass the input through (plugin.cpp:295-310),
            # logged as the reference logs the Python error
            # (python35_filter.cpp:263-301)
            _log.warning(
                "%s: epoch %d forwards its input batch after %s: %s",
                query_name,
                epoch_id,
                type(exc).__name__,
                exc,
            )
            sink(batch_df, epoch_id)

    writer = (
        stream.writeStream.foreachBatch(process)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    return writer.start()


# ---------------------------------------------------------------------------
# T10a — buffer-for-aggregation as watermarked windows
# ---------------------------------------------------------------------------


def windowed_rollup(
    readings: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
    time_col: str = "user_ts",
) -> DataFrame:
    """Event-time windowed aggregate over a readings(-like) stream.

    The watermark bounds state: late data beyond ``watermark`` is dropped,
    which is the engine's explicit late-data policy (the reference has
    none — upstream FogLAMP buffers; SURVEY.md §2.4).  Works identically
    on batch DataFrames (window() is a plain expression).
    """
    win = (
        F.window(F.col(time_col), window, slide)
        if slide
        else F.window(F.col(time_col), window)
    )
    df = readings
    if df.isStreaming:
        df = df.withWatermark(time_col, watermark)
    return (
        df.groupBy(win.alias("win"), F.col("asset_code"))
        .agg(
            F.count(F.lit(1)).alias("n_readings"),
            # F.get is null-safe on empty maps; [0] raises
            # INVALID_ARRAY_INDEX under ANSI when a reading carries only
            # string datapoints (legal: empty numeric map)
            F.sum(F.get(F.map_values("reading"), 0)).alias("sum_first_dp"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "asset_code",
            "n_readings",
            "sum_first_dp",
        )
    )


def session_rollup(
    readings: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
    time_col: str = "user_ts",
) -> DataFrame:
    """Per-asset session windows: readings separated by less than ``gap``
    merge into one session (dynamic-length windows, unlike the fixed
    tumbling/sliding of ``windowed_rollup``).  State per open session is
    bounded by the watermark.  Works on batch DataFrames too."""
    df = readings
    if df.isStreaming:
        df = df.withWatermark(time_col, watermark)
    return (
        df.groupBy(
            F.session_window(F.col(time_col), gap).alias("win"),
            F.col("asset_code"),
        )
        .agg(F.count(F.lit(1)).alias("n_readings"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "asset_code",
            "n_readings",
        )
    )


def stream_dedup(
    readings: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "10 minutes",
    time_col: str = "user_ts",
) -> DataFrame:
    """Streaming exact dedup (X1 on an unbounded stream): keep the first
    reading per key, with state bounded by the watermark —
    ``dropDuplicatesWithinWatermark`` evicts a key's state once the
    watermark passes it, so memory is O(keys per watermark window), not
    O(all keys ever).  On batch input this degrades to plain
    ``dropDuplicates`` (no watermark semantics needed).

    Null-key readings are passed through UNTOUCHED: dropDuplicates treats
    all nulls as equal, and the engine's own contract mints null ids for
    readings regenerated without one (python_filter T7) — deduping those
    would collapse every anonymous reading into a single survivor.
    """
    keys = keys or ["id"]
    any_null = None
    for k in keys:
        c = F.col(k).isNull()
        any_null = c if any_null is None else (any_null | c)
    if not readings.isStreaming:
        keyed = readings.filter(~any_null).dropDuplicates(keys)
        return keyed.unionByName(readings.filter(any_null))
    wm = readings.withWatermark(time_col, watermark)
    keyed = wm.filter(~any_null).dropDuplicatesWithinWatermark(keys)
    return keyed.unionByName(wm.filter(any_null))


def stream_enrich_join(
    readings: DataFrame,
    annotations: DataFrame,
    key: str = "asset_code",
    time_col: str = "user_ts",
    ann_time_col: str = "ann_ts",
    watermark: str = "10 minutes",
    join_window: str = "5 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream enrichment join: each reading picks up annotations
    for the same key whose timestamp lies within ``join_window`` BEFORE
    the reading (an alert/label emitted shortly before the measurement).

    Both sides are watermarked, and the time-range predicate bounds the
    join state: Spark evicts a side's buffered rows once the other
    side's watermark passes the range — without the range condition the
    state would grow forever (stream-stream inner joins require it to be
    bounded).  On batch inputs the same plan is a plain range join.

    ``how='left_outer'`` keeps unannotated readings: a reading with no
    matching annotation emits null-padded once the annotation side's
    watermark proves no match can still arrive — i.e. outer results are
    delayed by the watermark, never wrong.
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(
            "stream_enrich_join supports inner/left_outer (right/full "
            "outer would need the readings side buffered symmetrically)"
        )
    r = readings.withWatermark(time_col, watermark) if readings.isStreaming else readings
    a = (
        annotations.withWatermark(ann_time_col, watermark)
        if annotations.isStreaming
        else annotations
    )
    window_s = {"5 minutes": 300}.get(join_window)
    if window_s is None:
        num, unit = join_window.split()
        # singular and plural forms both valid ('1 minute', '30 seconds')
        window_s = int(num) * {
            "second": 1, "minute": 60, "hour": 3600,
        }[unit.lower().rstrip("s")]
    cond = (
        (r[key] == a[f"ann_{key}"])
        & (a[ann_time_col] <= r[time_col])
        & (
            a[ann_time_col]
            >= r[time_col] - F.expr(f"INTERVAL {window_s} SECONDS")
        )
    )
    return r.join(a, cond, how)


# ---------------------------------------------------------------------------
# T10b — arbitrary cross-batch buffering via applyInPandasWithState.
# The reference contract: "the plugin may not call the output stream ...
# to buffer it for aggregation with data that follows in subsequent
# calls" (plugin.cpp:113-116).  Here: per-asset counting buffer that
# emits one row per micro-batch with the running total.
# ---------------------------------------------------------------------------

BUFFER_OUTPUT_SCHEMA = StructType(
    [
        StructField("asset_code", StringType()),
        StructField("batch_count", LongType()),
        StructField("running_count", LongType()),
        StructField("last_user_ts", TimestampType()),
    ]
)

BUFFER_STATE_SCHEMA = StructType([StructField("total", LongType())])


#: event-time TTL for idle per-asset buffer state: once the watermark
#: passes last-seen + TTL with no new readings, the asset's state is
#: evicted.  Without this the state store grows with every asset ever
#: seen — unbounded on a stream with churning asset ids.
BUFFER_STATE_TTL_MS = 30 * 60 * 1000


def _state_epoch_ms(last_ts, wm: int, tz: str) -> int:
    """True epoch-UTC ms of an event time seen by a state function.

    Arrow hands event times to ``applyInPandasWithState`` as tz-NAIVE
    pandas Timestamps rendered in ``spark.sql.session.timeZone``, while
    GroupState timeout/watermark milliseconds are true epoch UTC — a
    naive ``.timestamp()`` (which assumes UTC) would skew every TTL by
    the session-tz offset.  Localize to the session tz first; null/NaT
    (or a DST-impossible instant) falls back to the current watermark."""
    if last_ts is None or pd.isna(last_ts):
        return wm
    try:
        if last_ts.tzinfo is None:
            last_ts = last_ts.tz_localize(
                tz, nonexistent="shift_forward", ambiguous=True
            )
        return int(last_ts.timestamp() * 1000)
    except (ValueError, OverflowError):
        return wm


def _make_buffer_fn(tz: str):
    """Per-asset running count with event-time state eviction.

    A timed-out invocation (watermark passed this asset's TTL and no new
    data arrived) removes the state and emits nothing; if the asset
    reappears later its running count restarts — the documented contract
    (the reference's buffering never outlives FogLAMP's bounded batches,
    plugin.cpp:113-116; an unbounded stream needs an explicit TTL)."""

    def _buffer_fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        batch = 0
        last_ts = None
        for pdf in pdfs:
            batch += len(pdf)
            if len(pdf):
                m = pdf["user_ts"].max()  # skipna: NaT only if ALL null
                if pd.notna(m):
                    last_ts = m if last_ts is None else max(last_ts, m)
        (total,) = state.get if state.exists else (0,)
        total += batch
        state.update((total,))
        # keep state until the watermark passes last-seen + TTL; the
        # timestamp must exceed the current watermark or Spark rejects it
        wm = state.getCurrentWatermarkMs()
        last_ms = _state_epoch_ms(last_ts, wm, tz)
        state.setTimeoutTimestamp(max(last_ms, wm + 1) + BUFFER_STATE_TTL_MS)
        yield pd.DataFrame(
            {
                "asset_code": [key[0]],
                "batch_count": [batch],
                "running_count": [total],
                "last_user_ts": [last_ts],
            }
        )

    return _buffer_fn


def stateful_buffer_counts(
    readings: DataFrame,
    watermark: str = "10 minutes",
    time_col: str = "user_ts",
) -> DataFrame:
    """Cross-batch per-asset running counts (stateful T10).

    State is watermark-bounded: EventTimeTimeout + the TTL in
    ``_make_buffer_fn`` evict assets idle past ``BUFFER_STATE_TTL_MS``,
    so state size is O(assets active per TTL window), not O(assets ever)."""
    df = readings
    if df.isStreaming:
        df = df.withWatermark(time_col, watermark)
    tz = readings.sparkSession.conf.get("spark.sql.session.timeZone")
    return df.groupBy("asset_code").applyInPandasWithState(
        _make_buffer_fn(tz),
        outputStructType=BUFFER_OUTPUT_SCHEMA,
        stateStructType=BUFFER_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


# ---------------------------------------------------------------------------
# G4-stream — TRUE deadband on an unbounded stream.  The per-asset
# last-EMITTED value is exactly one double of state per asset, carried
# across micro-batches via applyInPandasWithState; the same TTL policy as
# the T10b buffer bounds it to assets active per TTL window.
# ---------------------------------------------------------------------------

DEADBAND_STATE_SCHEMA = StructType(
    [StructField("last_emitted", DoubleType())]
)

#: same eviction policy as BUFFER_STATE_TTL_MS: an asset idle past the
#: TTL loses its state, and on reappearing its first reading emits again
#: (first-sight semantics), the documented restart contract.
DEADBAND_STATE_TTL_MS = 30 * 60 * 1000


def stream_deadband(
    readings: DataFrame,
    tolerance: float,
    value_col: str = "value",
    asset_col: str = "asset_code",
    order_cols: tuple[str, ...] = ("user_ts", "id"),
    time_col: str = "user_ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming twin of ``functions.signal.deadband``: emit a reading
    only when it deviates from the last *emitted* reading of its asset by
    more than ``tolerance``, with the last-emitted value persisted across
    micro-batches.

    Ordering contract: rows are ordered by ``order_cols`` WITHIN each
    micro-batch; across batches the scan runs in arrival order (state
    cannot be rewritten retroactively on an unbounded stream).  With an
    in-order source this equals the batch operator exactly — asserted by
    the stream==batch parity test.  On batch input it degrades to the
    batch operator itself.
    """
    from foglamp_filter_python35_spark.functions.signal import (  # noqa: PLC0415
        _deadband_scan,
        deadband,
    )

    if not readings.isStreaming:
        return deadband(
            readings, value_col, asset_col, list(order_cols), tolerance
        )

    out_schema = readings.schema
    cols = [f.name for f in out_schema.fields]
    tz = readings.sparkSession.conf.get("spark.sql.session.timeZone")

    def fn(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        parts = [pdf for pdf in pdfs if len(pdf)]
        if not parts:
            return
        pdf = (
            pd.concat(parts, ignore_index=True)
            if len(parts) > 1
            else parts[0]
        )
        pdf = pdf.sort_values(list(order_cols), kind="mergesort")
        (last,) = state.get if state.exists else (None,)
        keep, new_last = _deadband_scan(
            pdf[value_col].to_numpy(), tolerance, last
        )
        if new_last is not None:
            state.update((float(new_last),))
        wm = state.getCurrentWatermarkMs()
        last_ms = _state_epoch_ms(pdf[time_col].max(), wm, tz)
        state.setTimeoutTimestamp(
            max(last_ms, wm + 1) + DEADBAND_STATE_TTL_MS
        )
        out = pdf[keep][cols]
        if len(out):
            yield out

    return (
        readings.withWatermark(time_col, watermark)
        .groupBy(asset_col)
        .applyInPandasWithState(
            fn,
            outputStructType=out_schema,
            stateStructType=DEADBAND_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )
