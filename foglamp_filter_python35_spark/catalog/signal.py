"""Signal-processing queries over ``events``, oracle-checked.

The sensor-pipeline operator family users build on the reference's
transform surface (plugin.cpp:29-53 — modify / drop / buffer readings):
smoothing, rate-of-change, change suppression, alarms, downsampling,
gap fill.  Each runs the matching operator from functions/signal.py on
the events stream (event_type = asset, ts = event time) against a
window-function DuckDB oracle; true deadband — inherently sequential —
is oracled by a recursive CTE that replays the same scan serially.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from foglamp_filter_python35_spark.catalog import (
    QuerySpec,
    davg,
    dsum,
    load,
    o_davg,
    o_dsum,
    o_ordstat_quantile,
    ordstat_quantile,
)
from foglamp_filter_python35_spark.functions import signal as S

_PART = ["event_type"]
_ORDER = ["ts", "event_id"]
_W = "PARTITION BY event_type ORDER BY ts, event_id"

# --- smoothing: trailing 5-reading mean per asset ---


def q_moving_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return S.moving_average(ev, "value", _PART, _ORDER, n=5).select(
        "event_id", "event_type", "value", "moving_avg"
    )


O_MOVING_AVERAGE = f"""
SELECT event_id, event_type, value,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
         / COUNT(value) OVER w AS moving_avg
FROM events
WINDOW w AS ({_W} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""

# --- rate of change: delta vs previous reading of the same asset ---


def q_value_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return S.delta(ev, "value", _PART, _ORDER).select(
        "event_id", "event_type", "value", "value_delta", "dt_micros"
    )


O_VALUE_DELTA = f"""
SELECT event_id, event_type, value,
       value - LAG(value) OVER w AS value_delta,
       epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS dt_micros
FROM events
WINDOW w AS ({_W})
"""

# --- stateless change detection: |value - prev| > threshold passes ---

_CHANGE_THRESHOLD = 100.0


def q_change_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return S.change_detect(
        ev, "value", _PART, _ORDER, threshold=_CHANGE_THRESHOLD
    ).select("event_id", "event_type", "value")


O_CHANGE_DETECT = f"""
SELECT event_id, event_type, value
FROM (
  SELECT event_id, event_type, value, LAG(value) OVER w AS prev
  FROM events
  WINDOW w AS ({_W})
)
WHERE prev IS NULL OR ABS(value - prev) > {_CHANGE_THRESHOLD}
"""

# --- threshold alarms: out-of-band readings tagged with violated bound ---

_ALARM_LO, _ALARM_HI = 1.0, 400.0


def q_threshold_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return S.threshold_alarm(ev, "value", _ALARM_LO, _ALARM_HI).select(
        "event_id", "event_type", "value", "alarm"
    )


O_THRESHOLD_ALARM = f"""
SELECT event_id, event_type, value,
       CASE WHEN value < {_ALARM_LO} THEN 'low' ELSE 'high' END AS alarm
FROM events
WHERE value < {_ALARM_LO} OR value > {_ALARM_HI}
"""

# --- z-score anomaly over a trailing 20-reading window ---

_Z_N, _Z = 20, 2.0


def q_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return S.zscore_anomaly(ev, "value", _PART, _ORDER, n=_Z_N, z=_Z).select(
        "event_id", "event_type", "value", "win_mean", "win_var"
    )


O_ZSCORE_ANOMALY = f"""
WITH stats AS (
  SELECT event_id, event_type, value,
         COUNT(value) OVER w AS n,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
           / COUNT(value) OVER w AS win_mean,
         CAST(SUM(CAST(value * value AS DECIMAL(38,6))) OVER w AS DOUBLE)
           / COUNT(value) OVER w AS msq
  FROM events
  WINDOW w AS ({_W} ROWS BETWEEN {_Z_N - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_id, event_type, value, win_mean,
       msq - win_mean * win_mean AS win_var
FROM stats
WHERE n = {_Z_N}
  AND msq - win_mean * win_mean > 0.0
  AND ABS(value - win_mean) > {_Z} * SQRT(msq - win_mean * win_mean)
"""

# --- downsample: per (asset, hour) count / exact mean / min / max ---


def q_downsample_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return S.resample(ev, "value", "event_type", "ts", every="hour")


O_DOWNSAMPLE_1H = """
SELECT event_type,
       date_trunc('hour', ts) AS bucket,
       COUNT(value) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(value)
         AS avg_value,
       MIN(value) AS min_value,
       MAX(value) AS max_value
FROM events
GROUP BY 1, 2
"""

# --- gap fill: LOCF per user, treating 'error' readings as gaps ---


def q_locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "value_or_null",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    return S.locf(
        ev, "value_or_null", ["user_id"], _ORDER, out_col="filled"
    ).select("event_id", "user_id", "value_or_null", "filled")


O_LOCF_GAP_FILL = """
SELECT event_id, user_id,
       CASE WHEN event_type = 'error' THEN NULL ELSE value END
         AS value_or_null,
       LAST_VALUE(CASE WHEN event_type = 'error' THEN NULL ELSE value END
                  IGNORE NULLS) OVER w AS filled
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""

# --- session windows (batch form of streaming session_rollup): readings
# separated by < gap merge into one dynamic-length session.  Spark uses
# the native session_window; the oracle derives identical sessions with
# gaps-and-islands SQL (new-session flag -> running sum -> group), the
# standard relational formulation. ---

_SESSION_GAP_MIN = 30


def q_session_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window(
                F.col("ts"), f"{_SESSION_GAP_MIN} minutes"
            ).alias("win"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_readings"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            F.col("event_type"),
            "n_readings",
        )
        .orderBy("event_type", "session_start")
    )


O_SESSION_ROLLUP = f"""
WITH flagged AS (
  SELECT event_type, ts, event_id,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER ({_W})
                   >= {_SESSION_GAP_MIN} * 60 * 1000000
              OR LAG(ts) OVER ({_W}) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
numbered AS (
  SELECT event_type, ts,
         SUM(new_session) OVER ({_W}
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT MIN(ts) AS session_start,
       MAX(ts) + INTERVAL {_SESSION_GAP_MIN} MINUTE AS session_end,
       event_type,
       COUNT(*) AS n_readings
FROM numbered
GROUP BY event_type, session_id
ORDER BY event_type, session_start
"""

# --- per-asset percentile summary.  Exact percentile (Spark sort-based
# `percentile` == DuckDB `quantile_cont`, verified 0-ULP on this corpus);
# at 100 TB the production variant is approx_percentile (t-digest,
# mergeable partials) — exact by default because the oracle gate needs
# bit-equality, same tradeoff as the decimal sums; `approx_mode()` flips
# to the sketch form with the identical plan shape. ---


def q_percentile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from foglamp_filter_python35_spark.catalog import (  # noqa: PLC0415
        approx_enabled,
    )

    ev = load(spark, sf_dir, "events")
    if approx_enabled():
        pct = lambda c, p: F.approx_percentile(c, p, 10_000)  # noqa: E731
    else:
        pct = F.percentile
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            pct("value", 0.5).alias("p50"),
            pct("value", 0.9).alias("p90"),
            pct("value", 0.99).alias("p99"),
        )
        .orderBy("event_type")
    )


O_PERCENTILE_SUMMARY = """
SELECT event_type,
       COUNT(*) AS n,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       quantile_cont(value, 0.99) AS p99
FROM events
GROUP BY event_type
ORDER BY event_type
"""

# --- TRUE deadband (stateful, sequential per asset).  Spark runs the
# grouped Arrow kernel; the oracle replays the identical scan with a
# recursive CTE over row-numbered readings. ---

_DEADBAND_TOL = 100.0


def q_deadband_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    return S.deadband(
        ev, "value", "event_type", _ORDER, tolerance=_DEADBAND_TOL
    ).select("event_id", "event_type", "value")


O_DEADBAND_SUPPRESS = f"""
WITH RECURSIVE seq AS MATERIALIZED (
  SELECT event_id, event_type, value,
         ROW_NUMBER() OVER ({_W}) AS rn
  FROM events
),
scan AS (
  SELECT event_id, event_type, value, rn,
         value AS last_emitted, TRUE AS emitted
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT q.event_id, q.event_type, q.value, q.rn,
         CASE WHEN ABS(q.value - s.last_emitted) > {_DEADBAND_TOL}
              THEN q.value ELSE s.last_emitted END,
         ABS(q.value - s.last_emitted) > {_DEADBAND_TOL}
  FROM scan s
  JOIN seq q ON q.event_type = s.event_type AND q.rn = s.rn + 1
)
SELECT event_id, event_type, value
FROM scan WHERE emitted
"""

# --- chunked deadband: identical semantics, hot-asset-parallel plan.
# Same recursive-CTE oracle as deadband_suppress — the chunk decomposition
# is an algebraic rewrite and must be bit-identical. ---


def q_deadband_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    # chunk size tunes parallelism vs per-group Arrow overhead: output
    # is identical for ANY chunk size (asserted by parity with the
    # plain-deadband oracle), so pick chunks big enough that the three
    # grouped passes aren't overhead-bound (6h -> 24h measured 3x
    # faster here) while still yielding far more groups than cores
    return S.deadband_chunked(
        ev,
        "value",
        "event_type",
        _ORDER,
        tolerance=_DEADBAND_TOL,
        ts_col="ts",
        chunk_micros=24 * 3600 * 1_000_000,
    ).select("event_id", "event_type", "value")


# --- median despike: trailing 5-reading median per asset.  The robust
# twin of the moving average (one impulse spike cannot drag it); the
# frame is odd and only full frames emit, so the median is an exact
# middle order statistic — element selection, no interpolation — and
# bit-identical across engines.


def q_median_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return S.median_filter(ev, "value", _PART, _ORDER, n=5).select(
        "event_id", "event_type", "value", "median"
    )


O_MEDIAN_FILTER = f"""
SELECT event_id, event_type, value, median FROM (
  SELECT event_id, event_type, value,
         quantile_cont(value, 0.5) OVER
           ({_W} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS median,
         ROW_NUMBER() OVER ({_W}) AS rn
  FROM events)
WHERE rn >= 5
"""


# --- EMA smoothing: the IIR twin of the moving average — a grouped
# Arrow kernel (each output folds its whole prefix), oracled by a
# recursive CTE that replays the identical alpha*x + beta*y recurrence
# serially.  alpha = 0.25 (an exact binary fraction, as is beta = 0.75,
# so the literals are identical in both engines).
#
# Oracle cost note: unlike deadband's recursion (one step per sparse
# EMISSION), EMA emits every row, so the CTE's depth is the max
# per-asset row count — fine at the driver's sf0.01 gate (~15 s),
# impractical at sf0.1 (ORACLE-side only; the Spark kernel itself is
# scale-free, 1.9 s at sf0.1 in the bench sweep).

_EMA_ALPHA = 0.25


def q_ema_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    return S.ema(ev, "value", "event_type", _ORDER, _EMA_ALPHA).select(
        "event_id", "event_type", "value", "ema"
    )


O_EMA_SMOOTH = f"""
WITH RECURSIVE ordered AS (
  SELECT event_id, event_type, value,
         ROW_NUMBER() OVER ({_W}) AS rn
  FROM events),
ema AS (
  SELECT event_id, event_type, value, rn, value AS ema
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.event_id, o.event_type, o.value, o.rn,
         {_EMA_ALPHA} * o.value + {1.0 - _EMA_ALPHA} * e.ema
  FROM ema e
  JOIN ordered o ON o.event_type = e.event_type AND o.rn = e.rn + 1)
SELECT event_id, event_type, value, ema FROM ema
"""


# --- G91: linear-interpolation gap fill — the time-weighted twin of
# LOCF (same null injection: 'error' readings are the gaps).  Two window
# passes (forward fill + backward fill) over one asset-partitioned
# shuffle; the lerp is integer-microsecond deltas and three IEEE double
# ops, mirrored token-for-token by the oracle. ---


def q_interp_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "value_or_null",
        F.when(F.col("event_type") == "error", F.lit(None)).otherwise(
            F.col("value")
        ),
    )
    return S.interp(
        ev, "value_or_null", "ts", ["user_id"], _ORDER, out_col="filled"
    ).select("event_id", "user_id", "value_or_null", "filled")


O_INTERP_GAP_FILL = """
SELECT event_id, user_id, value_or_null,
       CASE WHEN value_or_null IS NOT NULL THEN value_or_null
            WHEN prev_v IS NULL THEN next_v
            WHEN next_v IS NULL THEN prev_v
            WHEN next_t = prev_t THEN prev_v
            ELSE prev_v + (next_v - prev_v)
                 * (CAST(t_us - prev_t AS DOUBLE)
                    / CAST(next_t - prev_t AS DOUBLE))
       END AS filled
FROM (
  SELECT event_id, user_id, value_or_null, t_us,
         LAST_VALUE(value_or_null IGNORE NULLS) OVER wf AS prev_v,
         LAST_VALUE(CASE WHEN value_or_null IS NOT NULL THEN t_us END
                    IGNORE NULLS) OVER wf AS prev_t,
         FIRST_VALUE(value_or_null IGNORE NULLS) OVER wb AS next_v,
         FIRST_VALUE(CASE WHEN value_or_null IS NOT NULL THEN t_us END
                     IGNORE NULLS) OVER wb AS next_t
  FROM (
    SELECT event_id, user_id, ts, epoch_us(ts) AS t_us,
           CASE WHEN event_type = 'error' THEN NULL ELSE value END
             AS value_or_null
    FROM events)
  WINDOW wf AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wb AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
"""

# --- G92: winsorization — clip each reading to its asset's rank-exact
# [p05, p95] fences (standard pre-training value normalization).  One
# grouped order-statistic agg (5 fence rows) broadcast back over the
# scan; fences use the engine-exact integer-rank quantile, so no
# cross-engine interpolation ULP can move a fence. ---


def q_winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    fences = (
        ev.groupBy("event_type")
        .agg(
            F.count("value").alias("n"),
            F.sort_array(F.collect_list("value")).alias("s"),
        )
        .select(
            "event_type",
            ordstat_quantile("s", "n", 0.05).alias("lo_fence"),
            ordstat_quantile("s", "n", 0.95).alias("hi_fence"),
        )
    )
    return ev.join(F.broadcast(fences), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "lo_fence",
        "hi_fence",
        F.least(
            F.greatest(F.col("value"), F.col("lo_fence")), F.col("hi_fence")
        ).alias("clipped"),
    )


O_WINSORIZE_CLIP = f"""
WITH agg AS (
  SELECT event_type, COUNT(value) AS n, list_sort(list(value)) AS s
  FROM events GROUP BY event_type),
fences AS (
  SELECT event_type,
         {o_ordstat_quantile('s', 'n', 0.05)} AS lo_fence,
         {o_ordstat_quantile('s', 'n', 0.95)} AS hi_fence
  FROM agg)
SELECT e.event_id, e.event_type, e.value, f.lo_fence, f.hi_fence,
       LEAST(GREATEST(e.value, f.lo_fence), f.hi_fence) AS clipped
FROM events e JOIN fences f USING (event_type)
"""

# --- G93: cross-asset correlation — Pearson r between every asset pair
# over hour-aligned mean values (sensor cross-correlation audit).  The
# raw scan reduces to (assets x hours) cells in one hash agg; the pair
# join and the moment sums run on cells only, so cost is independent of
# row count.  Both sides of the pair self-join share one cells subtree;
# AQE's exchange reuse materializes it once, so the raw stream is
# scanned a single time (asserted in tests/test_plan_shapes.py).  All
# five moment sums are quantized-integer (order-free), and the r
# formula is one shared-shape IEEE expression. ---


def q_asset_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    cells = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket")
    ).agg(davg("value", "avg_value"))
    a = cells.select(
        F.col("event_type").alias("type_a"),
        "bucket",
        F.col("avg_value").alias("x"),
    )
    b = cells.select(
        F.col("event_type").alias("type_b"),
        "bucket",
        F.col("avg_value").alias("y"),
    )
    agg = (
        a.join(F.broadcast(b), "bucket")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            dsum("x", "sx"),
            dsum("y", "sy"),
            dsum("x * y", "sxy"),
            dsum("x * x", "sxx"),
            dsum("y * y", "syy"),
        )
    )
    n = F.col("n_hours").cast("double")
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.sqrt(n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select(
        "type_a", "type_b", "n_hours", corr.alias("corr")
    ).orderBy("type_a", "type_b")


O_ASSET_CORRELATION = f"""
WITH cells AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket,
         {o_davg('value', 'avg_value')}
  FROM events GROUP BY event_type, date_trunc('hour', ts)),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.avg_value AS x, b.avg_value AS y
  FROM cells a JOIN cells b
    ON a.bucket = b.bucket AND a.event_type < b.event_type),
agg AS (
  SELECT type_a, type_b, COUNT(*) AS n_hours,
         {o_dsum('x', 'sx')}, {o_dsum('y', 'sy')},
         {o_dsum('x * y', 'sxy')},
         {o_dsum('x * x', 'sxx')},
         {o_dsum('y * y', 'syy')}
  FROM pairs GROUP BY type_a, type_b)
SELECT type_a, type_b, n_hours,
       (CAST(n_hours AS DOUBLE) * sxy - sx * sy)
         / (SQRT(CAST(n_hours AS DOUBLE) * sxx - sx * sx)
            * SQRT(CAST(n_hours AS DOUBLE) * syy - sy * sy)) AS corr
FROM agg
ORDER BY type_a, type_b
"""

# --- G94: robust outliers by median absolute deviation — the
# distribution-free alternative to z-scores (immune to the outliers it
# hunts).  Two grouped order-statistic aggs (median, then median of
# |value - median|), each a 5-row broadcast back over the scan; both
# medians are rank-exact.  Three passes over the raw stream (median,
# MAD, final filter) — the floor for uncached two-level order
# statistics; a deployment that can afford executor memory swaps in
# ``devs.persist()`` to drop to two. ---

_MAD_K = 3.0


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    med = (
        ev.groupBy("event_type")
        .agg(
            F.count("value").alias("n"),
            F.sort_array(F.collect_list("value")).alias("s"),
        )
        .select("event_type", ordstat_quantile("s", "n", 0.5).alias("med"))
    )
    devs = ev.join(F.broadcast(med), "event_type").withColumn(
        "dev", F.abs(F.col("value") - F.col("med"))
    )
    mad = (
        devs.groupBy("event_type")
        .agg(
            F.count("dev").alias("n"),
            F.sort_array(F.collect_list("dev")).alias("s"),
        )
        .select("event_type", ordstat_quantile("s", "n", 0.5).alias("mad"))
    )
    return (
        devs.join(F.broadcast(mad), "event_type")
        .filter(F.col("dev") > _MAD_K * F.col("mad"))
        .select("event_id", "event_type", "value", "med", "mad")
        .orderBy("event_id")
    )


O_MAD_OUTLIERS = f"""
WITH agg1 AS (
  SELECT event_type, COUNT(value) AS n, list_sort(list(value)) AS s
  FROM events GROUP BY event_type),
med AS (
  SELECT event_type, {o_ordstat_quantile('s', 'n', 0.5)} AS med FROM agg1),
devs AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         ABS(e.value - m.med) AS dev
  FROM events e JOIN med m USING (event_type)),
agg2 AS (
  SELECT event_type, COUNT(dev) AS n, list_sort(list(dev)) AS s
  FROM devs GROUP BY event_type),
mad AS (
  SELECT event_type, {o_ordstat_quantile('s', 'n', 0.5)} AS mad FROM agg2)
SELECT d.event_id, d.event_type, d.value, d.med, mad.mad
FROM devs d JOIN mad USING (event_type)
WHERE d.dev > {_MAD_K} * mad.mad
ORDER BY d.event_id
"""


# --- G105: SPC control chart (train/apply, Western Electric rules) -------
# Statistical process control, the industrial ancestor of every anomaly
# monitor on the reference's transform surface: fit center/sigma per
# asset on a TRAINING window (first week), then audit the rest of the
# stream against Western Electric rule 1 (|x - center| > 3 sigma) and
# rule 4 (8 consecutive points on the same side of the center line).
# Differs from zscore_anomaly (G6) exactly the way SPC differs from a
# rolling z-score: limits are FROZEN at train time, so drift shows up
# as violations instead of silently re-normalizing.  Moments use the
# quantized-integer sums (association-order-free); sigma is one SQRT
# (exactly rounded, IEEE); runs are gaps-and-islands over integer row
# numbers.  Scale: fences are a |types|-row broadcast; the audit is one
# asset-partitioned window pass; islands aggregate O(runs) rows.

_SPC_SPLIT = "2024-01-08"
_SPC_RUN = 8


def q_spc_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window  # noqa: PLC0415

    ev = load(spark, sf_dir, "events")
    split = F.lit(_SPC_SPLIT).cast("timestamp")
    fences = (
        ev.filter(F.col("ts") < split)
        .groupBy("event_type")
        .agg(
            dsum("value", "s1"),
            dsum("value * value", "s2"),
            F.count("value").alias("n_train"),
        )
        .select(
            "event_type",
            (F.col("s1") / F.col("n_train")).alias("center"),
            # greatest(..., 0): dsum quantization can push the E[x^2] -
            # E[x]^2 cancellation slightly negative on near-constant
            # training values (NaN here, hard error in DuckDB's SQRT).
            F.sqrt(
                F.greatest(
                    F.col("s2") / F.col("n_train")
                    - (F.col("s1") / F.col("n_train"))
                    * (F.col("s1") / F.col("n_train")),
                    F.lit(0.0),
                )
            ).alias("sigma"),
        )
    )
    audit = (
        ev.filter(F.col("ts") >= split)
        .join(F.broadcast(fences), "event_type")
        .select(
            "event_type",
            "ts",
            "event_id",
            "center",
            "sigma",
            F.when(F.col("value") > F.col("center"), 1).otherwise(0).alias(
                "side"
            ),
            F.when(
                F.abs(F.col("value") - F.col("center"))
                > F.lit(3.0) * F.col("sigma"),
                1,
            )
            .otherwise(0)
            .alias("rule1"),
        )
    )
    w_all = Window.partitionBy("event_type").orderBy("ts", "event_id")
    w_side = Window.partitionBy("event_type", "side").orderBy(
        "ts", "event_id"
    )
    isl = audit.select(
        "event_type",
        "side",
        (F.row_number().over(w_all) - F.row_number().over(w_side)).alias(
            "grp"
        ),
    )
    runs = (
        isl.groupBy("event_type", "side", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
        .filter(F.col("len") >= _SPC_RUN)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_runs8"))
    )
    base = audit.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("rule1").alias("n_rule1"),
        F.max("center").alias("center"),
        F.max("sigma").alias("sigma"),
    )
    return (
        base.join(runs, "event_type", "left")
        .select(
            "event_type",
            "n_points",
            "n_rule1",
            F.coalesce(F.col("n_runs8"), F.lit(0).cast("bigint")).alias(
                "n_runs8"
            ),
            "center",
            "sigma",
        )
        .orderBy("event_type")
    )


O_SPC_CONTROL_CHART = f"""
WITH fences AS (
  SELECT event_type,
         {o_dsum('value', 's1')},
         {o_dsum('value * value', 's2')},
         COUNT(value) AS n_train
  FROM events WHERE ts < TIMESTAMP '{_SPC_SPLIT}' GROUP BY event_type),
f2 AS (
  SELECT event_type,
         s1 / n_train AS center,
         SQRT(GREATEST(s2 / n_train - (s1 / n_train) * (s1 / n_train),
                       0.0)) AS sigma
  FROM fences),
audit AS (
  SELECT e.event_type, e.ts, e.event_id, f.center, f.sigma,
         CASE WHEN e.value > f.center THEN 1 ELSE 0 END AS side,
         CASE WHEN ABS(e.value - f.center) > 3.0 * f.sigma
              THEN 1 ELSE 0 END AS rule1
  FROM events e JOIN f2 f USING (event_type)
  WHERE e.ts >= TIMESTAMP '{_SPC_SPLIT}'),
isl AS (
  SELECT event_type, side,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id)
         - ROW_NUMBER() OVER (PARTITION BY event_type, side
                              ORDER BY ts, event_id) AS grp
  FROM audit),
runs AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_runs8
  FROM (SELECT event_type, COUNT(*) AS len
        FROM isl GROUP BY event_type, side, grp)
  WHERE len >= {_SPC_RUN} GROUP BY event_type),
base AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(rule1) AS BIGINT) AS n_rule1,
         MAX(center) AS center, MAX(sigma) AS sigma
  FROM audit GROUP BY event_type)
SELECT b.event_type, b.n_points, b.n_rule1,
       COALESCE(r.n_runs8, 0) AS n_runs8, b.center, b.sigma
FROM base b LEFT JOIN runs r USING (event_type)
ORDER BY b.event_type
"""


SPECS = [
    QuerySpec(
        "spc_control_chart", q_spc_control_chart, O_SPC_CONTROL_CHART
    ),
    QuerySpec("moving_average", q_moving_average, O_MOVING_AVERAGE),
    QuerySpec("median_filter", q_median_filter, O_MEDIAN_FILTER),
    QuerySpec("ema_smooth", q_ema_smooth, O_EMA_SMOOTH),
    QuerySpec("value_delta", q_value_delta, O_VALUE_DELTA),
    QuerySpec("change_detect", q_change_detect, O_CHANGE_DETECT),
    QuerySpec("threshold_alarm", q_threshold_alarm, O_THRESHOLD_ALARM),
    QuerySpec("zscore_anomaly", q_zscore_anomaly, O_ZSCORE_ANOMALY),
    QuerySpec("downsample_1h", q_downsample_1h, O_DOWNSAMPLE_1H, headline=True),
    QuerySpec("locf_gap_fill", q_locf_gap_fill, O_LOCF_GAP_FILL),
    QuerySpec("session_rollup", q_session_rollup, O_SESSION_ROLLUP),
    QuerySpec(
        "percentile_summary", q_percentile_summary, O_PERCENTILE_SUMMARY
    ),
    QuerySpec("deadband_suppress", q_deadband_suppress, O_DEADBAND_SUPPRESS),
    QuerySpec("deadband_chunked", q_deadband_chunked, O_DEADBAND_SUPPRESS),
    QuerySpec("interp_gap_fill", q_interp_gap_fill, O_INTERP_GAP_FILL),
    QuerySpec("winsorize_clip", q_winsorize_clip, O_WINSORIZE_CLIP),
    QuerySpec("asset_correlation", q_asset_correlation, O_ASSET_CORRELATION),
    QuerySpec("mad_outliers", q_mad_outliers, O_MAD_OUTLIERS),
]
