"""Signal-processing operators over readings streams.

The reference's contract lets a filter script implement any per-reading /
cross-reading transform (plugin.cpp:29-53, :113-116 — modify, drop,
buffer).  The transforms users actually ship on that surface are the
classic sensor-pipeline family: smoothing, rate-of-change, deadband
change suppression, threshold alarms, downsampling, gap fill.  This
module provides each as a first-class Catalyst-native operator — window
functions and hash aggregates, no Python in the hot path — except true
deadband, whose running "last emitted" state is inherently sequential
per asset and runs as a grouped Arrow-batched kernel.

Scale posture: every window partitions by asset (``partition_cols``) so
state never crosses asset boundaries — at 100 TB the shuffle is one
hash-partition by asset, each window evaluated locally, no global sort.
Ordering inside a partition is (ts, id) so results are deterministic
under ties.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from foglamp_filter_python35_spark.functions.sqltext import quote_ident


def _window(partition_cols: Iterable[str], order_cols: Iterable[str]):
    return Window.partitionBy(*partition_cols).orderBy(*order_cols)


def _dec(c: Column, scale: int = 6) -> Column:
    return c.cast(f"decimal(38,{scale})")


def moving_average(
    df: DataFrame,
    value_col: str,
    partition_cols: Iterable[str],
    order_cols: Iterable[str],
    n: int,
    out_col: str = "moving_avg",
) -> DataFrame:
    """Trailing n-row mean per asset (smoothing filter).

    The mean is computed as exact-decimal frame sum / frame count so the
    result is bit-identical across engines and partitionings (see
    catalog.dsum rationale).
    """
    w = _window(partition_cols, order_cols).rowsBetween(-(n - 1), 0)
    mean = (
        F.sum(_dec(F.col(value_col))).over(w).cast("double")
        / F.count(F.col(value_col)).over(w)
    )
    return df.withColumn(out_col, mean)


def ema(
    df: DataFrame,
    value_col: str,
    asset_col: str,
    order_cols: Iterable[str],
    alpha: float,
    out_col: str = "ema",
) -> DataFrame:
    """Exponential moving average per asset: ``y_i = a*x_i + (1-a)*y_{i-1}``
    with ``y_0 = x_0`` — the classic IIR smoother whose weight on history
    never fully vanishes (vs the moving average's hard cutoff).

    Inherently sequential (each output folds the entire prefix), so it
    runs as a grouped Arrow kernel like TRUE deadband: one shuffle on
    asset, a linear scan per group.  The recurrence is evaluated as
    literally ``alpha*x + beta*y`` with ``beta = 1 - alpha`` — the same
    two products and one add the oracle's recursive CTE performs — so
    results are bit-identical cross-engine.  Unlike deadband, EMA has no
    exact chunk decomposition (folding a chunk to ``y_out = A*y_in + B``
    reassociates the arithmetic), so a hot asset serializes; at scale
    pick deadband_chunked-style operators where exactness under
    parallelism is required.
    """
    order_cols = list(order_cols)
    schema = T.StructType(
        [*df.schema.fields, T.StructField(out_col, T.DoubleType())]
    )
    a = float(alpha)
    b = 1.0 - a

    def _scan(pdf):
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        vals = pdf[value_col].to_numpy(dtype="float64")
        out = np.empty_like(vals)
        if len(vals):
            y = vals[0]
            out[0] = y
            for i in range(1, len(vals)):
                y = a * vals[i] + b * y
                out[i] = y
        return pdf.assign(**{out_col: out})

    return df.groupBy(asset_col).applyInPandas(_scan, schema=schema)


def median_filter(
    df: DataFrame,
    value_col: str,
    partition_cols: Iterable[str],
    order_cols: Iterable[str],
    n: int = 5,
    out_col: str = "median",
) -> DataFrame:
    """Trailing n-row median per asset — the classic impulse-noise
    (despiking) filter: unlike the moving average, one spiked reading
    cannot drag the smoothed value.

    ``n`` must be odd and rows before the frame fills are dropped, so
    every emitted median is the exact middle order statistic of n real
    values — element selection, no interpolation — and therefore
    bit-identical across engines (an even frame would interpolate two
    elements, whose parenthesization is not contractually identical).
    """
    if n % 2 == 0:
        raise ValueError("median_filter needs an odd frame (exact middle)")
    w = _window(partition_cols, order_cols)
    frame = w.rowsBetween(-(n - 1), 0)
    med = F.expr(f"percentile({quote_ident(value_col)}, 0.5)").over(frame)
    rn = F.row_number().over(w)
    return (
        df.withColumn(out_col, med)
        .withColumn("_rn", rn)
        .filter(F.col("_rn") >= n)
        .drop("_rn")
    )


def delta(
    df: DataFrame,
    value_col: str,
    partition_cols: Iterable[str],
    order_cols: Iterable[str],
    ts_col: str = "ts",
) -> DataFrame:
    """Per-asset difference vs the previous reading: value delta plus the
    elapsed microseconds (rate = delta / dt is the caller's division so a
    zero dt stays visible instead of becoming inf)."""
    w = _window(partition_cols, order_cols)
    prev_v = F.lag(F.col(value_col)).over(w)
    prev_t = F.lag(F.unix_micros(F.col(ts_col))).over(w)
    return df.withColumn("value_delta", F.col(value_col) - prev_v).withColumn(
        "dt_micros", F.unix_micros(F.col(ts_col)) - prev_t
    )


def change_detect(
    df: DataFrame,
    value_col: str,
    partition_cols: Iterable[str],
    order_cols: Iterable[str],
    threshold: float,
) -> DataFrame:
    """Stateless change detector: keep readings whose value moved by more
    than ``threshold`` vs the immediately previous reading of the same
    asset (first reading of each asset always passes — the reference's
    filters emit on first sight).  For the stateful last-*emitted*
    variant see ``deadband``."""
    w = _window(partition_cols, order_cols)
    prev_v = F.lag(F.col(value_col)).over(w)
    return df.withColumn("_prev", prev_v).filter(
        F.col("_prev").isNull()
        | (F.abs(F.col(value_col) - F.col("_prev")) > threshold)
    ).drop("_prev")


def threshold_alarm(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
) -> DataFrame:
    """Out-of-band alarm rows: readings outside [lo, hi] tagged with the
    violated bound.  A plain pushed-down filter — at scale this prunes at
    the parquet scan."""
    v = F.col(value_col)
    return df.filter((v < lo) | (v > hi)).withColumn(
        "alarm", F.when(v < lo, F.lit("low")).otherwise(F.lit("high"))
    )


def zscore_anomaly(
    df: DataFrame,
    value_col: str,
    partition_cols: Iterable[str],
    order_cols: Iterable[str],
    n: int,
    z: float = 2.0,
) -> DataFrame:
    """Readings > z trailing-window standard deviations from the trailing
    mean.  Mean and mean-of-squares are exact decimal sums over the frame
    (order-free); the variance/sqrt arithmetic is then plain IEEE-754 on
    identical operands, so the flag is engine-deterministic.
    Requires a full window of n readings (the warm-up rows never flag)."""
    # A bounded sliding frame makes Spark re-aggregate the full frame per
    # row (O(n)/row).  Decimal addition is EXACT and associative, so the
    # sliding sum is instead the difference of two running sums:
    # win_sum_i = run_i - run_{i-n} — two O(1)/row window passes over the
    # same sort, bit-identical to the frame aggregate.
    w_ord = _window(partition_cols, order_cols)
    w_run = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    v = F.col(value_col)
    # scale 6 keeps the scaled integer sum < 2^53, so the decimal->double
    # cast is exact in every engine; at scale 12 the cast itself rounds
    # and engines disagree in the last bit
    zero = F.lit(0).cast("decimal(38,6)")
    run_cnt = F.count(v).over(w_run)
    run_v = F.sum(_dec(v)).over(w_run)
    run_q = F.sum(_dec(v * v, 6)).over(w_run)
    staged = df.select(
        "*",
        run_cnt.alias("_rc"),
        run_v.alias("_rv"),
        run_q.alias("_rq"),
    )
    cnt = F.col("_rc") - F.coalesce(F.lag("_rc", n).over(w_ord), F.lit(0))
    win_v = F.col("_rv") - F.coalesce(F.lag("_rv", n).over(w_ord), zero)
    win_q = F.col("_rq") - F.coalesce(F.lag("_rq", n).over(w_ord), zero)
    mean = win_v.cast("double") / cnt
    msq = win_q.cast("double") / cnt
    # materialize the window expressions first: Spark rejects window
    # functions inside WHERE, so the filter references the columns
    return (
        staged.withColumn("_n", cnt)
        .withColumn("win_mean", mean)
        .withColumn("win_var", msq - F.col("win_mean") * F.col("win_mean"))
        .filter(
            (F.col("_n") == n)
            & (F.col("win_var") > 0.0)
            & (
                F.abs(v - F.col("win_mean"))
                > F.lit(z) * F.sqrt(F.col("win_var"))
            )
        )
        .drop("_n", "_rc", "_rv", "_rq")
    )


def resample(
    df: DataFrame,
    value_col: str,
    asset_col: str,
    ts_col: str,
    every: str = "hour",
) -> DataFrame:
    """Downsample to one row per (asset, time bucket): count / exact-mean
    / min / max.  One hash aggregate with map-side partials — the
    canonical 100 TB rollup shape."""
    v = F.col(value_col)
    return (
        df.groupBy(
            F.col(asset_col),
            F.date_trunc(every, F.col(ts_col)).alias("bucket"),
        )
        .agg(
            F.count(v).alias("n"),
            (F.sum(_dec(v)).cast("double") / F.count(v)).alias("avg_value"),
            F.min(v).alias("min_value"),
            F.max(v).alias("max_value"),
        )
    )


def locf(
    df: DataFrame,
    value_col: str,
    partition_cols: Iterable[str],
    order_cols: Iterable[str],
    out_col: str = "filled",
) -> DataFrame:
    """Gap fill by last observation carried forward: nulls take the most
    recent non-null value of the same asset.  last(ignorenulls) over a
    running frame — no loop, no state, one window pass."""
    w = (
        _window(partition_cols, order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(
        out_col, F.last(F.col(value_col), ignorenulls=True).over(w)
    )


def interp(
    df: DataFrame,
    value_col: str,
    ts_col: str,
    partition_cols: Iterable[str],
    order_cols: Iterable[str],
    out_col: str = "filled",
) -> DataFrame:
    """Gap fill by time-weighted linear interpolation: nulls take
    ``prev + (next - prev) * (t - t_prev) / (t_next - t_prev)`` between
    the bracketing non-null readings of the same asset; leading/trailing
    gaps degrade to nearest-observation (backward/forward fill).  Two
    window passes over the same (asset-partitioned, ts-ordered) frame —
    the LOCF shape run once forward and once backward, still no loop and
    no state, so at 100 TB it is the same single hash-partition shuffle
    as ``locf``.

    Determinism: timestamps enter as integer microseconds, so both gap
    deltas are exact; the fraction is one double division and the lerp
    two exactly-rounded IEEE ops — bit-identical in any engine that
    mirrors the expression shape (the DuckDB oracle does).  Tied
    timestamps around a gap (``t_next == t_prev``) fall back to the
    previous observation rather than dividing by zero.
    """
    v = F.col(value_col)
    t_us = F.unix_micros(F.col(ts_col))
    fwd = (
        _window(partition_cols, order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    bwd = (
        _window(partition_cols, order_cols)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    nn_ts = F.when(v.isNotNull(), t_us)
    prev_v = F.last(v, ignorenulls=True).over(fwd)
    prev_t = F.last(nn_ts, ignorenulls=True).over(fwd)
    next_v = F.first(v, ignorenulls=True).over(bwd)
    next_t = F.first(nn_ts, ignorenulls=True).over(bwd)
    frac = (t_us - prev_t).cast("double") / (next_t - prev_t).cast("double")
    return df.withColumn(
        out_col,
        F.when(v.isNotNull(), v)
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .when(next_t == prev_t, prev_v)
        .otherwise(prev_v + (next_v - prev_v) * frac),
    )


def _next_cross(v: np.ndarray, start: int, last: float, tol: float) -> int:
    """First index >= start with |v[i] - last| > tol, else -1.

    Scans in doubling blocks so each chain hop costs O(hop length), never
    O(remaining array) — keeps chain walks linear on emission-dense data.
    NaN compares False, so null readings are skipped without a branch.
    """
    n = len(v)
    i, block = start, 64
    while i < n:
        j = min(n, i + block)
        hits = np.abs(v[i:j] - last) > tol
        if hits.any():
            return i + int(np.argmax(hits))
        i, block = j, block * 2
    return -1


def _deadband_scan(vals, tolerance: float, last: float | None):
    """The deadband kernel shared by ``deadband`` and ``deadband_chunked``:
    chain-hop over the array emitting rows that deviate from the last
    *emitted* value by more than ``tolerance``.  Returns
    (keep_mask, final_last).

    Null readings (NaN after Arrow — ``np.array`` maps None to NaN too)
    are dropped WITHOUT touching state: abs(v - NaN) > tol is False, so a
    null can never emit, and state only advances on emitted values.
    """
    # plain-Python float loop: faster than per-hop numpy calls when
    # emissions are dense (hops of 1-2 rows), and within 2x of vectorized
    # hops when sparse — the robust choice for unknown densities
    lst = np.array(vals, dtype="float64").tolist()
    keep = np.zeros(len(lst), dtype=bool)
    for i, x in enumerate(lst):
        if x != x:  # NaN
            continue
        if last is None or abs(x - last) > tolerance:
            keep[i] = True
            last = x
    return keep, last


def deadband(
    df: DataFrame,
    value_col: str,
    asset_col: str,
    order_cols: Iterable[str],
    tolerance: float,
) -> DataFrame:
    """TRUE deadband suppression: emit a reading only when it differs from
    the last *emitted* reading of the same asset by more than
    ``tolerance`` (first reading per asset always emits).

    The running last-emitted value makes each row's fate depend on an
    unbounded prefix — not expressible as a window function — so this is
    the one operator in the family that runs as a grouped Arrow kernel:
    hash-partition by asset, sort within group, one linear numpy pass.
    State never crosses assets, so each asset streams through one task; a
    single hot asset serializes — ``deadband_chunked`` below is the exact
    parallel decomposition for that shape.
    """
    order_cols = list(order_cols)
    schema = df.schema

    def _scan(pdf):
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        keep, _ = _deadband_scan(pdf[value_col].to_numpy(), tolerance, None)
        return pdf[keep]

    return df.groupBy(asset_col).applyInPandas(_scan, schema=schema)


def deadband_chunked(
    df: DataFrame,
    value_col: str,
    asset_col: str,
    order_cols: Iterable[str],
    tolerance: float,
    ts_col: str = "ts",
    chunk_micros: int = 6 * 3600 * 1_000_000,
) -> DataFrame:
    """Exact deadband with hot-asset parallelism: identical output to
    ``deadband``, but each asset's timeline is split into fixed time
    chunks that scan in parallel, so one hot asset no longer serializes
    into a single task.

    Two passes plus a tiny stitch, all lazy (no driver actions):

    1. *Summaries* (parallel per (asset, chunk), narrow projection): the
       deadband state entering a chunk is just "last emitted value L (or
       none)", and the first emission inside a chunk at incoming state L
       is necessarily at a strict running-max changepoint (first v with
       v - L > tol) or running-min changepoint (first v with L - v > tol)
       — any non-changepoint crossing is preceded by a changepoint that
       crossed first.  So a chunk's entire effect on downstream state is
       captured by its changepoint positions/values plus, per changepoint
       p, the chunk-final emitted value e(p) of a scan that first emits
       at p (memoized chain walk; chains from different starts merge).
    2. *Stitch* (per asset over ONE summary row per chunk, not raw rows):
       fold incoming state across chunks in order.  Serial per asset but
       over n_chunks rows — for a 1e9-row asset in 1e4 chunks this is
       1e4 tiny rows, not 1e9.
    3. *Re-scan* (parallel per (asset, chunk)): join each chunk's
       incoming state back (equi-join on (asset, chunk), co-partitioned
       with the groupBy that follows) and run the plain kernel from that
       state.

    Float-exactness: the stitch evaluates crossings as ``v - L > tol`` /
    ``L - v > tol`` — bit-identical to the kernel's ``abs(v-L) > tol``
    (IEEE abs/negate are exact) — so both passes agree on every edge.

    Worst-case summary size is the changepoint count (bounded by chunk
    rows, O(log n) expected for exchangeable data); e(p) memoized chain
    walks are O(changepoints x chunk) worst, near-linear typically.
    """
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.types import (  # noqa: PLC0415
        ArrayType,
        BooleanType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    order_cols = list(order_cols)
    out_schema = df.schema
    asset_type = df.schema[asset_col].dataType
    # integer div: float division + floor rounds at chunk boundaries for
    # micros near 2^53 (same hazard as the nano-timestamp rebuild)
    chunk_expr = F.expr(f"unix_micros({quote_ident(ts_col)}) div {int(chunk_micros)}")

    nn = (
        df.select(
            F.col(asset_col).alias("_asset"),
            chunk_expr.alias("_chunk"),
            *[F.col(c) for c in order_cols],
            F.col(value_col).cast("double").alias("_v"),
        )
        .filter(F.col("_v").isNotNull() & ~F.isnan(F.col("_v")))
    )

    summary_schema = StructType(
        [
            StructField("_asset", asset_type),
            StructField("_chunk", LongType()),
            StructField("hi_pos", ArrayType(IntegerType())),
            StructField("hi_val", ArrayType(DoubleType())),
            StructField("e_hi", ArrayType(DoubleType())),
            StructField("lo_pos", ArrayType(IntegerType())),
            StructField("lo_val", ArrayType(DoubleType())),
            StructField("e_lo", ArrayType(DoubleType())),
        ]
    )

    def _summary(pdf):
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        vals = pdf["_v"].to_numpy(dtype="float64")
        runmax = np.maximum.accumulate(vals)
        runmin = np.minimum.accumulate(vals)
        first = np.array([True])
        hi = np.flatnonzero(np.concatenate((first, runmax[1:] > runmax[:-1])))
        lo = np.flatnonzero(np.concatenate((first, runmin[1:] < runmin[:-1])))

        memo: dict[int, float] = {}

        def e_of(p: int) -> float:
            # final emitted value of a scan that first emits at p; chains
            # from different starts merge, so memoize per position
            chain = []
            cur: int | None = int(p)
            while cur is not None and cur not in memo:
                chain.append(cur)
                nxt = _next_cross(vals, cur + 1, float(vals[cur]), tolerance)
                cur = nxt if nxt >= 0 else None
            end = memo[cur] if cur is not None else vals[chain[-1]]
            for c in chain:
                memo[c] = end
            return end

        return pd.DataFrame(
            {
                "_asset": [pdf["_asset"].iloc[0]],
                "_chunk": [pdf["_chunk"].iloc[0]],
                "hi_pos": [hi.astype("int32")],
                "hi_val": [vals[hi]],
                "e_hi": [np.array([e_of(p) for p in hi])],
                "lo_pos": [lo.astype("int32")],
                "lo_val": [vals[lo]],
                "e_lo": [np.array([e_of(p) for p in lo])],
            }
        )

    summaries = nn.groupBy("_asset", "_chunk").applyInPandas(
        _summary, schema=summary_schema
    )

    stitch_schema = StructType(
        [
            StructField("_asset", asset_type),
            StructField("_chunk", LongType()),
            StructField("_incoming", DoubleType()),
            StructField("_has_state", BooleanType()),
        ]
    )

    def _stitch(pdf):
        pdf = pdf.sort_values("_chunk", kind="mergesort")
        state: float | None = None
        chunks, incomings, flags = [], [], []
        for row in pdf.to_dict("records"):
            chunks.append(row["_chunk"])
            incomings.append(state)
            flags.append(state is not None)
            if state is None:
                # no prior emission: the chunk's first (non-null) reading
                # emits — position 0, always a changepoint of both lists
                state = float(row["e_hi"][0])
                continue
            ph = pl = None
            for i, v in enumerate(row["hi_val"]):
                if v - state > tolerance:  # same float expr as the kernel
                    ph = i
                    break
            for j, v in enumerate(row["lo_val"]):
                if state - v > tolerance:
                    pl = j
                    break
            if ph is None and pl is None:
                continue  # chunk never crosses: state flows through
            hp = row["hi_pos"][ph] if ph is not None else None
            lp = row["lo_pos"][pl] if pl is not None else None
            if lp is None or (hp is not None and hp <= lp):
                state = float(row["e_hi"][ph])
            else:
                state = float(row["e_lo"][pl])
        return pd.DataFrame(
            {
                "_asset": [pdf["_asset"].iloc[0]] * len(chunks),
                "_chunk": chunks,
                "_incoming": incomings,
                "_has_state": flags,
            }
        )

    states = summaries.groupBy("_asset").applyInPandas(
        _stitch, schema=stitch_schema
    )

    src = df.withColumn("_chunk", chunk_expr)
    # eqNullSafe on BOTH keys: ``deadband`` groups null-asset rows into
    # one real group (and null-ts rows land in the null chunk), so their
    # stitched state must join back too — a plain equality join would
    # silently restart those groups with no incoming state
    joined = src.join(
        states,
        src[asset_col].eqNullSafe(states["_asset"])
        & src["_chunk"].eqNullSafe(states["_chunk"]),
        "left",
    ).drop(states["_chunk"]).drop("_asset")

    out_cols = [f.name for f in out_schema.fields]

    def _scan(pdf):
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        has = pdf["_has_state"].iloc[0]
        # null-safe: chunks with no summary row (all-null values) join no
        # state; pd.NA/None must read as "no incoming state"
        last = (
            float(pdf["_incoming"].iloc[0])
            if (pd.notna(has) and bool(has))
            else None
        )
        keep, _ = _deadband_scan(pdf[value_col].to_numpy(), tolerance, last)
        return pdf[keep][out_cols]

    return joined.groupBy(asset_col, "_chunk").applyInPandas(
        _scan, schema=out_schema
    )
