"""Row-level reading transformations T1–T8 (SURVEY.md §2.2).

Every operator here is pure DataFrame API — it stays inside whole-stage
codegen, pushes filters to the scan, and never touches a Python worker.
The reference evidence for each contract is cited per function.

Operators take and return the canonical readings DataFrame
(``datamodel.READING_SCHEMA``) unless noted.  Each is also registered in
``registry.REGISTRY`` under its T-number name so pipelines can be declared
by name + config (the reference's script-name -> callable resolution,
``python35_filter.cpp:447-626``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from foglamp_filter_python35_spark.config import FilterConfig
from foglamp_filter_python35_spark.registry import REGISTRY

# ---------------------------------------------------------------------------
# T1 — affine scale: new = old * scale + offset on every numeric datapoint.
# Reference: examples/scale35.py:110-121 (defaults scale=5 offset=10,
# :99-108; documented I/O "5 -> 35, 10 -> 60" at :79-89).
# ---------------------------------------------------------------------------


def scale_readings(
    df: DataFrame, scale: float = 5.0, offset: float = 10.0
) -> DataFrame:
    """Affine transform of every numeric datapoint in the ``reading`` map.

    ``transform_values`` is a Catalyst higher-order function — it rewrites
    the map in the JVM with no shuffle and no Python.
    """
    return df.withColumn(
        "reading",
        F.transform_values(
            F.col("reading"), lambda _k, v: v * F.lit(scale) + F.lit(offset)
        ),
    )


# ---------------------------------------------------------------------------
# T2 — add constant: new = old + c (readings35.py:59-66 adds 100).
# ---------------------------------------------------------------------------


def add_constant(df: DataFrame, constant: float = 100.0) -> DataFrame:
    return df.withColumn(
        "reading",
        F.transform_values(F.col("reading"), lambda _k, v: v + F.lit(constant)),
    )


# ---------------------------------------------------------------------------
# T3 — asset filter: keep readings whose asset_code is in a config list.
# Reference: readings35.py:53-57 exposes filter_config['asset_code'];
# applying it is the script's job (the contract surface).
# Catalyst compiles isin() to an in-set predicate that is pushed down to
# the parquet scan.
# ---------------------------------------------------------------------------


def asset_filter(df: DataFrame, assets: list[str]) -> DataFrame:
    return df.filter(F.col("asset_code").isin(assets))


# ---------------------------------------------------------------------------
# T4 — row drop by arbitrary predicate (the "discard data" contract,
# plugin.cpp:113-116; readings35.py:49) is a bare ``df.filter(pred)``.
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# T5 — projection over datapoints: add/remove keys inside the
# reading map (plugin.cpp:51-52 — output is whatever dict the script
# returns; rebuild at python35_filter.cpp:182-216).
# ---------------------------------------------------------------------------


def project_datapoints(df: DataFrame, keep: list[str]) -> DataFrame:
    """Keep only the named datapoints (map_filter, JVM-side)."""
    keep_arr = F.array(*[F.lit(k) for k in keep])
    return df.withColumn(
        "reading",
        F.map_filter(F.col("reading"), lambda k, _v: F.array_contains(keep_arr, k)),
    )


def add_datapoint(df: DataFrame, name: str, value: Column) -> DataFrame:
    """Add or OVERWRITE a datapoint (last-write-wins, matching the
    reference's dict assignment).  The existing key is filtered out
    before map_concat — Spark's default mapKeyDedupPolicy=EXCEPTION makes
    a bare map_concat throw DUPLICATED_MAP_KEY at runtime otherwise."""
    return df.withColumn(
        "reading",
        F.map_concat(
            F.map_filter(F.col("reading"), lambda k, _v: k != F.lit(name)),
            F.map_from_arrays(F.array(F.lit(name)), F.array(value.cast("double"))),
        ),
    )


# ---------------------------------------------------------------------------
# T6 — empty-payload elimination: a reading whose datapoint dict comes back
# empty is silently dropped (python35_filter.cpp:178, :250-254).
# ---------------------------------------------------------------------------


def drop_empty_payload(df: DataFrame) -> DataFrame:
    return df.filter(
        (F.size(F.map_keys(F.col("reading"))) > 0)
        | (F.size(F.map_keys(F.col("reading_str"))) > 0)
    )


# ---------------------------------------------------------------------------
# T7 — metadata preservation / regeneration: id/ts/user_ts are copied onto
# the output reading iff present in the returned dict; otherwise a new
# reading gets fresh identity/timestamps (python35_filter.cpp:222-244;
# header comment :127-131 "new readings have new timestamps, new UUID").
# The 'present in result' branch is the identity (registered below).
# ---------------------------------------------------------------------------


def regenerate_metadata(df: DataFrame) -> DataFrame:
    """The 'absent from result' branch: new id + fresh ingest timestamp.

    ``monotonically_increasing_id`` is partition-local and collision-free
    across a cluster (no driver coordination — scales to any executor
    count), matching the reference's per-reading new-UUID behavior.
    """
    return df.withColumn("id", F.monotonically_increasing_id()).withColumn(
        "ts", F.current_timestamp()
    )


# ---------------------------------------------------------------------------
# T8 — type coercion.  The reference accepts int/float/bytes only and
# rejects everything else batch-wide (python35_filter.cpp:185-203).
# DIVERGENCE: we do not replicate PyLong_AsUnsignedLongMask wrap-around
# (see datamodel docstring); int coercion is signed truncation-toward-zero.
# ---------------------------------------------------------------------------


def coerce_numeric_to_long(df: DataFrame) -> DataFrame:
    """Truncate every numeric datapoint to a signed 64-bit integer value
    (carried as double in the map to keep the map homogeneous).

    try_cast, not cast: under Spark 4's default ANSI mode a bare cast
    raises CAST_OVERFLOW on NaN/Inf/|v|>2^63 and would abort the whole
    batch; the documented T8 contract is truncation with null for
    unrepresentable values."""
    return df.withColumn(
        "reading",
        F.transform_values(
            F.col("reading"),
            lambda _k, v: v.try_cast("long").cast("double"),
        ),
    )


# ---------------------------------------------------------------------------
# registry wiring (names mirror SURVEY.md §2.2)
# ---------------------------------------------------------------------------


def _reg(name: str, fn) -> None:
    REGISTRY.register(name, fn)


_reg("scale", lambda df, cfg: scale_readings(
    df, float(cfg.get("scale", 5.0)), float(cfg.get("offset", 10.0))))
_reg("add_constant", lambda df, cfg: add_constant(
    df, float(cfg.get("constant", 100.0))))
_reg("asset_filter", lambda df, cfg: asset_filter(df, list(cfg.get("assets", []))))
_reg("drop_empty_payload", lambda df, cfg: drop_empty_payload(df))
_reg("project_datapoints", lambda df, cfg: project_datapoints(
    df, list(cfg.get("keep", []))))
_reg("coerce_numeric_to_long", lambda df, cfg: coerce_numeric_to_long(df))
_reg("regenerate_metadata", lambda df, cfg: regenerate_metadata(df))
_reg("identity", lambda df, cfg: df)


# --- signal-family stages over the readings schema.  They run inside
# foreachBatch (a batch context), so window/lag semantics are PER
# MICRO-BATCH — exactly the reference's per-ReadingSet filter scope
# (each plugin_ingest call sees one batch, plugin.cpp:226-352);
# cross-batch state belongs to T10 (applyInPandasWithState). ---


def _signal_stage(df: DataFrame, run) -> DataFrame:
    """Lift a flat-column signal operator to the readings schema: expose
    reading['value'] as a column, run, restore the envelope."""
    cols = df.columns
    flat = df.withColumn("_v", F.col("reading")["value"])
    return run(flat).select(*cols)


def _deadband_stage(df: DataFrame, cfg) -> DataFrame:
    from foglamp_filter_python35_spark.functions.signal import deadband

    return _signal_stage(
        df,
        lambda flat: deadband(
            flat,
            "_v",
            "asset_code",
            ["user_ts", "id"],
            float(cfg.get("tolerance", 10.0)),
        ),
    )


def _change_detect_stage(df: DataFrame, cfg) -> DataFrame:
    from foglamp_filter_python35_spark.functions.signal import change_detect

    return _signal_stage(
        df,
        lambda flat: change_detect(
            flat,
            "_v",
            ["asset_code"],
            ["user_ts", "id"],
            float(cfg.get("threshold", 10.0)),
        ),
    )


def _threshold_alarm_stage(df: DataFrame, cfg) -> DataFrame:
    """Keep only out-of-band readings and tag the violated bound as a
    string datapoint (reading_str['alarm'])."""
    lo = float(cfg.get("lo", 0.0))
    hi = float(cfg.get("hi", 100.0))
    v = F.col("reading")["value"]
    tag = F.when(v < F.lit(lo), F.lit("low")).otherwise(F.lit("high"))
    return df.filter((v < F.lit(lo)) | (v > F.lit(hi))).withColumn(
        "reading_str",
        F.map_concat(
            F.map_filter(F.col("reading_str"), lambda k, _v: k != F.lit("alarm")),
            F.map_from_arrays(F.array(F.lit("alarm")), F.array(tag)),
        ),
    )


_reg("deadband", _deadband_stage)
_reg("change_detect", _change_detect_stage)
_reg("threshold_alarm", _threshold_alarm_stage)
