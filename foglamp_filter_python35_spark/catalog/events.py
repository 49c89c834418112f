"""Reference-semantics queries over the ``events`` table (T1–T8).

``events`` is the relational analog of the reference's readings stream
(FIXTURES.md §2): event_id -> id, event_type -> asset_code, ts -> event
time, value + ``props`` JSON -> datapoints.  Each query exercises one
operator contract from SURVEY.md §2.2 with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from foglamp_filter_python35_spark.catalog import QuerySpec, load

# --- T1: scale35 semantics (examples/scale35.py:110-121; docs :79-89 ---
# "using scale = 5 and offset = 10: 5 -> 35, 10 -> 60") + T3 asset filter
# (readings35.py:53-57).  Filter is pushed to the parquet scan; the affine
# map is whole-stage-codegen arithmetic.

SCALE35_ASSETS = ("error", "signup")


def q_scale35(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type").isin(*SCALE35_ASSETS))
        .select(
            F.col("event_id"),
            F.col("event_type").alias("asset_code"),
            (F.col("value") * F.lit(5.0) + F.lit(10.0)).alias("scaled_value"),
        )
    )


O_SCALE35 = """
SELECT event_id,
       event_type AS asset_code,
       value * 5.0 + 10.0 AS scaled_value
FROM events
WHERE event_type IN ('error', 'signup')
"""

# --- T2: readings35 add-constant (readings35.py:59-66 adds 100) ---


def q_add100(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id"),
        (F.col("value") + F.lit(100.0)).alias("value_plus_100"),
    )


O_ADD100 = """
SELECT event_id, value + 100.0 AS value_plus_100 FROM events
"""

# --- T3/T4: predicate filter + row drop ---


def q_asset_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 100.0)
    ).select("event_id", "user_id", "event_type", "value")


O_ASSET_FILTER = """
SELECT event_id, user_id, event_type, value
FROM events
WHERE event_type = 'purchase' AND value > 100.0
"""

# --- T5: projection over datapoints (props JSON payload) ---


def q_payload_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.select(F.col("event_id"), k.alias("k_val"), F.col("value"))
        .filter(F.col("k_val") >= 50)
    )


O_PAYLOAD_PROJECTION = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
       value
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
"""

# --- T6: empty-payload elimination (python35_filter.cpp:178, :250-254).
# The events analog: a payload whose parsed datapoint bag is empty/zero is
# dropped from the output.


def q_empty_payload_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.withColumn("k_val", k)
        .filter(F.col("k_val").isNotNull() & (F.col("k_val") != 0))
        .select("event_id", "event_type", "k_val")
    )


O_EMPTY_PAYLOAD_DROP = """
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
  AND CAST(json_extract_string(props, '$.k') AS BIGINT) != 0
"""

# --- T7: metadata carry (python35_filter.cpp:222-244): id/ts/user_ts pass
# through the transform untouched when present in the result.


def q_metadata_carry(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("id"),
        F.col("ts").alias("user_ts"),
        F.col("event_type").alias("asset_code"),
        (F.col("value") * 2.0).alias("doubled"),
    )


O_METADATA_CARRY = """
SELECT event_id AS id, ts AS user_ts, event_type AS asset_code,
       value * 2.0 AS doubled
FROM events
"""

# --- T8: type coercion (python35_filter.cpp:185-196).  Signed truncation
# toward zero (deliberate divergence from the reference's unsigned mask —
# see datamodel.py docstring).  floor/ceil/abs are bit-deterministic.


def q_type_coercion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = F.col("value")
    return ev.select(
        F.col("event_id"),
        v.cast("long").alias("value_long"),
        F.floor(v).cast("long").alias("value_floor"),
        F.ceil(v).cast("long").alias("value_ceil"),
        F.abs(v).alias("value_abs"),
    )


O_TYPE_COERCION = """
SELECT event_id,
       CAST(TRUNC(value) AS BIGINT) AS value_long,
       CAST(FLOOR(value) AS BIGINT) AS value_floor,
       CAST(CEIL(value) AS BIGINT) AS value_ceil,
       ABS(value) AS value_abs
FROM events
"""

# --- T9: the same scale35 semantics, but executed through the faithful
# python-filter runner (mapInArrow over the readings wire contract) —
# proving the arbitrary-Python surface produces oracle-exact results.


def _pf_scale(readings):
    for r in readings:
        new = {}
        for k, v in r["reading"].items():
            new[k] = v * 5.0 + 10.0 if isinstance(v, (int, float)) else v
        r["reading"] = new
    return readings


def q_python_filter_scale35(spark: SparkSession, sf_dir: str) -> DataFrame:
    from foglamp_filter_python35_spark.config import FilterConfig
    from foglamp_filter_python35_spark.datamodel import events_to_readings
    from foglamp_filter_python35_spark.operators.python_filter import (
        run_python_filter,
    )

    readings = events_to_readings(load(spark, sf_dir, "events"))
    out = run_python_filter(readings, _pf_scale, FilterConfig(enable=True))
    return out.select(
        F.col("id"),
        F.col("asset_code"),
        F.col("reading")["value"].alias("scaled_value"),
    )


O_PYTHON_FILTER_SCALE35 = """
SELECT event_id AS id,
       event_type AS asset_code,
       value * 5.0 + 10.0 AS scaled_value
FROM events
"""

SPECS = [
    QuerySpec("scale35", q_scale35, O_SCALE35, headline=True),
    QuerySpec(
        "python_filter_scale35", q_python_filter_scale35,
        O_PYTHON_FILTER_SCALE35, headline=True,
    ),
    QuerySpec("readings35_add100", q_add100, O_ADD100),
    QuerySpec("asset_filter", q_asset_filter, O_ASSET_FILTER),
    QuerySpec("payload_projection", q_payload_projection, O_PAYLOAD_PROJECTION),
    QuerySpec("empty_payload_drop", q_empty_payload_drop, O_EMPTY_PAYLOAD_DROP),
    QuerySpec("metadata_carry", q_metadata_carry, O_METADATA_CARRY),
    QuerySpec("type_coercion", q_type_coercion, O_TYPE_COERCION),
]
