"""The Reading data model, re-expressed as a Spark schema.

Reference wire shape (built in ``python35_filter.cpp:35-119``; documented
in ``readings35.py:39-51``)::

    {"asset_code": b"lab1",
     "reading": {b"power_set1": 5980},   # int | float | bytes values only
     "id": 1, "ts": 1699999999, "user_ts": 1699999998}

Mapping decisions (SURVEY.md §1.5):

* ``asset_code`` bytes -> ``string`` (normalized at the boundary; only the
  compatibility runner in ``operators.python_filter`` knows bytes existed).
* The mixed-type datapoint bag (int|float|string, ``python35_filter.cpp:57-70``)
  cannot live in one Spark ``MapType`` (homogeneous values).  We carry the
  numeric fast path in ``reading: map<string,double>`` and the string
  datapoints in ``reading_str: map<string,string>`` — lossless for the
  reference's 3-type union (int widens into double for analytics; the
  strict-integer path is preserved by the ``mapInArrow`` runner, whose
  user function sees original Python objects).
* ``ts``/``user_ts`` -> TimestampType: ``user_ts`` is device/event time,
  ``ts`` ingest time (``python35_filter.cpp:94-103``) — exactly the
  event-time/processing-time split Structured Streaming watermarks need.

DIVERGENCE (deliberate, documented): the reference masks returned ints via
``PyLong_AsUnsignedLongMask`` (``python35_filter.cpp:185-188``), silently
wrapping negatives/overflow.  We do NOT replicate the mask — it would
poison aggregates; ints are carried as signed 64-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: Canonical engine schema for a readings DataFrame (SURVEY.md §1.5).
READING_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("asset_code", StringType()),
        StructField("ts", TimestampType()),
        StructField("user_ts", TimestampType()),
        StructField("reading", MapType(StringType(), DoubleType())),
        StructField("reading_str", MapType(StringType(), StringType())),
    ]
)

READING_COLUMNS = [f.name for f in READING_SCHEMA.fields]


def events_to_readings(events: DataFrame) -> DataFrame:
    """Adapt the driver's ``events`` table to the readings model.

    ``events`` is the relational analog of a reading stream (FIXTURES.md §2):
    event_id -> id, event_type -> asset_code, ts -> user_ts (event time),
    value + parsed ``props`` JSON -> numeric datapoints.
    """
    k = F.get_json_object(F.col("props"), "$.k").cast("double")
    return events.select(
        F.col("event_id").alias("id"),
        F.col("event_type").alias("asset_code"),
        F.current_timestamp().alias("ts"),  # ingest time: now
        F.col("ts").alias("user_ts"),  # event time
        F.map_from_arrays(
            F.array(F.lit("value"), F.lit("k")),
            F.array(F.col("value"), k),
        ).alias("reading"),
        F.map_from_arrays(
            F.array(F.lit("user_id")),
            F.array(F.col("user_id").cast("string")),
        ).alias("reading_str"),
    )


def validate_readings(df: DataFrame) -> DataFrame:
    """Schema-check a DataFrame against the readings contract.

    The reference validates every returned batch and rejects the whole
    batch on shape violations (``python35_filter.cpp:132-258``); in Spark
    the schema is static, so validation is a plan-build-time assertion.
    """
    missing = [c for c in READING_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(f"readings DataFrame missing columns: {missing}")
    out = df.select(*READING_COLUMNS)
    mismatched = [
        (f.name, str(out.schema[f.name].dataType), str(f.dataType))
        for f in READING_SCHEMA.fields
        if out.schema[f.name].dataType != f.dataType
    ]
    if mismatched:
        raise ValueError(
            "readings DataFrame dtype mismatches (col, actual, expected): "
            f"{mismatched}"
        )
    return out
