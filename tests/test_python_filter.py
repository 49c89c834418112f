"""Golden tests for the T9 python-filter runner — the reference's own
executable specifications (FIXTURES.md §1): scale35 ("5 -> 35, 10 -> 60"
at scale=5/offset=10, examples/scale35.py:79-89), readings35 (+100),
empty-payload drop, whole-batch reject on bad types, disabled
pass-through, metadata carry/regenerate."""

from __future__ import annotations

import datetime as dt

import pytest

from foglamp_filter_python35_spark.config import FilterConfig
from foglamp_filter_python35_spark.datamodel import READING_SCHEMA
from foglamp_filter_python35_spark.operators.python_filter import (
    run_python_filter,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def make_readings(spark, rows):
    return spark.createDataFrame(rows, READING_SCHEMA)


def base_rows():
    return [
        (1, "lab1", T0, T0, {"power": 5.0}, {}),
        (2, "lab1", T0, T0, {"power": 10.0}, {}),
        (3, "lab2", T0, T0, {"power": 2.0, "temp": 0.0}, {"unit": "C"}),
    ]


# --- the scale35 semantics, written fresh against the documented contract
# (multiply every numeric datapoint by scale, add offset; config via
# set_filter_config) ---

_cfg = {"scale": 5.0, "offset": 10.0}


def set_filter_config(config):
    import json

    _cfg.update(json.loads(config["config"]))
    return True


def scale_filter(readings):
    out = []
    for r in readings:
        newr = {}
        for k, v in r["reading"].items():
            if isinstance(v, (int, float)):
                newr[k] = v * _cfg["scale"] + _cfg["offset"]
            else:
                newr[k] = v
        r = dict(r)
        r["reading"] = newr
        out.append(r)
    return out


def test_scale35_golden(spark):
    df = make_readings(spark, base_rows())
    out = run_python_filter(
        df,
        scale_filter,
        FilterConfig(enable=True, params={"scale": 5.0, "offset": 10.0}),
        set_filter_config=set_filter_config,
    )
    got = {r["id"]: r["reading"] for r in out.collect()}
    assert got[1]["power"] == 35.0  # 5 -> 35 (examples/scale35.py:79-89)
    assert got[2]["power"] == 60.0  # 10 -> 60
    assert got[3]["power"] == 20.0 and got[3]["temp"] == 10.0
    # string datapoints pass through untouched
    strs = {r["id"]: r["reading_str"] for r in out.collect()}
    assert strs[3] == {"unit": "C"}


def test_readings35_add100(spark):
    def add100(readings):
        for r in readings:
            for k in list(r["reading"]):
                v = r["reading"][k]
                if isinstance(v, (int, float)):
                    r["reading"][k] = v + 100
        return readings

    df = make_readings(spark, base_rows())
    out = run_python_filter(df, add100, FilterConfig(enable=True))
    got = {r["id"]: r["reading"] for r in out.collect()}
    assert got[1]["power"] == 105.0 and got[3]["temp"] == 100.0


def test_empty_payload_dropped(spark):
    def drop_lab2(readings):
        for r in readings:
            if r["asset_code"] == "lab2":
                r["reading"] = {}
        return readings

    df = make_readings(spark, base_rows())
    out = run_python_filter(df, drop_lab2, FilterConfig(enable=True))
    ids = sorted(r["id"] for r in out.collect())
    assert ids == [1, 2]  # lab2 reading silently dropped


def test_bad_type_rejects_whole_batch(spark):
    def poison(readings):
        readings[0]["reading"]["power"] = [1, 2, 3]  # disallowed type
        for r in readings[1:]:
            r["reading"]["power"] = 999.0
        return readings

    df = make_readings(spark, base_rows()).coalesce(1)
    out = run_python_filter(df, poison, FilterConfig(enable=True))
    got = {r["id"]: r["reading"] for r in out.collect()}
    # whole batch passed through unmodified — including rows the filter
    # had "successfully" touched (plugin.cpp:338-342)
    assert got[1]["power"] == 5.0 and got[2]["power"] == 10.0


def test_filter_exception_passes_through(spark):
    def boom(readings):
        raise RuntimeError("script error")

    df = make_readings(spark, base_rows())
    out = run_python_filter(df, boom, FilterConfig(enable=True))
    assert sorted(r["id"] for r in out.collect()) == [1, 2, 3]


def test_disabled_is_identity(spark):
    df = make_readings(spark, base_rows())
    out = run_python_filter(df, scale_filter, FilterConfig(enable=False))
    assert out is df


def test_metadata_regenerated_when_absent(spark):
    def strip_meta(readings):
        return [
            {"asset_code": r["asset_code"], "reading": r["reading"]}
            for r in readings
        ]

    df = make_readings(spark, base_rows())
    out = run_python_filter(df, strip_meta, FilterConfig(enable=True))
    rows = out.collect()
    assert all(r["id"] is None for r in rows)  # absent id -> null
    assert all(r["ts"].year >= 2025 for r in rows)  # fresh ingest time


def test_row_count_can_grow(spark):
    def duplicate(readings):
        return readings + [dict(r, id=r.get("id", 0) + 100) for r in readings]

    df = make_readings(spark, base_rows())
    out = run_python_filter(df, duplicate, FilterConfig(enable=True))
    assert out.count() == 6  # batch-in/any-rows-out (T9)


def test_compat_bytes_wire(spark):
    def probe(readings):
        # encode the evidence INTO the data — worker-side closures never
        # reach the driver, so a side-channel dict cannot assert anything
        for r in readings:
            r["reading"] = {
                b"asset_was_bytes": 1.0 if isinstance(r["asset_code"], bytes) else 0.0,
                b"keys_were_bytes": 1.0
                if all(isinstance(k, bytes) for k in r["reading"])
                else 0.0,
            }
        return readings

    df = make_readings(spark, base_rows()).coalesce(1)
    out = run_python_filter(
        df, probe, FilterConfig(enable=True), compat_bytes=True
    ).collect()
    assert out  # probe returned valid wire, so no fallback fired
    for r in out:
        assert r["reading"]["asset_was_bytes"] == 1.0
        assert r["reading"]["keys_were_bytes"] == 1.0

    # and the codec itself round-trips bytes keys/values
    pdf = df.limit(1).toPandas()
    from foglamp_filter_python35_spark.operators.python_filter import _to_wire

    wire = _to_wire(pdf, compat_bytes=True)
    assert isinstance(wire[0]["asset_code"], bytes)
    assert all(isinstance(k, bytes) for k in wire[0]["reading"])


def test_set_filter_config_must_return_true(spark):
    df = make_readings(spark, base_rows())
    with pytest.raises(ValueError, match="set_filter_config"):
        run_python_filter(
            df,
            scale_filter,
            FilterConfig(enable=True),
            set_filter_config=lambda cfg: None,
        )


def test_coerce_to_long_survives_nan_and_overflow(spark):
    """T8 under ANSI mode: NaN/Inf/overflow truncate to null, never abort."""
    import datetime as dt

    from foglamp_filter_python35_spark.datamodel import READING_SCHEMA
    from foglamp_filter_python35_spark.operators.readings import (
        coerce_numeric_to_long,
    )

    t = dt.datetime(2024, 1, 1)
    rows = [
        (1, "a", t, t, {"ok": 3.7, "nan": float("nan"), "big": 1e300}, {}),
    ]
    df = spark.createDataFrame(rows, READING_SCHEMA)
    out = coerce_numeric_to_long(df).collect()[0]["reading"]
    assert out["ok"] == 3.0
    assert out["nan"] is None
    assert out["big"] is None


def test_add_datapoint_overwrites_existing_key(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from foglamp_filter_python35_spark.datamodel import READING_SCHEMA
    from foglamp_filter_python35_spark.operators.readings import add_datapoint

    t = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, "a", t, t, {"value": 1.0, "other": 2.0}, {})], READING_SCHEMA
    )
    out = add_datapoint(df, "value", F.lit(99.0)).collect()[0]["reading"]
    assert out == {"value": 99.0, "other": 2.0}


def test_windowed_rollup_tolerates_empty_numeric_map(spark):
    import datetime as dt

    from foglamp_filter_python35_spark.datamodel import READING_SCHEMA
    from foglamp_filter_python35_spark.streaming.pipeline import windowed_rollup

    t = dt.datetime(2024, 1, 1)
    rows = [
        (1, "a", t, t, {"value": 5.0}, {}),
        (2, "a", t, t, {}, {"note": "string-only reading"}),
    ]
    df = spark.createDataFrame(rows, READING_SCHEMA)
    got = windowed_rollup(df, window="1 hour").collect()
    assert len(got) == 1
    assert got[0]["n_readings"] == 2
    assert got[0]["sum_first_dp"] == 5.0  # null from the empty map ignored


def test_default_timestamp_is_utc_regardless_of_host_tz():
    """T7 default stamp: readings returned without ts/user_ts get "now" in
    UTC.  Regression for the naive-.timestamp() bug where a non-UTC host
    timezone shifted the stamp by the local UTC offset (ADVICE r3)."""
    import os
    import time

    from foglamp_filter_python35_spark.operators.python_filter import (
        _wire_to_batch,
    )

    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"  # UTC-5/-4 — offset never 0
    time.tzset()
    try:
        batch = _wire_to_batch([{"asset_code": "a", "reading": {"v": 1.0}}])
        stamped = batch.column("ts")[0].as_py().replace(tzinfo=None)
        now_utc = dt.datetime.now(tz=dt.timezone.utc).replace(tzinfo=None)
        assert abs((stamped - now_utc).total_seconds()) < 60
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()


def test_wire_is_epoch_seconds_under_non_utc_session_tz(spark):
    """The wire carries epoch seconds and the T7 stamp is UTC "now" under
    any ``spark.sql.session.timeZone``: Arrow hands the runner epoch µs,
    so no session offset enters either direction.  Pre-1970 stamps floor
    (…:58.5 -> -2), and NULL id/ts and a NULL ``reading`` map cross the
    wire as absent keys / an empty payload part."""
    import time

    from pyspark.sql import functions as F

    utc = dt.timezone.utc
    t1 = dt.datetime(2024, 1, 1, 12, 0, 0, tzinfo=utc)  # 1704110400
    pre = dt.datetime(1969, 12, 31, 23, 59, 58, 500000, tzinfo=utc)
    rows = [
        (1, "a", t1, t1, {"v": 1.0}, {}),
        (2, "a", pre, pre, {"v": 2.0}, {}),
        (None, "a", None, t1, None, {"unit": "C"}),
    ]

    def probe(readings):
        for r in readings:
            r["reading"]["ts_seen"] = float(r.get("ts", -999))
            r["reading"]["uts_seen"] = float(r.get("user_ts", -999))
            r["reading"]["id_seen"] = float("id" in r)
        return readings

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = make_readings(spark, rows).coalesce(1)
        out = run_python_filter(df, probe, FilterConfig(enable=True)).select(
            "id",
            F.unix_micros("ts").alias("ts_us"),
            F.unix_micros("user_ts").alias("uts_us"),
            "reading",
            "reading_str",
        )
        got = sorted(
            out.collect(),
            key=lambda r: (r["reading"]["uts_seen"], r["reading"]["id_seen"]),
        )
        now_us = time.time() * 1_000_000
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)

    pre_row, null_row, t1_row = got
    assert t1_row["reading"] == {
        "v": 1.0, "ts_seen": 1704110400.0, "uts_seen": 1704110400.0,
        "id_seen": 1.0,
    }
    assert t1_row["ts_us"] == t1_row["uts_us"] == 1704110400 * 1_000_000
    assert pre_row["reading"]["ts_seen"] == -2.0  # floored, not truncated
    assert pre_row["ts_us"] == -2_000_000  # the wire's seconds, written back
    # NULL reading map -> only the probe's datapoints; NULL id stays null;
    # NULL ts -> absent from the wire -> stamped with UTC now (T7)
    assert null_row["id"] is None
    assert null_row["reading"] == {
        "ts_seen": -999.0, "uts_seen": 1704110400.0, "id_seen": 0.0,
    }
    assert null_row["reading_str"] == {"unit": "C"}
    assert null_row["uts_us"] == 1704110400 * 1_000_000
    assert abs(null_row["ts_us"] - now_us) < 60 * 1_000_000


def test_small_input_skips_spreading_shuffle(spark, monkeypatch, tmp_path):
    """The pre-mapInPandas repartition is gated on the optimizer's size
    estimate: below a few Arrow batches the shuffle's fixed cost exceeds
    what it saves (the r4 driver bench measured the 100k-row probe
    regressing under load), so a small input must keep its partitioning.
    A parquet-backed frame carries footer-derived stats; a LocalRelation
    without stats reports Long.Max and keeps the old always-repartition
    behavior (the safe default), asserted at the end."""
    from foglamp_filter_python35_spark.operators import python_filter as pf

    path = str(tmp_path / "readings")
    make_readings(spark, base_rows()).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert pf._estimated_bytes(df) < pf._REPARTITION_MIN_BYTES
    out = run_python_filter(df, scale_filter, FilterConfig(enable=True))
    assert out.rdd.getNumPartitions() == 1

    # force the "large input" decision on the same frame: the spreading
    # repartition must reappear, sized to the estimate (a tiny frame
    # gets the 2-task floor, not blanket defaultParallelism)
    monkeypatch.setattr(pf, "_REPARTITION_MIN_BYTES", 0)
    out_big = run_python_filter(df, scale_filter, FilterConfig(enable=True))
    est = pf._estimated_bytes(df)
    target = min(
        spark.sparkContext.defaultParallelism,
        max(2, est // pf._REPARTITION_BYTES_PER_TASK),
    )
    assert out_big.rdd.getNumPartitions() == target
    # both plans produce identical rows — the gate is perf-only
    key = lambda r: (r["id"] or 0)
    assert sorted(out.collect(), key=key) == sorted(
        out_big.collect(), key=key
    )
    # stats-less plans (LocalRelation) estimate Long.Max -> repartition,
    # the pre-gate behavior, so unknown sizes never lose parallelism
    monkeypatch.undo()
    local = make_readings(spark, base_rows()).coalesce(1)
    assert pf._estimated_bytes(local) >= pf._REPARTITION_MIN_BYTES
    out_local = run_python_filter(local, scale_filter, FilterConfig(enable=True))
    # unknown estimate (Long.Max) caps at defaultParallelism
    assert (
        out_local.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_estimated_bytes_fallback_is_narrow():
    """Round-5 advice: the size probe reaches private JVM internals, so
    its fallback must cover exactly the Spark-version-drift failure
    shapes (AttributeError on the wrapper chain, Py4J gateway errors) —
    an unrelated exception (e.g. an analysis failure worth surfacing)
    must PROPAGATE, not be swallowed into the 8 EiB fallback."""
    import pytest
    from py4j.protocol import Py4JError

    from foglamp_filter_python35_spark.operators import python_filter as pf

    class _NoJdf:
        @property
        def _jdf(self):
            raise AttributeError("no _jdf on this Spark version")

    class _GatewayDown:
        @property
        def _jdf(self):
            raise Py4JError("gateway connection dropped")

    class _AnalysisBoom:
        @property
        def _jdf(self):
            raise ValueError("analysis failure that must surface")

    assert pf._estimated_bytes(_NoJdf()) == 1 << 62
    assert pf._estimated_bytes(_GatewayDown()) == 1 << 62
    with pytest.raises(ValueError, match="must surface"):
        pf._estimated_bytes(_AnalysisBoom())
