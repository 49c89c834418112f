"""Connector-layer tests: schema-enforced readers, partitioned writer
with pruning evidence, rate-source readings stream, kafka gating, S6
asset tracking."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from foglamp_filter_python35_spark.catalog import load
from foglamp_filter_python35_spark.datamodel import events_to_readings
from foglamp_filter_python35_spark.plans import explain as E
from foglamp_filter_python35_spark.sources import readers as R
from foglamp_filter_python35_spark.streaming.pipeline import (
    AssetTracker,
    observe_readings,
)


def test_readings_parquet_roundtrip(spark, sf_smoke, tmp_path):
    readings = events_to_readings(load(spark, sf_smoke, "events"))
    path = str(tmp_path / "readings")
    readings.write.parquet(path)
    back = R.read_readings_parquet(spark, path)
    assert back.count() == 1000
    assert [f.name for f in back.schema.fields] == [
        "id", "asset_code", "ts", "user_ts", "reading", "reading_str",
    ]


def test_readings_parquet_rejects_wrong_schema(spark, sf_smoke, tmp_path):
    path = str(tmp_path / "not_readings")
    load(spark, sf_smoke, "events").write.parquet(path)
    with pytest.raises(ValueError, match="missing columns"):
        R.read_readings_parquet(spark, path)


def test_readings_parquet_rejects_wrong_value_type(spark, tmp_path):
    """All six columns present, but ``reading`` carries string values:
    the dtype check, not the column-name check, rejects it."""
    import datetime as dt

    path = str(tmp_path / "string_readings")
    t = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(1, "a", t, t, {"v": "1.5"}, {})],
        "id long, asset_code string, ts timestamp, user_ts timestamp, "
        "reading map<string,string>, reading_str map<string,string>",
    ).write.parquet(path)
    with pytest.raises(ValueError, match="dtype mismatches"):
        R.read_readings_parquet(spark, path)


@pytest.mark.slow
def test_partitioned_writer_enables_pruning(spark, sf_smoke, tmp_path):
    readings = events_to_readings(load(spark, sf_smoke, "events"))
    path = str(tmp_path / "parts")
    R.write_readings_partitioned(readings, path)
    back = spark.read.parquet(path).filter(F.col("asset_code") == "error")
    plan = E.formatted_plan(back)
    # partition filter, not a data filter: pruned at planning
    assert "PartitionFilters" in plan and "asset_code" in plan.split(
        "PartitionFilters"
    )[1].split("\n")[0]
    total = spark.read.parquet(path).count()
    assert total == 1000


def test_rate_readings_stream_schema(spark, tmp_path):
    stream = R.stream_rate_readings(spark, rows_per_second=100)
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_readings")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        import time

        deadline = time.time() + 20
        while time.time() < deadline:
            if spark.sql("SELECT * FROM rate_readings").count() > 0:
                break
            time.sleep(0.5)
        rows = spark.sql("SELECT * FROM rate_readings").collect()
    finally:
        q.stop()
    assert rows, "rate source produced no rows in 20s"
    r = rows[0]
    assert r["asset_code"].startswith("asset")
    assert "value" in r["reading"]


def test_kafka_reader_is_gated(spark):
    with pytest.raises(RuntimeError, match="kafka connector unavailable"):
        R.stream_kafka_readings(spark, "localhost:9092", "t", StructType([]))


def test_kafka_option_plumbing_jar_free(spark):
    """r13 verdict stretch: everything on the Kafka path EXCEPT the
    connector ``.load()`` is exercised without the jar — the option
    map the reader would pass, and the full value-side parse driven
    with a batch DataFrame of Kafka's exact record shape."""
    opts = R.kafka_source_options(
        "h1:9092,h2:9092",
        "readings",
        starting_offsets="earliest",
        maxOffsetsPerTrigger="5000",
        **{"kafka.security.protocol": "SASL_SSL"},
    )
    assert opts == {
        "kafka.bootstrap.servers": "h1:9092,h2:9092",
        "subscribe": "readings",
        "startingOffsets": "earliest",
        "maxOffsetsPerTrigger": "5000",
        "kafka.security.protocol": "SASL_SSL",
    }
    # the gated reader builds its options through the same function —
    # a change to one that forgets the other shows up as a gate test
    # still passing but this dict diverging
    assert R.kafka_source_options("b:9092", "t") == {
        "kafka.bootstrap.servers": "b:9092",
        "subscribe": "t",
        "startingOffsets": "latest",
    }

    # extra keys CONTRADICTING the core options fail loudly instead
    # of silently masking the positional arguments (r15 ADVICE)
    with pytest.raises(ValueError, match="subscribe"):
        R.kafka_source_options("b:9092", "t", subscribe="other-topic")
    with pytest.raises(ValueError, match="startingOffsets"):
        R.kafka_source_options(
            "b:9092", "t", **{"startingOffsets": "earliest"}
        )
    # ...but a collision whose value EQUALS the resolved core value is
    # an idempotent config dict, not an ambiguity — it passes (r16
    # ADVICE: config-driven option dicts restate defaults)
    assert R.kafka_source_options(
        "b:9092", "t", subscribe="t", **{"startingOffsets": "latest"}
    ) == {
        "kafka.bootstrap.servers": "b:9092",
        "subscribe": "t",
        "startingOffsets": "latest",
    }
    # equal-but-differently-TYPED restatement also passes (r17 ADVICE:
    # equality compares the STRINGIFIED values — the form .option()
    # hands the connector anyway) ...
    typed = R.kafka_source_options(
        "b:9092", "t", starting_offsets="100", **{"startingOffsets": 100}
    )
    assert str(typed["startingOffsets"]) == "100"
    # ...while a typed CONTRADICTION still fails loudly
    with pytest.raises(ValueError, match="startingOffsets"):
        R.kafka_source_options(
            "b:9092", "t", starting_offsets="100",
            **{"startingOffsets": 200},
        )

    payloads = [
        b'{"id":1,"asset_code":"pump","ts":1000,"user_ts":1000,'
        b'"reading":{"value":1.5},"reading_str":{}}',
        b"{not json",                    # malformed: dropped
        b'{"id":2,"ts":2000}',           # no asset_code: dropped
    ]
    records = spark.createDataFrame(
        [("k".encode(), p, "readings", 0, i, None, 0)
         for i, p in enumerate(payloads)],
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp, timestampType int",
    )
    good = R.parse_kafka_records(records).collect()
    assert [r["asset_code"] for r in good] == ["pump"]
    assert good[0]["reading"]["value"] == 1.5

    custom = R.parse_kafka_records(
        records,
        StructType([StructField("id", LongType())]),
    )
    ids = [r["id"] for r in custom.collect()]
    assert sorted(i for i in ids if i is not None) == [1, 2]
    assert None in ids  # malformed value -> PERMISSIVE null field


def test_asset_tracker_in_out(spark, sf_smoke):
    readings = events_to_readings(load(spark, sf_smoke, "events"))
    tracker = AssetTracker()
    tracker.record("scale", "in", readings)
    filtered = readings.filter(F.col("asset_code") != "error")
    tracker.record("scale", "out", filtered)
    assert "error" in tracker.assets_seen("scale")
    outs = {a for (s, a, d, _n) in tracker.tuples if d == "out"}
    assert "error" not in outs and len(outs) == 4


def test_observe_metrics_batch(spark, sf_smoke):
    from pyspark.sql import Observation

    obs = Observation()
    readings = observe_readings(
        events_to_readings(load(spark, sf_smoke, "events")), obs
    )
    readings.write.format("noop").mode("overwrite").save()
    # the lineage metrics must be real: row count exact, distinct assets
    # approximate (HLL) but tight at this cardinality
    got = obs.get
    assert got["n_readings"] == 1000
    assert got["n_assets"] == 5
    # (in streaming the same metrics surface in
    #  StreamingQueryProgress.observedMetrics[name])


def test_readings_jsonl_valid_and_corrupt_split(spark, tmp_path):
    """S1 wire-format ingest: good lines land in READING_SCHEMA, a broken
    line is quarantined per-line (not whole-batch) per the 100 TB note in
    read_readings_jsonl."""
    from foglamp_filter_python35_spark.datamodel import READING_SCHEMA
    from foglamp_filter_python35_spark.sources.readers import (
        read_readings_jsonl,
    )

    p = tmp_path / "wire.jsonl"
    p.write_text(
        '{"id": 1, "asset_code": "lab1", "ts": 1699999999, '
        '"user_ts": 1699999998, "reading": {"power": 5980.0}}\n'
        '{"id": 2, "asset_code": "lab2", "ts": 1699999999, '
        '"user_ts": 1699999998, "reading_str": {"state": "on"}}\n'
        '{"id": 3, "asset_code": "lab3", "ts": 1699999999, '
        '"user_ts": 1699999998, "reading": {"power": 1.0}, '
        '"_corrupt": "payload key, not the capture column"}\n'
        "{this is not json\n"
        "{}\n"
        '{"id": 9, "user_ts": 1699999998, "reading": {"power": 2.0}}\n'
        '{"id": 10, "asset_code": null, "ts": 1699999999, '
        '"reading": {"power": 3.0}}\n'
        '{"id": 11, "asset_code": "lab4", "ts": null, '
        '"reading": {"power": 4.0}}\n'
    )
    good, bad = read_readings_jsonl(spark, str(p))
    rows = {r["id"]: r for r in good.collect()}
    # id 3 proves a legitimate "_corrupt" wire key is NOT quarantined
    assert set(rows) == {1, 2, 3}
    # nullability flags are advisory in Spark; names+types must match
    assert good.schema.simpleString() == READING_SCHEMA.simpleString()
    assert rows[1]["reading"]["power"] == 5980.0
    assert rows[1]["reading_str"] == {}  # absent map -> empty, not null
    assert rows[2]["reading_str"] == {"state": "on"}
    assert rows[1]["ts"].year == 2023  # epoch seconds decoded
    # rejects: malformed JSON, empty object (no asset/ts), missing ts,
    # and EXPLICIT-null asset_code / ts (JSON null, not absent key)
    assert sorted(r[0] for r in bad.collect()) == sorted(
        [
            "{this is not json",
            "{}",
            '{"id": 9, "user_ts": 1699999998, "reading": {"power": 2.0}}',
            '{"id": 10, "asset_code": null, "ts": 1699999999, '
            '"reading": {"power": 3.0}}',
            '{"id": 11, "asset_code": "lab4", "ts": null, '
            '"reading": {"power": 4.0}}',
        ]
    )


def test_stream_readings_jsonl_good_and_bad_streams(spark, tmp_path):
    """Streaming wire ingest: both the valid stream and the corrupt
    quarantine stream drain the same directory independently."""
    from foglamp_filter_python35_spark.sources.readers import (
        stream_readings_jsonl,
    )

    d = tmp_path / "wire_in"
    d.mkdir()
    (d / "a.jsonl").write_text(
        '{"id": 1, "asset_code": "lab1", "ts": 1699999999, '
        '"user_ts": 1699999998, "reading": {"power": 1.5}}\n'
        "not json at all\n"
        "{}\n"
        '{"id": 7, "asset_code": null, "ts": 1699999999}\n'
    )
    (d / "b.jsonl").write_text(
        '{"id": 2, "asset_code": "lab2", "ts": 1699999999, '
        '"user_ts": 1699999998, "reading": {"power": 2.5}}\n'
    )
    good, bad = stream_readings_jsonl(spark, str(d))
    q1 = (
        good.writeStream.format("memory")
        .queryName("wire_good")
        .option("checkpointLocation", str(tmp_path / "ck_good"))
        .start()
    )
    q2 = (
        bad.writeStream.format("memory")
        .queryName("wire_bad")
        .option("checkpointLocation", str(tmp_path / "ck_bad"))
        .start()
    )
    try:
        q1.processAllAvailable()
        q2.processAllAvailable()
        got = {r["id"]: r for r in spark.sql("SELECT * FROM wire_good").collect()}
        assert set(got) == {1, 2}
        assert got[1]["reading"]["power"] == 1.5
        rejects = sorted(
            r[0] for r in spark.sql("SELECT * FROM wire_bad").collect()
        )
        # malformed, empty-object, and explicit-null asset all quarantined
        # on the streaming path too
        assert rejects == sorted(
            [
                "not json at all",
                "{}",
                '{"id": 7, "asset_code": null, "ts": 1699999999}',
            ]
        )
    finally:
        q1.stop()
        q2.stop()


def test_session_raises_python_auth_socket_timeout(spark):
    """The engine session must widen the Python<->JVM local-socket
    connect timeout from the 15s default: under co-tenant load a storm
    of concurrent driver actions loses the 15s race (observed three
    times in r13 as CANNOT_OPEN_SOCKET).  The JVM exports the effective
    value to SPARK_AUTH_SOCKET_TIMEOUT at context init, which is what
    pyspark.util actually reads at connect time."""
    import os

    assert int(os.environ.get("SPARK_AUTH_SOCKET_TIMEOUT", "15")) >= 120
