"""Phase-2 streaming parity tests: S1/S2 micro-batch pipeline with the
error-fallback contract, C4 disabled stage, T10 windowed + stateful
buffering.  A parquet-directory stream over the sf0.001 events drives
everything synchronously via processAllAvailable()."""

from __future__ import annotations

import os
import shutil

import pytest

from pyspark.sql import functions as F

from foglamp_filter_python35_spark.config import FilterConfig
from foglamp_filter_python35_spark.datamodel import (
    events_to_readings,
)
from foglamp_filter_python35_spark.registry import REGISTRY, Stage
from foglamp_filter_python35_spark.streaming.pipeline import (
    run_micro_batch_pipeline,
    stateful_buffer_counts,
    windowed_rollup,
)
import foglamp_filter_python35_spark.operators.readings  # noqa: F401 (registers)
from tests.conftest import fix_event_ts


@pytest.fixture(scope="module")
def events_stream_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet", os.path.join(d, "part-0.parquet")
    )
    return str(d)


def _readings_stream(spark, events_stream_dir):
    raw_schema = spark.read.parquet(events_stream_dir).schema
    ev = spark.readStream.schema(raw_schema).parquet(events_stream_dir)
    ev = fix_event_ts(ev)
    return events_to_readings(ev)


def _run_to_completion(q):
    q.processAllAvailable()
    q.stop()


def test_micro_batch_pipeline_scale(spark, events_stream_dir, tmp_path):
    readings = _readings_stream(spark, events_stream_dir)
    stages = [
        REGISTRY.stage(
            "scale",
            FilterConfig("scale", enable=True, params={"scale": 5, "offset": 10}),
        ),
        REGISTRY.stage("drop_empty_payload"),
    ]
    got = []
    q = run_micro_batch_pipeline(
        readings,
        stages,
        sink=lambda df, epoch: got.extend(df.collect()),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    _run_to_completion(q)
    assert len(got) == 1000
    batch = spark.read.parquet(events_stream_dir)
    expect = {
        r["event_id"]: r["value"] * 5 + 10 for r in batch.collect()
    }
    for row in got[:50]:
        assert row["reading"]["value"] == pytest.approx(expect[row["id"]])


def test_pipeline_error_falls_back_to_input(spark, events_stream_dir, tmp_path):
    readings = _readings_stream(spark, events_stream_dir)

    def boom(df, cfg):
        raise RuntimeError("bad transform")

    stages = [Stage("boom", boom, FilterConfig("boom", enable=True))]
    got = []
    q = run_micro_batch_pipeline(
        readings,
        stages,
        sink=lambda df, epoch: got.append(df.count()),
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    _run_to_completion(q)
    # input forwarded unmodified (S3 degraded behavior)
    assert sum(got) == 1000


def _parquet_sink(path):
    return lambda df, epoch: df.write.mode("append").parquet(path)


def _assert_input_once_no_strays(spark, sink_dir, events_stream_dir):
    """The sink holds each input row exactly once, unmodified (so no
    failed write left a part file behind), and no ``_temporary``
    directory or other stray file remains."""
    want = sorted(
        (r["event_id"], r["value"])
        for r in spark.read.parquet(events_stream_dir).collect()
    )
    got = sorted(
        (r["id"], r["reading"]["value"])
        for r in spark.read.parquet(sink_dir).collect()
    )
    assert got == want
    for _root, dirs, files in os.walk(sink_dir):
        assert not [d for d in dirs if d.startswith("_")], dirs
        for f in files:
            assert f == "_SUCCESS" or f.startswith((".", "part-")), f


def test_stage_error_at_execution_forwards_input_exactly_once(
    spark, events_stream_dir, tmp_path, caplog
):
    """A stage that builds fine but raises while the sink's job runs (no
    forcing job catches it first): the failed write commits nothing, the
    input batch is written once instead, and the fallback is logged."""
    readings = _readings_stream(spark, events_stream_dir)

    def raise_at_execution(df, cfg):
        return df.withColumn(
            "id",
            F.when(
                F.col("id").isNotNull(), F.raise_error(F.lit("stage boom"))
            ).otherwise(F.col("id")),
        )

    stages = [
        Stage(
            "raise_exec",
            raise_at_execution,
            FilterConfig("raise_exec", enable=True),
        )
    ]
    sink_dir = str(tmp_path / "sink")
    with caplog.at_level(
        "WARNING", logger="foglamp_filter_python35_spark.streaming.pipeline"
    ):
        q = run_micro_batch_pipeline(
            readings,
            stages,
            sink=_parquet_sink(sink_dir),
            checkpoint_dir=str(tmp_path / "ckpt_raise_exec"),
            query_name="raise-exec",
        )
        _run_to_completion(q)
    _assert_input_once_no_strays(spark, sink_dir, events_stream_dir)
    msgs = [r.getMessage() for r in caplog.records]
    assert len(msgs) == 1, msgs
    assert msgs[0].startswith("raise-exec: epoch 0 forwards its input batch")
    assert "stage boom" in msgs[0]


def test_raising_t9_forwards_input_exactly_once(
    spark, events_stream_dir, tmp_path, caplog
):
    """An always-raising T9 fn falls back per Arrow batch inside the
    worker: the one sink job writes the input once, and the driver-side
    fallback never fires."""
    from foglamp_filter_python35_spark.operators.python_filter import (
        run_python_filter,
    )

    def boom(readings):
        raise RuntimeError("script error")

    stages = [
        Stage(
            "t9_boom",
            lambda df, cfg: run_python_filter(df, boom, cfg),
            FilterConfig("t9_boom", enable=True),
        )
    ]
    sink_dir = str(tmp_path / "sink")
    with caplog.at_level(
        "WARNING", logger="foglamp_filter_python35_spark.streaming.pipeline"
    ):
        q = run_micro_batch_pipeline(
            _readings_stream(spark, events_stream_dir),
            stages,
            sink=_parquet_sink(sink_dir),
            checkpoint_dir=str(tmp_path / "ckpt_t9_boom"),
        )
        _run_to_completion(q)
    _assert_input_once_no_strays(spark, sink_dir, events_stream_dir)
    assert caplog.records == []


def test_disabled_stage_is_passthrough(spark, events_stream_dir, tmp_path):
    readings = _readings_stream(spark, events_stream_dir)
    stages = [
        REGISTRY.stage(
            "scale", FilterConfig("scale", enable=False, params={"scale": 100})
        )
    ]
    got = []
    q = run_micro_batch_pipeline(
        readings,
        stages,
        sink=lambda df, epoch: got.extend(df.collect()),
        checkpoint_dir=str(tmp_path / "ckpt3"),
    )
    _run_to_completion(q)
    batch = spark.read.parquet(events_stream_dir)
    expect = {r["event_id"]: r["value"] for r in batch.collect()}
    assert len(got) == 1000
    for row in got[:50]:
        assert row["reading"]["value"] == pytest.approx(expect[row["id"]])


def test_windowed_rollup_stream_matches_batch(
    spark, events_stream_dir, tmp_path
):
    readings = _readings_stream(spark, events_stream_dir)
    agg = windowed_rollup(readings, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("rollup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt4"))
        .start()
    )
    _run_to_completion(q)
    got = {
        (r["window_start"], r["asset_code"]): r["n_readings"]
        for r in spark.sql("SELECT * FROM rollup_out").collect()
    }
    batch_readings = events_to_readings(fix_event_ts(spark.read.parquet(events_stream_dir)))
    want = {
        (r["window_start"], r["asset_code"]): r["n_readings"]
        for r in windowed_rollup(batch_readings, window="1 hour").collect()
    }
    assert got == want and sum(got.values()) == 1000


def test_hopping_window_stream_matches_batch(
    spark, events_stream_dir, tmp_path
):
    # G51 streaming twin: 2 h window / 1 h slide — every reading lands in
    # exactly two windows, stream and batch must agree bucket-for-bucket
    readings = _readings_stream(spark, events_stream_dir)
    agg = windowed_rollup(
        readings, window="2 hours", slide="1 hour", watermark="2 hours"
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("hop_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_hop"))
        .start()
    )
    _run_to_completion(q)
    got = {
        (r["window_start"], r["asset_code"]): r["n_readings"]
        for r in spark.sql("SELECT * FROM hop_out").collect()
    }
    batch_readings = events_to_readings(
        fix_event_ts(spark.read.parquet(events_stream_dir))
    )
    want = {
        (r["window_start"], r["asset_code"]): r["n_readings"]
        for r in windowed_rollup(
            batch_readings, window="2 hours", slide="1 hour"
        ).collect()
    }
    assert got == want and sum(got.values()) == 2000


def test_stateful_buffer_accumulates_across_batches(
    spark, tmp_path, events_stream_dir
):
    # two source files => at least one query restart sees prior state;
    # within one run, maxFilesPerTrigger=1 forces two micro-batches
    d = str(tmp_path / "src")
    os.makedirs(d)
    shutil.copy(
        os.path.join(events_stream_dir, "part-0.parquet"),
        os.path.join(d, "a.parquet"),
    )
    shutil.copy(
        os.path.join(events_stream_dir, "part-0.parquet"),
        os.path.join(d, "b.parquet"),
    )
    raw_schema = spark.read.parquet(d).schema
    ev = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    ev = fix_event_ts(ev)
    readings = events_to_readings(ev)
    out = stateful_buffer_counts(readings)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("buffer_out")
        .option("checkpointLocation", str(tmp_path / "ckpt5"))
        .start()
    )
    _run_to_completion(q)
    rows = spark.sql("SELECT * FROM buffer_out").collect()
    per_asset = {}
    for r in rows:
        per_asset.setdefault(r["asset_code"], []).append(r)
    batch = spark.read.parquet(d)
    want_totals = {
        r["event_type"]: r["cnt"]
        for r in batch.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for asset, emitted in per_asset.items():
        # running_count must end at the full total over both files (state
        # carried across micro-batches), batch_counts must sum to it
        final = max(r["running_count"] for r in emitted)
        assert final == want_totals[asset]
        assert sum(r["batch_count"] for r in emitted) == final
        assert len(emitted) >= 2  # one emission per micro-batch


def _two_file_stream(spark, events_stream_dir, tmp_path):
    d = str(tmp_path / "src2")
    os.makedirs(d)
    for name in ("a.parquet", "b.parquet"):
        shutil.copy(
            os.path.join(events_stream_dir, "part-0.parquet"),
            os.path.join(d, name),
        )
    raw_schema = spark.read.parquet(d).schema
    ev = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    ev = fix_event_ts(ev)
    return events_to_readings(ev)


def test_setup_error_fails_query_not_silent_passthrough(
    spark, events_stream_dir, tmp_path
):
    """A set_filter_config rejection is a SETUP error: the streaming
    query must terminate with it (plugin_init returning NULL), not fall
    back to forwarding unfiltered batches forever."""
    from foglamp_filter_python35_spark.operators.python_filter import (
        run_python_filter,
    )

    def bad_cfg(configuration):
        return False

    def identity(readings):
        return readings

    def stage_fn(df, cfg):
        return run_python_filter(df, identity, cfg, set_filter_config=bad_cfg)

    stages = [Stage("bad_setup", stage_fn, FilterConfig("bad_setup", enable=True))]
    readings = _readings_stream(spark, events_stream_dir)
    sunk = []
    q = run_micro_batch_pipeline(
        readings,
        stages,
        sink=lambda df, e: sunk.append(df.count()),
        checkpoint_dir=str(tmp_path / "ckpt_badsetup"),
    )
    with pytest.raises(Exception, match="set_filter_config"):
        q.processAllAvailable()
    q.stop()
    assert sunk == []  # nothing was silently forwarded


def test_set_filter_config_runs_once_across_micro_batches(
    spark, events_stream_dir, tmp_path
):
    """The reference configures once at plugin_init, not per ReadingSet:
    the config callback must not re-run every micro-batch."""
    from foglamp_filter_python35_spark.operators.python_filter import (
        run_python_filter,
    )

    calls = []

    def cfg_cb(configuration):
        calls.append(configuration)
        return True

    def identity(readings):
        return readings

    def stage_fn(df, cfg):
        return run_python_filter(df, identity, cfg, set_filter_config=cfg_cb)

    stages = [Stage("cfg_once", stage_fn, FilterConfig("cfg_once", enable=True))]
    readings = _two_file_stream(spark, events_stream_dir, tmp_path)
    batches = []
    q = run_micro_batch_pipeline(
        readings,
        stages,
        sink=lambda df, e: batches.append(e),
        checkpoint_dir=str(tmp_path / "ckpt_cfgonce"),
    )
    _run_to_completion(q)
    assert len(batches) >= 2  # two micro-batches actually flowed
    assert len(calls) == 1  # callback ran once, before data flowed


@pytest.mark.slow
def test_stateful_buffer_evicts_idle_asset_state(spark, tmp_path):
    """EventTimeTimeout bounds T10b state: an asset idle past the TTL is
    evicted once the watermark passes, so when it reappears its running
    count RESTARTS instead of continuing — proving the state store does
    not hold every asset ever seen."""
    from datetime import datetime, timedelta

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def write_batch(rows):
        spark.createDataFrame(
            rows, "asset_code string, user_ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    write_batch([("a", t0), ("b", t0)])
    readings = spark.readStream.schema(
        "asset_code string, user_ts timestamp"
    ).parquet(src)
    out = stateful_buffer_counts(readings, watermark="10 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("evict_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_evict"))
        .start()
    )
    try:
        q.processAllAvailable()  # b1: a and b seen at t0
        # b advances event time far past a's TTL (30 min) + watermark lag
        write_batch([("b", t0 + timedelta(hours=2))])
        q.processAllAvailable()  # watermark after: t0 - 10min -> no evict yet
        write_batch([("b", t0 + timedelta(hours=2, minutes=1))])
        q.processAllAvailable()  # watermark t0+1h50m > t0+30m: a evicted
        write_batch([("a", t0 + timedelta(hours=2, minutes=2))])
        q.processAllAvailable()  # a reappears with FRESH state
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM evict_out ORDER BY last_user_ts").collect()
    a_counts = [r["running_count"] for r in rows if r["asset_code"] == "a"]
    b_counts = [r["running_count"] for r in rows if r["asset_code"] == "b"]
    # a appeared twice but state was evicted in between: both emissions
    # show running_count 1 (NoTimeout would make the second one 2)
    assert a_counts == [1, 1]
    # b was never idle past the TTL: its count accumulates to 3
    assert b_counts[-1] == 3


@pytest.mark.slow
def test_stateful_buffer_survives_null_event_times(spark, tmp_path):
    """A micro-batch whose rows for an asset all carry NULL user_ts must
    not kill the query: pandas max() yields NaT there, and an unguarded
    NaT.timestamp() raises inside applyInPandasWithState, terminating
    the stream.  The TTL falls back to the current watermark instead."""
    from datetime import datetime

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = datetime(2024, 1, 1, 0, 0, 0)

    def write_batch(rows):
        spark.createDataFrame(
            rows, "asset_code string, user_ts timestamp"
        ).coalesce(1).write.mode("append").parquet(src)

    write_batch([("a", None), ("a", None), ("b", t0)])
    readings = spark.readStream.schema(
        "asset_code string, user_ts timestamp"
    ).parquet(src)
    out = stateful_buffer_counts(readings, watermark="10 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("nullts_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_nullts"))
        .start()
    )
    try:
        q.processAllAvailable()
        write_batch([("a", t0), ("a", None)])  # mixed null/non-null batch
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql(
        "SELECT * FROM nullts_out ORDER BY asset_code, running_count"
    ).collect()
    a = [(r["batch_count"], r["running_count"]) for r in rows
         if r["asset_code"] == "a"]
    # both batches emitted (pre-fix the first one crashed the query); the
    # all-null batch pinned its TTL to the then-zero watermark, so once
    # the real watermark advanced the state was evicted and the running
    # count RESTARTED — null event times never pin state alive
    assert a == [(2, 2), (2, 2)]


def test_state_epoch_ms_localizes_session_timezone():
    """GroupState timeouts are epoch-UTC ms but Arrow delivers event
    times tz-naive in the session timezone: interpreting a naive stamp
    as UTC would skew the TTL by the tz offset (8h at UTC+8)."""
    import pandas as pd

    from foglamp_filter_python35_spark.streaming.pipeline import (
        _state_epoch_ms,
    )

    ts = pd.Timestamp("2024-01-01 08:00:00")  # naive, rendered in session tz
    utc_ms = _state_epoch_ms(ts, wm=0, tz="UTC")
    shanghai_ms = _state_epoch_ms(ts, wm=0, tz="Asia/Shanghai")
    assert utc_ms - shanghai_ms == 8 * 3600 * 1000
    # 08:00 Shanghai == 00:00 UTC on that date
    assert shanghai_ms == int(
        pd.Timestamp("2024-01-01", tz="UTC").timestamp() * 1000
    )
    # null falls back to the watermark
    assert _state_epoch_ms(pd.NaT, wm=1234, tz="UTC") == 1234
    assert _state_epoch_ms(None, wm=7, tz="UTC") == 7


def test_session_rollup_stream_matches_batch(
    spark, events_stream_dir, tmp_path
):
    from foglamp_filter_python35_spark.streaming.pipeline import session_rollup

    readings = _readings_stream(spark, events_stream_dir)
    agg = session_rollup(readings, gap="10 minutes", watermark="1 hour")
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("session_out")
        .option("checkpointLocation", str(tmp_path / "ckpt6"))
        .start()
    )
    _run_to_completion(q)
    got = {
        (r["session_start"], r["session_end"], r["asset_code"]): r["n_readings"]
        for r in spark.sql("SELECT * FROM session_out").collect()
    }
    batch_readings = events_to_readings(
        fix_event_ts(spark.read.parquet(events_stream_dir))
    )
    want = {
        (r["session_start"], r["session_end"], r["asset_code"]): r["n_readings"]
        for r in session_rollup(batch_readings, gap="10 minutes").collect()
    }
    assert got == want
    assert sum(got.values()) == 1000
    # sessions are dynamic-length: at least one must span > one gap
    assert any((e - s).total_seconds() > 600 for (s, e, _a) in got)


def test_stream_dedup_drops_cross_batch_duplicates(
    spark, tmp_path, events_stream_dir
):
    from foglamp_filter_python35_spark.streaming.pipeline import stream_dedup

    # the same file twice => every id arrives in two different micro-batches
    d = str(tmp_path / "dup_src")
    os.makedirs(d)
    shutil.copy(
        os.path.join(events_stream_dir, "part-0.parquet"),
        os.path.join(d, "a.parquet"),
    )
    shutil.copy(
        os.path.join(events_stream_dir, "part-0.parquet"),
        os.path.join(d, "b.parquet"),
    )
    raw_schema = spark.read.parquet(d).schema
    ev = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    ev = fix_event_ts(ev)
    readings = events_to_readings(ev)
    out = stream_dedup(readings, keys=["id"], watermark="10 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt7"))
        .start()
    )
    _run_to_completion(q)
    ids = [r["id"] for r in spark.sql("SELECT id FROM dedup_out").collect()]
    assert len(ids) == 1000  # 2000 arrived, each id exactly once
    assert len(set(ids)) == 1000


def test_stream_dedup_batch_degrades_to_drop_duplicates(spark, events_stream_dir):
    from foglamp_filter_python35_spark.streaming.pipeline import stream_dedup

    batch = events_to_readings(
        fix_event_ts(spark.read.parquet(events_stream_dir))
    )
    doubled = batch.union(batch)
    assert stream_dedup(doubled, keys=["id"]).count() == 1000


def test_reconfigure_restarts_from_checkpoint(spark, tmp_path, events_stream_dir):
    """C3: reconfigure = stop -> rebuild with new config -> restart from
    the SAME checkpoint.  The restarted query must resume at the stored
    offset (no reprocessing of batch A) and apply the new transform."""
    src = str(tmp_path / "c3_src")
    ckpt = str(tmp_path / "c3_ckpt")
    os.makedirs(src)
    shutil.copy(
        os.path.join(events_stream_dir, "part-0.parquet"),
        os.path.join(src, "a.parquet"),
    )
    raw_schema = spark.read.parquet(src).schema

    def readings():
        ev = spark.readStream.schema(raw_schema).parquet(src)
        ev = fix_event_ts(ev)
        return events_to_readings(ev)

    got: list[tuple[int, float]] = []

    def sink(df, _epoch):
        got.extend(
            (r["id"], r["reading"]["value"]) for r in df.collect()
        )

    # phase 1: scale=5/offset=10
    q = run_micro_batch_pipeline(
        readings(),
        [REGISTRY.stage("scale", FilterConfig("scale", enable=True,
                                              params={"scale": 5, "offset": 10}))],
        sink, ckpt,
    )
    _run_to_completion(q)
    phase1 = dict(got)
    assert len(phase1) == 1000

    # new data arrives while "reconfiguring"
    shutil.copy(
        os.path.join(events_stream_dir, "part-0.parquet"),
        os.path.join(src, "b.parquet"),
    )

    # phase 2: same checkpoint, new config scale=1/offset=1000
    got.clear()
    q = run_micro_batch_pipeline(
        readings(),
        [REGISTRY.stage("scale", FilterConfig("scale", enable=True,
                                              params={"scale": 1, "offset": 1000}))],
        sink, ckpt,
    )
    _run_to_completion(q)
    # only file b was processed (offsets resumed), with the NEW transform.
    # Assert on the RAW list: the files are identical copies, so a full
    # reprocess of both would still dedup to 1000 dict keys — only the
    # raw row count distinguishes resume from reprocess.
    assert len(got) == 1000
    phase2 = dict(got)
    raw = {
        r["event_id"]: r["value"]
        for r in spark.read.parquet(src).collect()
    }
    for rid, v in phase2.items():
        assert v == raw[rid] * 1 + 1000
    for rid, v in phase1.items():
        assert v == raw[rid] * 5 + 10


def test_stream_dedup_passes_null_ids_through(spark, events_stream_dir):
    from foglamp_filter_python35_spark.streaming.pipeline import stream_dedup

    batch = events_to_readings(
        fix_event_ts(spark.read.parquet(events_stream_dir))
    )
    nulled = batch.withColumn(
        "id", F.when(F.col("id") < 100, F.lit(None)).otherwise(F.col("id"))
    )
    out = stream_dedup(nulled.union(nulled), keys=["id"])
    n_null_in = nulled.filter(F.col("id").isNull()).count()
    # keyed rows dedup to one each; null-id rows pass through untouched
    assert out.filter(F.col("id").isNull()).count() == 2 * n_null_in
    assert out.filter(F.col("id").isNotNull()).count() == 1000 - n_null_in


def test_signal_stages_in_micro_batch_pipeline(spark, events_stream_dir, tmp_path):
    """Signal-family stages compose into the S1->S2 pipeline like any
    reference filter: deadband suppresses within each micro-batch, the
    alarm stage tags out-of-band survivors."""
    readings = _readings_stream(spark, events_stream_dir)
    stages = [
        REGISTRY.stage(
            "deadband",
            FilterConfig("deadband", enable=True, params={"tolerance": 50.0}),
        ),
        REGISTRY.stage(
            "threshold_alarm",
            FilterConfig("threshold_alarm", enable=True,
                         params={"lo": 1.0, "hi": 400.0}),
        ),
    ]
    got = []
    q = run_micro_batch_pipeline(
        readings, stages, lambda df, _e: got.extend(df.collect()),
        str(tmp_path / "ckpt_sig"),
    )
    _run_to_completion(q)
    assert len(got) > 0
    for r in got:
        v = r["reading"]["value"]
        assert v < 1.0 or v > 400.0
        assert r["reading_str"]["alarm"] in ("low", "high")


def test_stream_deadband_matches_batch_across_batches(spark, tmp_path):
    """Two in-order micro-batches: the last-EMITTED value must carry
    across the batch boundary (102 in batch 2 is suppressed against 100
    emitted in batch 1), and the emitted set must equal the batch
    operator on the union."""
    from datetime import datetime, timedelta

    from foglamp_filter_python35_spark.functions.signal import deadband
    from foglamp_filter_python35_spark.streaming.pipeline import (
        stream_deadband,
    )

    src = str(tmp_path / "src_db")
    os.makedirs(src)
    t0 = datetime(2024, 1, 1)

    def rows(batch, vals):
        return [
            ("a", batch * 100 + i, t0 + timedelta(minutes=batch * 100 + i), v)
            for i, v in enumerate(vals)
        ]

    schema = "asset_code string, id long, user_ts timestamp, value double"

    def write(batch, vals):
        spark.createDataFrame(rows(batch, vals), schema).coalesce(
            1
        ).write.mode("append").parquet(src)

    write(0, [0.0, 100.0, 101.0])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_deadband(stream, tolerance=50.0)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("db_stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_db"))
        .start()
    )
    try:
        q.processAllAvailable()
        write(1, [102.0, 300.0])
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r.id, r.value)
        for r in spark.sql("SELECT * FROM db_stream_out").collect()
    )
    batch_df = spark.read.parquet(src)
    want = sorted(
        (r.id, r.value)
        for r in deadband(
            batch_df, "value", "asset_code", ["user_ts", "id"], 50.0
        ).collect()
    )
    assert got == want
    assert [v for _, v in got] == [0.0, 100.0, 300.0]


@pytest.mark.slow
def test_stream_deadband_evicts_idle_state(spark, tmp_path):
    """An asset idle past the TTL loses its last-emitted state: on
    reappearing, its first reading emits even though it is within
    tolerance of the pre-idle last value (first-sight restart)."""
    from datetime import datetime, timedelta

    from foglamp_filter_python35_spark.streaming.pipeline import (
        stream_deadband,
    )

    src = str(tmp_path / "src_dbe")
    os.makedirs(src)
    t0 = datetime(2024, 1, 1)
    schema = "asset_code string, id long, user_ts timestamp, value double"

    def write(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    write([("a", 0, t0, 10.0), ("b", 1, t0, 10.0)])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream_deadband(stream, tolerance=50.0, watermark="10 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("db_evict_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_dbe"))
        .start()
    )
    try:
        q.processAllAvailable()
        # b advances event time far past a's TTL; two writes so the
        # watermark (which lags one batch) actually passes the TTL
        write([("b", 2, t0 + timedelta(hours=2), 11.0)])
        q.processAllAvailable()
        write([("b", 3, t0 + timedelta(hours=2, minutes=1), 12.0)])
        q.processAllAvailable()
        # a reappears with value 11 — within tolerance of its pre-idle
        # last (10); evicted state means it must emit anyway
        write([("a", 4, t0 + timedelta(hours=2, minutes=2), 11.0)])
        q.processAllAvailable()
    finally:
        q.stop()
    a_rows = sorted(
        r.id
        for r in spark.sql(
            "SELECT * FROM db_evict_out WHERE asset_code = 'a'"
        ).collect()
    )
    assert a_rows == [0, 4]  # NoTimeout would suppress id 4


def test_stream_stream_enrich_join_matches_batch(
    spark, events_stream_dir, tmp_path
):
    """Stream-stream inner join with watermarks + time-range bound:
    stream result == the same function applied to batch inputs."""
    from foglamp_filter_python35_spark.streaming.pipeline import (
        stream_enrich_join,
    )

    batch_readings = events_to_readings(
        fix_event_ts(spark.read.parquet(events_stream_dir))
    )
    # annotations: every 20th reading emits an alert for its asset at its
    # own timestamp (so each alert enriches readings up to 5 min later)
    batch_ann = (
        batch_readings.filter(F.col("id") % 20 == 0)
        .select(
            F.col("asset_code").alias("ann_asset_code"),
            F.col("user_ts").alias("ann_ts"),
            F.lit("alert").alias("label"),
        )
    )
    ann_dir = tmp_path / "ann"
    batch_ann.write.parquet(str(ann_dir))

    want = stream_enrich_join(batch_readings, batch_ann).count()
    assert want > 0

    readings_s = _readings_stream(spark, events_stream_dir)
    ann_schema = spark.read.parquet(str(ann_dir)).schema
    ann_s = spark.readStream.schema(ann_schema).parquet(str(ann_dir))
    joined = stream_enrich_join(readings_s, ann_s)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("enrich_out")
        .option("checkpointLocation", str(tmp_path / "ck_enrich"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT count(*) AS n FROM enrich_out").collect()[0]["n"]
    finally:
        q.stop()
    assert got == want


def test_stream_enrich_join_accepts_singular_units(spark, events_stream_dir):
    """join_window parses '1 minute' / '90 seconds' / '2 hours' alike —
    the unit map is singular-normalized, not plural-only."""
    from pyspark.sql import functions as F

    from foglamp_filter_python35_spark.streaming.pipeline import (
        stream_enrich_join,
    )

    readings = events_to_readings(
        fix_event_ts(spark.read.parquet(events_stream_dir))
    )
    ann = readings.limit(5).select(
        F.col("asset_code").alias("ann_asset_code"),
        F.col("user_ts").alias("ann_ts"),
        F.lit("alert").alias("label"),
    )
    for win in ("1 minute", "90 seconds", "2 hours", "1 Hour"):
        assert stream_enrich_join(readings, ann, join_window=win).count() >= 0


@pytest.mark.slow
def test_stream_enrich_left_outer_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """left_outer stream-stream join: a reading with no annotation emits
    null-padded once the annotation watermark proves no match can still
    arrive.  Asset 'a' matches; asset 'b' must surface with null label
    only after later data advances the watermark."""
    import datetime as dt

    from foglamp_filter_python35_spark.streaming.pipeline import (
        stream_enrich_join,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    r_dir, a_dir = str(tmp_path / "r"), str(tmp_path / "a")
    spark.createDataFrame(
        [(1, "a", t0), (2, "b", t0)], "id long, asset_code string, user_ts timestamp"
    ).write.parquet(r_dir)
    spark.createDataFrame(
        [("a", t0 - dt.timedelta(minutes=1), "alert")],
        "ann_asset_code string, ann_ts timestamp, label string",
    ).write.parquet(a_dir)

    r_schema = spark.read.parquet(r_dir).schema
    a_schema = spark.read.parquet(a_dir).schema
    joined = stream_enrich_join(
        spark.readStream.schema(r_schema).parquet(r_dir),
        spark.readStream.schema(a_schema).parquet(a_dir),
        how="left_outer",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("enrich_outer")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        # advance both watermarks far past t0; outer results may need an
        # extra micro-batch after the watermark moves
        for hours in (1, 2):
            late = t0 + dt.timedelta(hours=hours)
            spark.createDataFrame(
                [(100 + hours, "z", late)],
                "id long, asset_code string, user_ts timestamp",
            ).write.mode("append").parquet(r_dir)
            spark.createDataFrame(
                [("z", late, "late")],
                "ann_asset_code string, ann_ts timestamp, label string",
            ).write.mode("append").parquet(a_dir)
            q.processAllAvailable()
            rows = {
                r["id"]: r["label"]
                for r in spark.sql("SELECT * FROM enrich_outer").collect()
            }
            if 2 in rows:
                break
        assert rows[1] == "alert"  # matched within the window
        assert 2 in rows and rows[2] is None  # unmatched, null-padded
    finally:
        q.stop()


def test_stream_static_dim_join_preserves_rows(
    spark, events_stream_dir, tmp_path
):
    """Stream-static broadcast join: every micro-batch enriches against
    the static dim snapshot with no watermark/state requirements; a left
    join must preserve all readings."""
    readings = _readings_stream(spark, events_stream_dir)
    assets = [
        r["asset_code"]
        for r in spark.read.parquet(events_stream_dir)
        .select("event_type")
        .distinct()
        .withColumnRenamed("event_type", "asset_code")
        .collect()
    ]
    dim = spark.createDataFrame(
        [(a, f"cat_{a[:2]}") for a in assets[:-1]],  # one asset unmapped
        "asset_code string, category string",
    )
    joined = readings.join(F.broadcast(dim), "asset_code", "left")
    q = (
        joined.writeStream.format("memory")
        .queryName("static_dim_out")
        .option("checkpointLocation", str(tmp_path / "ck_dim"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM static_dim_out").collect()
        assert len(rows) == 1000  # left join: nothing dropped
        cats = {r["asset_code"]: r["category"] for r in rows}
        unmapped = assets[-1]
        assert cats[unmapped] is None
        assert all(v is not None for k, v in cats.items() if k != unmapped)
    finally:
        q.stop()


def _observed_metric(progress, name):
    if hasattr(progress, "observedMetrics"):
        return progress.observedMetrics.get(name)
    return (progress.get("observedMetrics") or {}).get(name)


def test_default_lineage_rides_observed_metrics(
    spark, events_stream_dir, tmp_path
):
    """S6 default path: lineage metrics arrive via observe() on the
    progress events — zero extra jobs, no driver collect (r3 VERDICT:
    AssetTracker.record's collect is opt-in debug only)."""
    readings = _readings_stream(spark, events_stream_dir)
    stages = [
        REGISTRY.stage(
            "scale",
            FilterConfig("scale", enable=True, params={"scale": 5, "offset": 10}),
        )
    ]
    q = run_micro_batch_pipeline(
        readings,
        stages,
        sink=lambda df, epoch: df.count(),
        checkpoint_dir=str(tmp_path / "ckpt_obs"),
    )
    q.processAllAvailable()
    metrics = [
        m
        for m in (_observed_metric(p, "lineage") for p in q.recentProgress)
        if m is not None
    ]
    q.stop()
    assert metrics, "no observed lineage metrics in any progress event"
    assert sum(m["n_readings"] for m in metrics) == 1000
    assert all(m["n_assets"] >= 1 for m in metrics if m["n_readings"] > 0)


def test_asset_tracker_is_optin_debug_path(spark, events_stream_dir, tmp_path):
    from foglamp_filter_python35_spark.streaming.pipeline import AssetTracker

    readings = _readings_stream(spark, events_stream_dir)
    stages = [REGISTRY.stage("drop_empty_payload")]
    tracker = AssetTracker()
    q = run_micro_batch_pipeline(
        readings,
        stages,
        sink=lambda df, epoch: df.count(),
        checkpoint_dir=str(tmp_path / "ckpt_trk"),
        query_name="trk-pipeline",
        tracker=tracker,
    )
    _run_to_completion(q)
    assert tracker.assets_seen("trk-pipeline")
    assert (
        sum(n for (_s, _a, d, n) in tracker.tuples if d == "in") == 1000
    )


def test_reconfigure_swaps_script_identity_from_checkpoint(
    spark, tmp_path, events_stream_dir
):
    """C3, script-identity swap: the reference's reconfigure can switch
    to a DIFFERENT script, not just new params (python35_filter.cpp:
    404-422).  Restart from the same checkpoint with a transform loaded
    from a different user script whose output payload shape differs
    (adds a datapoint); the restarted query must resume at the stored
    offset (exactly-once: batch A is not reprocessed) and apply the new
    script."""
    import textwrap

    from foglamp_filter_python35_spark.registry import load_filter_script

    src = str(tmp_path / "c3s_src")
    ckpt = str(tmp_path / "c3s_ckpt")
    os.makedirs(src)
    shutil.copy(
        os.path.join(events_stream_dir, "part-0.parquet"),
        os.path.join(src, "a.parquet"),
    )
    raw_schema = spark.read.parquet(src).schema

    def readings():
        ev = spark.readStream.schema(raw_schema).parquet(src)
        ev = fix_event_ts(ev)
        return events_to_readings(ev)

    got: list = []

    def sink(df, _epoch):
        got.extend(df.collect())

    # phase 1: built-in scale script semantics
    q = run_micro_batch_pipeline(
        readings(),
        [REGISTRY.stage("scale", FilterConfig("scale", enable=True,
                                              params={"scale": 5, "offset": 10}))],
        sink, ckpt,
    )
    _run_to_completion(q)
    assert len(got) == 1000
    assert all("audited" not in r["reading"] for r in got)

    shutil.copy(
        os.path.join(events_stream_dir, "part-0.parquet"),
        os.path.join(src, "b.parquet"),
    )

    # phase 2: a DIFFERENT script file, loaded via the reference's
    # naming rule, with a schema-evolving payload (new datapoint)
    script = tmp_path / "deadbeef_script_audit.py"
    script.write_text(
        textwrap.dedent(
            """
            def audit(readings):
                for r in readings:
                    new = dict(r["reading"])
                    new["audited"] = 1.0
                    r["reading"] = new
                return readings
            """
        )
    )
    method = load_filter_script(str(script))
    assert method == "audit"
    got.clear()
    q = run_micro_batch_pipeline(
        readings(),
        [REGISTRY.stage(method, FilterConfig(method, enable=True))],
        sink, ckpt,
    )
    _run_to_completion(q)
    # only file b processed (offset resume), all rows through the NEW script
    assert len(got) == 1000
    assert all(r["reading"]["audited"] == 1.0 for r in got)


def test_pipeline_into_snapshot_sink_end_to_end(
    spark, events_stream_dir, tmp_path
):
    """S1 -> filter chain -> S7: the micro-batch pipeline lands in the
    ACID snapshot table via epoch-keyed idempotent commits; the final
    snapshot holds exactly the transformed readings."""
    from foglamp_filter_python35_spark.sources import snapshot_table as st

    readings = _readings_stream(spark, events_stream_dir)
    stages = [
        REGISTRY.stage(
            "scale",
            FilterConfig("scale", enable=True, params={"scale": 5, "offset": 10}),
        )
    ]
    table = str(tmp_path / "sink_tbl")
    q = run_micro_batch_pipeline(
        readings,
        stages,
        sink=st.snapshot_sink(table, query_name="e2e"),
        checkpoint_dir=str(tmp_path / "ckpt_snap"),
    )
    _run_to_completion(q)
    snap = st.read_snapshot(spark, table)
    assert snap.count() == 1000
    raw = {
        r["event_id"]: r["value"]
        for r in spark.read.parquet(events_stream_dir).collect()
    }
    for row in snap.limit(50).collect():
        assert row["reading"]["value"] == pytest.approx(raw[row["id"]] * 5 + 10)
