"""The two workloads: ``edge_t9`` (open loop of small files) and
``backfill_t9`` (closed-loop drains of a pre-written backlog).

Both run the reference's traffic through the engine's public streaming
entry point, ``streaming.pipeline.run_micro_batch_pipeline``, with a
stage chain made through ``registry``: T1 ``scale`` then the T9 scale35
script.  The sink is a parquet append that stamps each epoch's commit
time on the driver.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import Counter
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import datagen
import spark_probe
from common import Outcome, fresh_dir, geomean, log, percentile

#: 1k rows/s in files of a few hundred rows, 100 files in a 20 s window.
#: A trigger with T9 takes 0.4-0.7 s on a 4-vCPU VM, so each one finds two
#: or three files waiting; smaller files at a higher rate made one trigger
#: read up to 17 files and raised the latency by a fifth.
EDGE_ROWS_PER_FILE = 200
EDGE_FILES_PER_S = 5.0
#: the first 10 s of the open loop warm the query up before timing
#: starts; after 8 s the first quarter of the window still ran 15% slower
EDGE_WARM_FILES = 50
BACKFILL_ROWS_PER_FILE = 100_000
#: the untimed drain reads the backlog's first files through links of
#: their own, on a checkpoint of its own
BACKFILL_WARM_FILES = 3
#: timed backlog files per second of ``--seconds`` (12 at 20 s), read in
#: one drain, one file per trigger; a file takes 0.9-2 s on a 4-vCPU VM.
#: The count is fixed up front: timing until the time is up lets fast
#: runs average in warmer extra work that slow runs never reach.  One
#: long drain, because each drain's first batch also carries the query's
#: start, and short drains put those batches at the top of the latency
#: distribution
BACKFILL_FILES_PER_S = 0.6
T9_PARAMS = {"scale": 5.0, "offset": 10.0}


def stage_chain(t9_script: str) -> list:
    """T1 ``scale`` then the T9 script, both resolved through the registry."""
    import foglamp_filter_python35_spark.operators.readings  # noqa: F401,PLC0415 — registers T1
    from foglamp_filter_python35_spark.config import FilterConfig  # noqa: PLC0415
    from foglamp_filter_python35_spark.registry import REGISTRY, load_filter_script  # noqa: PLC0415

    t9 = load_filter_script(t9_script)
    return [
        REGISTRY.stage("scale", FilterConfig(name="scale", enable=True, params=T9_PARAMS)),
        REGISTRY.stage(t9, FilterConfig(name=t9, enable=True, params=T9_PARAMS)),
    ]


class ParquetSink:
    """``foreachBatch`` sink: a parquet append, then the epoch's commit
    time stamped on the driver.  No extra Spark job runs per batch."""

    def __init__(self, path: str) -> None:
        self.path = path
        self.started: dict[int, float] = {}
        self.commits: dict[int, float] = {}

    def __call__(self, df, epoch: int) -> None:
        t0 = time.time()
        df.write.mode("append").parquet(self.path)
        self.started[epoch] = t0
        self.commits[epoch] = time.time()


def start_stream(spark, src: str, stages, sink, checkpoint: str, max_files: int | None, trigger=None):
    from foglamp_filter_python35_spark.datamodel import READING_SCHEMA  # noqa: PLC0415
    from foglamp_filter_python35_spark.streaming.pipeline import run_micro_batch_pipeline  # noqa: PLC0415

    reader = spark.readStream.schema(READING_SCHEMA)
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return run_micro_batch_pipeline(
        reader.parquet(src), stages, sink, checkpoint,
        query_name=f"perfbench-{os.path.basename(checkpoint)}", trigger=trigger,
    )


def drain(spark, src: str, stages, work: str, tag: str, max_files: int):
    """One closed-loop ``availableNow`` drain of ``src``; returns its start
    and end wall times, the sink and the query."""
    ckpt = os.path.join(work, f"ckpt-{tag}")
    sink = ParquetSink(fresh_dir(os.path.join(work, f"sink-{tag}")))
    t0 = time.time()
    q = start_stream(spark, src, stages, sink, ckpt, max_files, trigger={"availableNow": True})
    q.awaitTermination()
    t1 = time.time()
    if q.exception() is not None:
        raise RuntimeError(f"drain {tag} failed: {q.exception()}")
    return t0, t1, sink, q


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def delivered_ok(sink_dir: str, seed: int) -> np.ndarray:
    """Ids that reached the sink exactly once with every datapoint equal
    to (v*5+10)*5+10."""
    if not any(f.endswith(".parquet") for f in os.listdir(sink_dir)):
        return np.zeros(0, np.int64)
    t = pq.read_table(sink_dir, columns=["id", "reading"])
    ids = t.column("id").to_numpy()
    m = t.column("reading").combine_chunks()
    lens = np.diff(m.offsets.to_numpy())
    row = np.repeat(np.arange(len(ids)), lens)
    keys = m.keys.to_numpy(zero_copy_only=False)
    vals = m.items.to_numpy()
    value, aux = datagen.datapoints(seed, ids)
    want = np.where(keys == "value", datagen.expected(value)[row], datagen.expected(aux)[row])
    good = (vals == want) & np.isin(keys, ["value", "aux"])
    row_ok = (lens == 2) & (np.bincount(row, weights=good, minlength=len(ids)) == 2)
    uniq, inv, counts = np.unique(ids, return_inverse=True, return_counts=True)
    ok = counts == 1
    ok[inv[~row_ok]] = False
    return uniq[ok]


def failed_files(sink_dir: str, seed: int, first_ids: list[int], rows: int) -> int:
    """Files with any row missing, duplicated or wrong."""
    want = (np.asarray(first_ids)[:, None] + np.arange(rows)[None, :]).ravel()
    present = np.isin(want, delivered_ok(sink_dir, seed)).reshape(len(first_ids), rows)
    return int((~present.all(axis=1)).sum())


# ---------------------------------------------------------------------------
# traced extras: T9 codecs and plan exchanges
# ---------------------------------------------------------------------------


def t9_layer(spark, ctx, stages) -> dict[str, float]:
    """T9 wire codecs timed on one captured 10k-row batch (the input T9
    sees, after T1), by calling ``operators.python_filter``'s codecs
    directly; plus the Exchange nodes the T9 stage adds to the plan of a
    batch of one backfill file."""
    import pyarrow as pa  # noqa: PLC0415

    from foglamp_filter_python35_spark.operators import python_filter as pf  # noqa: PLC0415
    from foglamp_filter_python35_spark.registry import apply_pipeline  # noqa: PLC0415

    path = os.path.join(ctx.work, "probe.parquet")
    datagen.write_readings(path, ctx.seed, 10**9, BACKFILL_ROWS_PER_FILE)
    batch = spark.read.parquet(path)
    exchanges = spark_probe.count_exchanges(apply_pipeline(batch, stages)) - spark_probe.count_exchanges(
        apply_pipeline(batch, stages[:1])
    )
    captured = apply_pipeline(batch.limit(10_000), stages[:1]).toArrow()
    fn = _load_fn(ctx.t9_script)
    times: dict[str, list[float]] = {k: [] for k in ("a2p", "to", "fn", "from", "p2a")}
    for _ in range(5):
        t0 = time.perf_counter()
        pdf = captured.to_pandas(maps_as_pydicts="strict")
        for c in ("ts", "user_ts"):  # Spark hands workers session-time naive stamps
            pdf[c] = pdf[c].dt.tz_localize(None)
        t1 = time.perf_counter()
        wire = pf._to_wire(pdf, False)  # noqa: SLF001
        t2 = time.perf_counter()
        try:
            result = fn(wire)
        except Exception:  # noqa: BLE001 — the injected failing filter
            result = wire
        t3 = time.perf_counter()
        out = pf._from_wire(result)  # noqa: SLF001
        t4 = time.perf_counter()
        pa.Table.from_pandas(out, schema=datagen.READING_ARROW_SCHEMA, preserve_index=False)
        t5 = time.perf_counter()
        for k, a, b in (("a2p", t0, t1), ("to", t1, t2), ("fn", t2, t3), ("from", t3, t4), ("p2a", t4, t5)):
            times[k].append((b - a) * 1000)
    med = {k: statistics.median(v) for k, v in times.items()}
    return {
        "t9.arrow_to_pandas_ms": med["a2p"],
        "t9.to_wire_ms": med["to"],
        "t9.fn_ms": med["fn"],
        "t9.from_wire_ms": med["from"],
        "t9.pandas_to_arrow_ms": med["p2a"],
        "t9.exchanges": float(exchanges),
    }


def _load_fn(script: str):
    import importlib.util  # noqa: PLC0415

    from foglamp_filter_python35_spark.registry import script_method_name  # noqa: PLC0415

    spec = importlib.util.spec_from_file_location("_perfbench_t9", script)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return getattr(mod, script_method_name(script))


# ---------------------------------------------------------------------------
# edge_t9
# ---------------------------------------------------------------------------


def run_edge(ctx) -> Outcome:
    spark, tracer = ctx.spark, ctx.tracer
    seconds = ctx.seconds
    n_warm = ctx.scale(EDGE_WARM_FILES, 5)
    n_files = max(10, int(round(seconds * EDGE_FILES_PER_S)))
    rows = EDGE_ROWS_PER_FILE
    stages = stage_chain(ctx.t9_script)
    src = fresh_dir(os.path.join(ctx.work, "src"))
    staging = fresh_dir(os.path.join(ctx.work, "staging"))
    gen_log = os.path.join(ctx.work, "generator.json")
    with tracer.span("input.prepare"):
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "generator.py"),
             "--seed", str(ctx.seed), "--staging", staging, "--src", src,
             "--files", str(n_warm + n_files), "--rows", str(rows), "--rate", str(EDGE_FILES_PER_S),
             "--log", gen_log],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        ctx.children.append(gen)
    ckpt = os.path.join(ctx.work, "ckpt-edge")
    sink = ParquetSink(fresh_dir(os.path.join(ctx.work, "sink-edge")))
    with tracer.span("stream.start"):
        q = start_stream(spark, src, stages, sink, ckpt, None)
        spark_probe.wait_for(lambda: q.lastProgress is not None, 30)
    with tracer.span("generator.prerender"):
        if gen.stdout.readline().strip() != "ready":
            raise RuntimeError("load generator failed to start")

    # the first files of the open loop warm the same query up; timing
    # starts at the scheduled publish time of the first file after them
    t0 = time.time() + 0.2
    t_timed = t0 + n_warm / EDGE_FILES_PER_S
    gen.stdin.write(f"{t0!r}\n")
    gen.stdin.flush()
    with tracer.span("warmup"):
        time.sleep(max(0.0, t_timed - time.time()))
    ctx.mark_timed(t_timed)
    job0 = max(ctx.store.job_ids(), default=-1) if ctx.store else -1
    with tracer.span("timed") as ctx.timed_span:
        gen.wait(timeout=n_warm + seconds + 60)
        with open(gen_log) as f:
            glog = json.load(f)
        names = [os.path.basename(p) for p in glog["files"]]
        done = spark_probe.wait_for(
            lambda: _all_committed(ckpt, names, sink), 60, 0.02
        )
    spark_probe.wait_for(lambda: not q.status["isTriggerActive"], 10)
    q.stop()
    if not done:
        log("edge_t9: not every published file reached the sink within 60 s")

    timed_names, scheduled = names[n_warm:], glog["scheduled"][n_warm:]
    with tracer.span("check"):
        first_ids = [i * rows for i in range(n_warm, n_warm + n_files)]
        batch_of = spark_probe.source_batches(ckpt)
        failed = failed_files(sink.path, ctx.seed, first_ids, rows)
        lat = [
            (sink.commits[batch_of[name]] - due) * 1000.0
            for name, due in zip(timed_names, scheduled)
            if batch_of.get(name) in sink.commits
        ]
    if not lat:
        raise RuntimeError("edge_t9: no published file reached the sink")
    q4 = max(1, len(lat) // 4)
    log(f"edge_t9: median latency ms by quarter of the window "
        f"{[round(statistics.median(lat[i:i + q4])) for i in range(0, len(lat), q4)]}")
    pass_s = max(sink.commits.values()) - scheduled[0]
    metrics = {
        "p50_latency_ms": percentile(lat, 50),
        "p95_latency_ms": percentile(lat, 95),
        "throughput_rows_s": len(lat) * rows / pass_s,
        "pass_s": pass_s,
        "query_geomean_ms": geomean(lat),
    }
    late = [(p - s) * 1000.0 for p, s in zip(glog["published"][n_warm:], scheduled)]
    timed_batches = Counter(batch_of.get(n) for n in timed_names)
    layers = {
        "gen.late_p95_ms": percentile(late, 95),
        "gen.late_max_ms": max(late),
        # the most files one trigger found waiting
        "source.backlog_max_files": float(max(timed_batches.values())),
    }
    if ctx.trace:
        first_batch = min(b for b in timed_batches if b is not None)
        layers.update(_stream_trace(ctx, [q], [sink], job0, pass_s, first_batch))
        layers.update(t9_layer(spark, ctx, stages))
    return Outcome(attempted=n_files, failed=failed, metrics=metrics, layers=layers)


def _all_committed(ckpt: str, names: list[str], sink: ParquetSink) -> bool:
    batch_of = spark_probe.source_batches(ckpt)
    return all(batch_of.get(n) in sink.commits for n in names)


def _stream_trace(ctx, queries, sinks, job0: int, window_s: float, first_batch: int = 0) -> dict[str, float]:
    """Per-trigger layer metrics, trigger spans and Spark totals of the
    timed phase, batches from ``first_batch`` on (traced runs only)."""
    # progress events reach the Python listener asynchronously
    commits = sum(len(s.commits) for s in sinks)
    spark_probe.wait_for(
        lambda: sum(len(ctx.progress.for_query(str(q.runId))) for q in queries) >= commits, 10, 0.1
    )
    progress = []
    for q, sink in zip(queries, sinks):
        p = [e for e in ctx.progress.for_query(str(q.runId)) if e["batchId"] >= first_batch]
        progress.extend(p)
        adds = spark_probe.trigger_spans(ctx.tracer, p, ctx.timed_span)
        for epoch, t1 in sink.commits.items():
            if epoch in adds:
                ctx.tracer.add("sink.write", sink.started[epoch], t1, adds[epoch])
    out = spark_probe.trigger_metrics(progress, window_s)
    writes = [
        (s.commits[e] - s.started[e]) * 1000.0 for s in sinks for e in s.commits if e >= first_batch
    ]
    out["sink.write_ms"] = statistics.median(writes) if writes else 0.0
    out["stream.force_ms"] = max(0.0, out["stream.add_batch_ms"] - out["sink.write_ms"])
    out.update(spark_probe.spark_layer(ctx.store.totals(ctx.store.job_ids(job0))))
    return out


# ---------------------------------------------------------------------------
# backfill_t9
# ---------------------------------------------------------------------------


def run_backfill(ctx) -> Outcome:
    spark, tracer = ctx.spark, ctx.tracer
    rows = ctx.scale(BACKFILL_ROWS_PER_FILE, 10_000)
    n_files = max(BACKFILL_WARM_FILES, round(ctx.seconds * BACKFILL_FILES_PER_S))
    stages = stage_chain(ctx.t9_script)
    with tracer.span("input.prepare"):
        src = fresh_dir(os.path.join(ctx.work, "backlog"))
        warm = fresh_dir(os.path.join(ctx.work, "backlog-warm"))
        for i in range(n_files):
            name = f"b{i:05d}.parquet"
            datagen.write_readings(os.path.join(src, name), ctx.seed, i * rows, rows)
            if i < BACKFILL_WARM_FILES:
                os.link(os.path.join(src, name), os.path.join(warm, name))
    with tracer.span("warmup"):
        drain(spark, warm, stages, ctx.work, "warm", 1)
    job0 = max(ctx.store.job_ids(), default=-1) if ctx.store else -1

    ctx.mark_timed(time.time())
    with tracer.span("timed") as ctx.timed_span:
        with tracer.span("drain"):
            d0, d1, sink, q = drain(spark, src, stages, ctx.work, "timed", 1)
        with tracer.span("check"):
            failed = failed_files(sink.path, ctx.seed, [i * rows for i in range(n_files)], rows)
    batch_lat, prev = [], d0
    for e in sorted(sink.commits):
        batch_lat.append((sink.commits[e] - prev) * 1000.0)
        prev = sink.commits[e]
    log(f"backfill_t9: batch latencies ms {[round(b) for b in batch_lat]}")
    attempted = n_files
    metrics = {
        "p50_latency_ms": percentile(batch_lat, 50),
        "p95_latency_ms": percentile(batch_lat, 95),
        "throughput_rows_s": rows * n_files / (d1 - d0),
        "pass_s": d1 - d0,
        "query_geomean_ms": geomean(batch_lat),
    }
    layers = {
        "gen.late_p95_ms": 0.0,
        "gen.late_max_ms": 0.0,
        "source.backlog_max_files": float(n_files),
    }
    if ctx.trace:
        layers.update(_stream_trace(ctx, [q], [sink], job0, d1 - d0))
        layers.update(t9_layer(spark, ctx, stages))
        # the catalog query layer; python_filter_scale35 runs T9 in batch mode
        from catalog import catalog_layers  # noqa: PLC0415

        queries_attempted, queries_failed, catalog = catalog_layers(ctx)
        attempted += queries_attempted
        failed += queries_failed
        layers.update(catalog)
    return Outcome(attempted=attempted, failed=failed, metrics=metrics, layers=layers)
