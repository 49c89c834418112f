"""Measured streaming throughput: the reference's own workload shape.

The reference is a micro-batch filter: upstream pushes a ReadingSet,
one GIL-serialized Python call transforms it, the result flows to the
next stage (plugin.cpp:226-352).  `bench.py` measures that boundary in
BATCH mode (mapInArrow vs the simulated single-interpreter loop); this
tool measures it END-TO-END ON STRUCTURED STREAMING — source, filter
chain, S3 error contract, sink, checkpointing — the way a deployment
actually runs it, at two micro-batch shapes:

- throughput shape: few large batches (Arrow amortized, the 100 TB
  replay/backfill case);
- latency shape: many small batches (per-trigger overhead dominates,
  the edge-gateway case the reference serves — its batches are
  O(100-1000) readings).

Variants, all driven through ``run_micro_batch_pipeline`` (the S1-S3
dataflow with lineage observe + degraded-path wrapper) except the
stateful one:

- passthrough: disabled stage (C4) — the pipeline floor: source scan,
  checkpoint commit, noop sink.
- scale_jvm: T1 affine map via Catalyst ``transform_values`` — the
  JVM-native path a Spark-first rewrite makes possible.
- python_filter: T9 — the reference CONTRACT path (list-of-dicts
  filter fn run via Arrow-batched mapInArrow, executor-parallel).
- deadband_stateful: G34 ``applyInPandasWithState`` — cross-batch
  state, the T10 buffering contract.

A single-threaded reference simulation (the same list-of-dicts loop
bench.py times: marshal + transform + validate/rebuild per batch,
python35_filter.cpp:35-258) gives the architectural bound of the
reference's one-interpreter design on this box; streaming rows/sec
above it means the Spark pipeline beats the reference WITH
checkpointing and lineage on.

Usage (run alone — co-tenant Spark sessions contaminate timings):
    python tools/stream_probe.py            # build + run, ~3 min
    python tools/stream_probe.py --shapes 10x100000
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

PROBE_ROOT = "/tmp/stream_probe"
N_ASSETS = 50


def _scale_fn(readings):
    """The reference's canonical transform (examples/scale35.py:110-121)."""
    for r in readings:
        new = {}
        for k, v in r["reading"].items():
            new[k] = v * 5.0 + 10.0 if isinstance(v, (int, float)) else v
        r["reading"] = new
    return readings


def _gen_source(spark, src_dir: str, n_batches: int, batch_rows: int) -> None:
    """One parquet file per intended micro-batch, written sequentially so
    FileStreamSource (mod-time order) replays them as authored; event
    time (user_ts) increases across batches so watermarks advance."""
    from pyspark.sql import functions as F

    shutil.rmtree(src_dir, ignore_errors=True)
    os.makedirs(src_dir, exist_ok=True)
    for b in range(n_batches):
        lo = b * batch_rows
        df = (
            spark.range(lo, lo + batch_rows)
            .select(
                F.col("id"),
                F.concat(
                    F.lit("asset"), (F.col("id") % N_ASSETS).cast("string")
                ).alias("asset_code"),
                F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias(
                    "ts"
                ),
                F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias(
                    "user_ts"
                ),
                F.map_from_arrays(
                    F.array(F.lit("value"), F.lit("k")),
                    F.array(
                        # step series: long flat runs + jumps, so deadband
                        # suppresses some rows and emits others
                        (F.floor(F.col("id") / 40) % 13).cast("double"),
                        (F.col("id") % 97).cast("double"),
                    ),
                ).alias("reading"),
                F.map_from_arrays(
                    F.array(F.lit("src")),
                    F.array(F.lit("stream_probe")),
                ).alias("reading_str"),
            )
            .coalesce(1)
        )
        df.write.mode("append").parquet(src_dir)


def _read_stream(spark, src_dir: str, max_files_per_trigger: int = 1):
    from foglamp_filter_python35_spark.datamodel import READING_SCHEMA

    return (
        spark.readStream.schema(READING_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(src_dir)
    )


def _drain(q) -> None:
    q.awaitTermination()


def _run_pipeline_variant(
    spark, src_dir: str, stages, max_files_per_trigger: int = 1
) -> float:
    from foglamp_filter_python35_spark.streaming.pipeline import (
        run_micro_batch_pipeline,
    )

    ck = os.path.join(PROBE_ROOT, f"ck-{uuid.uuid4().hex[:8]}")

    def sink(df, _epoch) -> None:
        df.write.format("noop").mode("overwrite").save()

    t0 = time.perf_counter()
    q = run_micro_batch_pipeline(
        _read_stream(spark, src_dir, max_files_per_trigger),
        stages,
        sink,
        checkpoint_dir=ck,
        trigger={"availableNow": True},
    )
    _drain(q)
    wall = time.perf_counter() - t0
    shutil.rmtree(ck, ignore_errors=True)
    return wall


def _run_deadband_variant(spark, src_dir: str) -> float:
    from pyspark.sql import functions as F

    from foglamp_filter_python35_spark.streaming.pipeline import (
        stream_deadband,
    )

    ck = os.path.join(PROBE_ROOT, f"ck-{uuid.uuid4().hex[:8]}")
    stream = _read_stream(spark, src_dir).withColumn(
        "value", F.col("reading")["value"]
    )
    out = stream_deadband(stream, tolerance=0.5, watermark="0 seconds")
    t0 = time.perf_counter()
    q = (
        out.writeStream.format("noop")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    _drain(q)
    wall = time.perf_counter() - t0
    shutil.rmtree(ck, ignore_errors=True)
    return wall


def _reference_sim(spark, src_dir: str, batch_rows: int) -> float:
    """rows/sec of the single-interpreter list-of-dicts loop on the SAME
    rows: marshal out + transform + validate/rebuild, one batch at a
    time, exactly bench.py's simulation of plugin.cpp:262-287."""
    rows = spark.read.parquet(src_dir).collect()
    t0 = time.perf_counter()
    kept = []
    for start in range(0, len(rows), batch_rows):
        wire = [
            {
                "asset_code": r["asset_code"],
                "reading": dict(r["reading"]),
                "id": r["id"],
                "ts": r["ts"],
                "user_ts": r["user_ts"],
            }
            for r in rows[start : start + batch_rows]
        ]
        result = _scale_fn(wire)
        kept.extend(
            {**r, "reading": dict(r["reading"])}
            for r in result
            if r["reading"]
        )
    secs = time.perf_counter() - t0
    n = len(rows)
    del rows, kept
    return n / secs


def _variants(spark):
    from foglamp_filter_python35_spark.config import FilterConfig
    from foglamp_filter_python35_spark.operators.python_filter import (
        run_python_filter,
    )
    from foglamp_filter_python35_spark.registry import REGISTRY, Stage

    import foglamp_filter_python35_spark.operators.readings  # noqa: F401

    return {
        "passthrough": [
            REGISTRY.stage("identity", FilterConfig(name="identity"))
        ],  # enable=False: C4 pass-through
        "scale_jvm": [
            REGISTRY.stage(
                "scale", FilterConfig(name="scale", enable=True)
            )
        ],
        "python_filter": [
            Stage(
                name="python_scale35",
                fn=lambda df, cfg: run_python_filter(df, _scale_fn, cfg),
                config=FilterConfig(name="python_scale35", enable=True),
            )
        ],
    }


def _coalesce_ab(spark, attempts: int) -> None:
    """The documented answer to the small-trigger floor, measured
    (VERDICT r7 ask #6): the SAME 50x1000-row file drop consumed at
    ``maxFilesPerTrigger`` 1 / 10 / 50.  Per-trigger fixed cost
    (checkpoint commit + source listing + schedule)
    is paid per micro-batch, so coalescing k files per trigger divides
    the floor by ~k until the batch is big enough for Arrow/codegen to
    amortize.  Latency trade: a reading waits for its trigger, so k
    files of upstream lag bound freshness — the dial, not a free lunch.
    """
    n_batches, batch_rows = 50, 1000
    total = n_batches * batch_rows
    src = os.path.join(PROBE_ROOT, f"src-{n_batches}x{batch_rows}")
    _gen_source(spark, src, n_batches, batch_rows)
    variants = _variants(spark)
    rows = []
    for mfpt in (1, 10, 50):
        row: dict[str, object] = {"max_files_per_trigger": mfpt}
        for name in ("passthrough", "python_filter"):
            best = min(
                _run_pipeline_variant(spark, src, variants[name], mfpt)
                for _ in range(attempts)
            )
            row[name] = round(total / best)
            print(
                f"mfpt={mfpt} {name}: {total / best:,.0f} rows/s",
                file=sys.stderr,
            )
        rows.append(row)
    print(json.dumps({"coalesce_ab_50x1000": rows}))
    print("\n| maxFilesPerTrigger | passthrough rows/s | python_filter rows/s |")
    print("|---|---|---|")
    for r in rows:
        print(
            f"| {r['max_files_per_trigger']} | {r['passthrough']:,} "
            f"| {r['python_filter']:,} |"
        )


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument(
        "--shapes",
        default="50x1000,10x100000",
        help="comma-separated batchesxrows shapes",
    )
    p.add_argument("--attempts", type=int, default=2)
    p.add_argument(
        "--coalesce-ab",
        action="store_true",
        help="run the maxFilesPerTrigger 1/10/50 A/B on 50x1000 instead",
    )
    args = p.parse_args()
    shapes = []
    for s in args.shapes.split(","):
        nb, br = s.lower().split("x")
        shapes.append((int(nb), int(br)))

    from foglamp_filter_python35_spark.session import get_spark

    spark = get_spark(app_name="stream_probe")
    spark.sparkContext.setLogLevel("ERROR")

    if args.coalesce_ab:
        _coalesce_ab(spark, args.attempts)
        spark.stop()
        return

    results: dict[str, dict] = {}
    for n_batches, batch_rows in shapes:
        shape = f"{n_batches}x{batch_rows}"
        src = os.path.join(PROBE_ROOT, f"src-{shape}")
        _gen_source(spark, src, n_batches, batch_rows)
        total = n_batches * batch_rows
        row: dict[str, float] = {
            "batches": n_batches,
            "rows_per_batch": batch_rows,
        }

        for name, stages in _variants(spark).items():
            best = min(
                _run_pipeline_variant(spark, src, stages)
                for _ in range(args.attempts)
            )
            row[name] = round(total / best)
            print(f"{shape} {name}: {total / best:,.0f} rows/s", file=sys.stderr)
        best = min(
            _run_deadband_variant(spark, src) for _ in range(args.attempts)
        )
        row["deadband_stateful"] = round(total / best)
        print(
            f"{shape} deadband_stateful: {total / best:,.0f} rows/s",
            file=sys.stderr,
        )
        row["reference_sim"] = round(_reference_sim(spark, src, batch_rows))
        print(
            f"{shape} reference_sim: {row['reference_sim']:,.0f} rows/s",
            file=sys.stderr,
        )
        row["python_filter_vs_reference"] = round(
            row["python_filter"] / row["reference_sim"], 2
        )
        results[shape] = row

    print(json.dumps({"streaming_rows_per_sec": results}))
    print("\n| shape | passthrough | scale_jvm | python_filter | deadband | ref sim | T9 speedup |")
    print("|---|---|---|---|---|---|---|")
    for shape, r in results.items():
        print(
            f"| {shape} | {r['passthrough']:,} | {r['scale_jvm']:,} "
            f"| {r['python_filter']:,} | {r['deadband_stateful']:,} "
            f"| {r['reference_sim']:,} | {r['python_filter_vs_reference']}x |"
        )
    spark.stop()


if __name__ == "__main__":
    main()
