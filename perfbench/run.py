"""Benchmark entry point: runs one workload and prints one JSON result.

    python3 perfbench/run.py --workload edge_t9 --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout.  Workloads: ``edge_t9`` and
``backfill_t9`` (see ``perfbench/README.md``).  The last
line of stdout is ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones, measured in a run that also records spans.  Progress,
the machine stamp and the tracing overhead go to stderr.  Scratch files
live under ``.perfbench/`` in the checkout; results, spans and cached
oracle fingerprints stay there after the run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from common import (  # noqa: E402
    MemorySampler,
    Tracer,
    descendants,
    fresh_dir,
    log,
    process_start_time,
)
from datagen import readings_table  # noqa: E402
from metrics import SELF_TIMES, load_spec  # noqa: E402

T9_SCRIPT = os.path.join(HERE, "filters", "bench_script_scale35.py")


@dataclass
class RunContext:
    """Everything a workload needs: where to write, its inputs' seed and
    length, and the session, tracer and probes of this run."""

    work: str
    cache: str
    seed: int
    seconds: float
    trace: bool
    smoke: bool
    t9_script: str
    tracer: Tracer
    sampler: MemorySampler
    spark: object = None
    store: object = None
    progress: object = None
    children: list = field(default_factory=list)
    t_timed: float | None = None
    timed_span: int | None = None

    def mark_timed(self, t: float) -> None:
        """Record when the first timed operation starts (ends set-up)."""
        self.t_timed = t

    def scale(self, full: int, smoke: int) -> int:
        return smoke if self.smoke else full


def _pin_environment(root: str, work: str) -> int:
    """CPUs, import path and scratch locations for Spark and its Python
    workers.  The session defaults to ``local[32]`` unless
    ``SPARK_GRAFT_CPUS`` says otherwise, and workers that cannot import
    the engine fail with ModuleNotFoundError."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = fresh_dir(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    if root not in sys.path:
        sys.path.insert(1, root)
    return cpus


def _reap(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait until every pid has exited; kill what is left at the end."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}") and not _zombie(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _cpu_ticks() -> list[int]:
    """Machine-wide CPU ticks (user, nice, system, idle, iowait, irq,
    softirq, steal, ...) from ``/proc/stat``; steal is time the host gave
    these CPUs to someone else."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def reference_sim_rows_s(seed: int, rows: int = 30_000, batch: int = 10_000) -> float:
    """Box-speed control: the reference's single-interpreter loop (build
    list-of-dicts, call scale35, validate and rebuild) over backfill-shaped
    rows.  No program code runs in it."""
    table = readings_table(seed, 0, rows).to_pylist()

    def scale35(readings):
        for r in readings:
            r["reading"] = {k: v * 5.0 + 10.0 for k, v in r["reading"].items()}
        return readings

    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        kept = []
        for s in range(0, rows, batch):
            wire = [
                {"asset_code": r["asset_code"], "reading": dict(r["reading"]),
                 "id": r["id"], "ts": r["ts"], "user_ts": r["user_ts"]}
                for r in table[s:s + batch]
            ]
            kept.extend({**r, "reading": dict(r["reading"])} for r in scale35(wire) if r["reading"])
        walls.append(time.perf_counter() - t0)
    return rows / statistics.median(walls)


def _runner(name: str):
    from streams import run_backfill, run_edge  # noqa: PLC0415

    return {"edge_t9": run_edge, "backfill_t9": run_backfill}[name]


def main(argv: list[str] | None = None) -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    spec = load_spec()
    ap.add_argument("--workload", required=True, choices=spec["workloads"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the timed phase")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    ap.add_argument("--t9-script", default=T9_SCRIPT, help="T9 filter script (tests inject a failing one)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "foglamp_filter_python35_spark", "__init__.py")):
        log(f"no foglamp_filter_python35_spark package under {root}: run from the root of a checkout")
        return 2
    base = os.path.join(root, ".perfbench")
    work = fresh_dir(os.path.join(base, f"run-{os.getpid()}"))
    cpus = _pin_environment(root, work)
    load_before = os.getloadavg()
    cpu_before = _cpu_ticks()

    import spark_probe  # noqa: PLC0415 — imports pyspark

    tracer = Tracer(bool(args.trace))
    ctx = RunContext(
        work=work, cache=base, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
        smoke=args.smoke, t9_script=os.path.abspath(args.t9_script), tracer=tracer,
        sampler=MemorySampler(cpus).start(),
    )
    stamp = {"nproc": os.cpu_count(), "cpus_requested": cpus}
    spark_pids: list[int] = []
    try:
        with tracer.span("run"):
            with tracer.span("session.start"):
                t0 = time.time()
                ctx.spark = spark_probe.start_session(work)
                session_s = time.time() - t0
            spark_pids = descendants(os.getpid())
            ctx.sampler.jvm_bytes = spark_probe.jvm_memory(ctx.spark)
            sc = ctx.spark.sparkContext
            stamp.update(
                default_parallelism=sc.defaultParallelism, master=sc.master,
                spark=ctx.spark.version, pyarrow=__import__("pyarrow").__version__,
            )
            if ctx.trace:
                ctx.store = spark_probe.StatusStore(ctx.spark)
                ctx.progress = spark_probe.ProgressLog()
                ctx.spark.streams.addListener(ctx.progress)
            outcome = _runner(args.workload)(ctx)
    finally:
        for p in ctx.children:
            if p.poll() is None:
                p.kill()
            p.wait()
        peak_mb = ctx.sampler.stop()
        spark_pids = sorted(set(spark_pids) | set(descendants(os.getpid())))
        if ctx.spark is not None:
            spark_probe.stop_session(ctx.spark)
        _reap(spark_pids)

    control = reference_sim_rows_s(args.seed)
    cpu_after = _cpu_ticks()
    busy = [a - b for a, b in zip(cpu_after, cpu_before)]
    stamp.update(
        load_before=load_before, load_after=os.getloadavg(),
        steal_frac=busy[7] / max(1, sum(busy)), **{"control.ref_sim_rows_s": control},
    )
    log(f"stamp {json.dumps(stamp)}")

    e2e = {
        "setup_s": ctx.t_timed - t_proc,
        "peak_rss_mb": peak_mb,
        "ok_frac": 1.0 - outcome.failed / outcome.attempted,
        **outcome.metrics,
    }
    results_dir = os.path.join(base, "results")
    os.makedirs(results_dir, exist_ok=True)
    size = "-smoke" if args.smoke else ""
    untraced_path = os.path.join(results_dir, f"{args.workload}{size}-untraced.json")
    if ctx.trace:
        self_s = tracer.self_times()
        layers = dict(outcome.layers)
        layers["session.start_s"] = session_s
        layers["control.ref_sim_rows_s"] = control
        for name, spans in SELF_TIMES.items():
            layers[name] = 1000.0 * sum(self_s.get(s, 0.0) for s in spans)
        for name, value in e2e.items():
            layers[f"traced.{name}"] = value
        # a layer this workload does not exercise reads 0
        metrics = {n: (float(layers.get(n, 0.0)), unit) for n, unit in spec["per_layer"].items()}
        tracer.dump(os.path.join(results_dir, f"{args.workload}{size}-seed{args.seed}-spans.json"))
        log(f"{len(tracer.spans)} spans written")
        _report_overhead(untraced_path, e2e)
    else:
        metrics = {n: (float(e2e[n]), unit) for n, unit in spec["end_to_end"].items()}
        with open(untraced_path, "w") as f:
            json.dump({"seed": args.seed, "metrics": e2e, "stamp": stamp}, f)
    shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def _report_overhead(untraced_path: str, traced: dict[str, float]) -> None:
    """Tracing overhead: this traced run's end-to-end numbers beside the
    last untraced run of the same workload in this checkout."""
    if not os.path.exists(untraced_path):
        log("tracing overhead: no untraced run of this workload to compare with")
        return
    with open(untraced_path) as f:
        base = json.load(f)["metrics"]
    for name, value in traced.items():
        if base.get(name):
            log(f"tracing overhead {name}: untraced {base[name]:.4g} traced {value:.4g} "
                f"({100.0 * (value - base[name]) / base[name]:+.1f}%)")


if __name__ == "__main__":
    raise SystemExit(main())
