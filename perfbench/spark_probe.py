"""What the benchmark reads from Spark itself: session start, streaming
progress events, the file source's checkpoint log and the status stores.

The status stores and the progress listener are read only in traced runs.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from common import percentile


def start_session(work: str):
    """The engine's own session factory, with scratch kept in ``work``."""
    from foglamp_filter_python35_spark.session import get_spark  # noqa: PLC0415

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # JVM temp files, hsperfdata included, stay out of /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def jvm_memory(spark):
    """A function returning the JVM memory the engine holds outside the
    Java heap: the non-heap pools (metaspace, code cache) and the direct
    and mapped buffers that Arrow and the shuffle use.

    The heap is left out.  With the engine's 8g cap and no concurrent
    marking cycle in a run this short, G1's old generation only
    accumulates what young collections promote, garbage included: its
    peak moved by a fifth between identical catalog runs.  Heap pressure
    shows in ``spark.gc_ms``."""
    jvm = spark._jvm  # noqa: SLF001
    mf = jvm.java.lang.management.ManagementFactory
    mx = mf.getMemoryMXBean()
    buffers = list(mf.getPlatformMXBeans(jvm.java.lang.Class.forName("java.lang.management.BufferPoolMXBean")))

    def used() -> int:
        return mx.getNonHeapMemoryUsage().getUsed() + sum(b.getMemoryUsed() for b in buffers)

    return used


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# streaming progress (traced runs)
# ---------------------------------------------------------------------------


class ProgressLog(StreamingQueryListener):
    """Every trigger's progress: ``recentProgress`` keeps only the last
    100, a listener sees them all."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.append(p)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def for_query(self, run_id: str) -> list[dict]:
        with self._lock:
            return [e for e in self.events if e["runId"] == run_id and e["numInputRows"] > 0]


def _iso_to_epoch(ts: str) -> float:
    from datetime import datetime  # noqa: PLC0415

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def trigger_metrics(progress: list[dict], window_s: float) -> dict[str, float]:
    """Per-trigger fixed cost and ``foreachBatch`` body from progress
    events of triggers that carried data."""
    def med(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) for p in progress]
        return float(statistics.median(vals)) if vals else 0.0

    trig = [float(p["durationMs"]["triggerExecution"]) for p in progress]
    rows = [p["numInputRows"] for p in progress]
    busy = sum(trig) / 1000.0
    return {
        "stream.wal_commit_ms": med("walCommit"),
        "stream.commit_ms": med("commitOffsets"),
        "stream.planning_ms": med("queryPlanning"),
        "source.latest_offset_ms": med("latestOffset"),
        "stream.add_batch_ms": med("addBatch"),
        "stream.trigger_ms": float(statistics.median(trig)) if trig else 0.0,
        "stream.trigger_p95_ms": percentile(trig, 95) if trig else 0.0,
        "stream.triggers": float(len(progress)),
        "stream.rows_per_trigger": float(statistics.median(rows)) if rows else 0.0,
        "stream.idle_frac": max(0.0, 1.0 - busy / window_s) if window_s > 0 else 0.0,
    }


def trigger_spans(tracer, progress: list[dict], parent: int | None) -> dict[int, int]:
    """One span per trigger with its phases as children, laid end to end
    in the order the micro-batch runs them (progress events carry only
    their durations); returns ``batchId -> addBatch span id`` so the
    sink's own spans can hang under the ``foreachBatch`` body."""
    out = {}
    for p in progress:
        start = _iso_to_epoch(p["timestamp"])
        d = p["durationMs"]
        sid = tracer.add("stream.trigger", start, start + d["triggerExecution"] / 1000.0, parent)
        cursor = start
        for phase in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
            if phase in d:
                pid = tracer.add(f"stream.{phase}", cursor, cursor + d[phase] / 1000.0, sid)
                cursor += d[phase] / 1000.0
                if phase == "addBatch":
                    out[p["batchId"]] = pid
    return out


# ---------------------------------------------------------------------------
# file source checkpoint log: which files each batch read
# ---------------------------------------------------------------------------


def source_batches(checkpoint: str) -> dict[str, int]:
    """``file name -> batchId`` from ``<checkpoint>/sources/0``.  Every
    tenth batch the log compacts earlier entries into ``N.compact``; each
    entry carries its own ``batchId``."""
    d = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith(".") or not (name.isdigit() or name.endswith(".compact")):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


# ---------------------------------------------------------------------------
# status stores (traced runs)
# ---------------------------------------------------------------------------


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class StatusStore:
    """Jobs, stages and task metrics from the in-process status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()  # noqa: SLF001

    def job_ids(self, after_job: int = -1) -> list[int]:
        return [j.jobId() for j in _seq(self.store.jobsList(None)) if j.jobId() > after_job]

    def group_job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def totals(self, job_ids: list[int]) -> dict[str, float]:
        """Execution totals over the given jobs."""
        jobs = [self.store.job(i) for i in job_ids]
        stage_ids = sorted({int(s) for j in jobs for s in _seq(j.stageIds())})
        tasks = run_ms = gc_ms = shuffle_w = spill = 0.0
        skews = []
        n_stages = 0
        quantiles = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 2)  # noqa: SLF001
        quantiles[0], quantiles[1] = 0.5, 1.0
        for sid in stage_ids:
            try:
                attempts = _seq(self.store.stageData(sid, False, None, False, quantiles))
            except Exception:  # noqa: BLE001 — skipped stages have no data
                continue
            for st in attempts:
                if st.numCompleteTasks() == 0:
                    continue
                n_stages += 1
                tasks += st.numCompleteTasks()
                run_ms += st.executorRunTime()
                gc_ms += st.jvmGcTime()
                shuffle_w += st.shuffleWriteBytes()
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
                summary = self.store.taskSummary(sid, st.attemptId(), quantiles)
                if summary.isDefined() and st.numCompleteTasks() > 1:
                    rt = summary.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    if med > 0:
                        skews.append(mx / med)
        return {
            "jobs": float(len(jobs)),
            "stages": float(n_stages),
            "tasks": tasks,
            "run_ms": run_ms,
            "gc_ms": gc_ms,
            "shuffle_write_mb": shuffle_w / 2**20,
            "spill_mb": spill / 2**20,
            "task_skew": max(skews) if skews else 1.0,
        }


def spark_layer(totals: dict[str, float]) -> dict[str, float]:
    return {
        f"spark.{k}": totals[k]
        for k in ("jobs", "stages", "tasks", "shuffle_write_mb", "spill_mb", "task_skew", "gc_ms")
    }


def count_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    return plan.count("Exchange ")


def wait_for(cond, timeout_s: float, poll_s: float = 0.05) -> bool:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if cond():
            return True
        time.sleep(poll_s)
    return cond()
