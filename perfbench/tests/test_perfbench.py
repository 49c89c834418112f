"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

The helper tests take a second; each smoke test starts Spark once and
runs a workload on tiny inputs (about half a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
from metrics import CATALOG_QUERIES, SELF_TIMES, load_spec  # noqa: E402
from common import Tracer, geomean, percentile  # noqa: E402
from spark_probe import source_batches  # noqa: E402
from streams import BACKFILL_WARM_FILES, delivered_ok, failed_files  # noqa: E402

RAISING = os.path.join(BENCH, "filters", "bench_script_raising.py")
SPEC = load_spec()


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def test_benchmark_json_names_what_the_runner_reports():
    assert SPEC["workloads"] == ["edge_t9", "backfill_t9"]
    assert set(SELF_TIMES) <= set(SPEC["per_layer"])
    assert {f"traced.{n}" for n in SPEC["end_to_end"]} <= set(SPEC["per_layer"])
    for q in CATALOG_QUERIES:
        assert f"catalog.{q}.build_ms" in SPEC["per_layer"]


def test_percentile_and_geomean():
    assert percentile([1.0, 2.0, 3.0, 4.0], 50) == 2.5
    assert percentile([5.0], 95) == 5.0
    assert geomean([1.0, 100.0]) == pytest.approx(10.0)


def test_self_time_subtracts_child_spans():
    t = Tracer(True)
    root = t.add("root", 0.0, 10.0)
    t.add("a", 1.0, 4.0, root)
    t.add("b", 3.0, 6.0, root)  # overlaps a: covered once
    assert t.self_times() == {"root": 5.0, "a": 3.0, "b": 3.0}
    off = Tracer(False)
    with off.span("x") as sid:
        assert sid is None
    assert off.spans == []


def test_inputs_are_a_function_of_the_seed():
    a = datagen.readings_table(7, 100, 50)
    assert a.equals(datagen.readings_table(7, 100, 50))
    assert not a.equals(datagen.readings_table(8, 100, 50))
    t1, t2 = datagen.catalog_tables(0.001, 3), datagen.catalog_tables(0.001, 3)
    assert all(t1[n].equals(t2[n]) for n in datagen.CATALOG_TABLES)


def _sink(tmp_path, seed: int, ids: np.ndarray, transform, name: str = "sink") -> str:
    t = datagen.readings_table(seed, 0, 1000).take(pa.array(ids))
    m = t.column("reading").combine_chunks()
    vals = transform(m.items.to_numpy())
    scaled = pa.MapArray.from_arrays(m.offsets, m.keys, pa.array(vals))
    out = t.set_column(t.schema.get_field_index("reading"), "reading", scaled)
    d = tmp_path / name
    d.mkdir()
    pq.write_table(out, d / "part-0.parquet")
    return str(d)


def test_output_check_accepts_t1_then_t9(tmp_path):
    sink = _sink(tmp_path, 5, np.arange(200), datagen.expected)
    assert failed_files(sink, 5, [0, 100], 100) == 0
    assert len(delivered_ok(sink, 5)) == 200


def test_output_check_catches_passthrough_duplicates_and_loss(tmp_path):
    # T9 passing input through leaves only T1 applied
    sink = _sink(tmp_path, 5, np.arange(200), lambda v: v * 5.0 + 10.0)
    assert failed_files(sink, 5, [0, 100], 100) == 2
    ids = np.r_[np.arange(100), np.arange(100, 150), 0]  # rows 150.. lost, id 0 twice
    sink = _sink(tmp_path, 5, ids, datagen.expected, name="partial")
    assert failed_files(sink, 5, [0, 100], 100) == 2


def test_source_log_maps_files_to_batches_across_compaction(tmp_path):
    d = tmp_path / "sources" / "0"
    d.mkdir(parents=True)
    entry = '{{"path":"file:///x/{f}","timestamp":1,"batchId":{b}}}'
    (d / "9.compact").write_text("v1\n" + "\n".join(entry.format(f=f"p{i}", b=i) for i in range(10)) + "\n")
    (d / "10").write_text("v1\n" + entry.format(f="p10", b=10) + "\n")
    (d / ".10.crc").write_text("")
    batches = source_batches(str(tmp_path))
    assert batches["p3"] == 3 and batches["p10"] == 10 and len(batches) == 11


# ---------------------------------------------------------------------------
# smoke runs: the real command on tiny inputs
# ---------------------------------------------------------------------------


def _run(cwd: str, *args: str) -> tuple[int, dict | None, str]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return p.returncode, result, p.stderr


def _check_shape(result: dict, units: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    assert {n: m["unit"] for n, m in result["metrics"].items()} == units


@pytest.mark.parametrize("workload", SPEC["workloads"])
def test_smoke_untraced_reports_every_end_to_end_metric(workload):
    code, result, err = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "3", "--smoke")
    assert code == 0, err[-3000:]
    _check_shape(result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0
    assert result["metrics"]["ok_frac"]["value"] == 1.0
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_smoke_traced_reports_every_layer_metric():
    code, result, err = _run(ROOT, "--workload", "backfill_t9", "--seed", "3", "--seconds", "3", "--smoke", "--trace", "1")
    assert code == 0, err[-3000:]
    _check_shape(result, SPEC["per_layer"])
    m = {n: v["value"] for n, v in result["metrics"].items()}
    # one trigger per timed backlog file
    assert m["stream.triggers"] >= BACKFILL_WARM_FILES
    assert m["t9.to_wire_ms"] > 0 and m["spark.jobs"] > 0
    # the catalog pass runs the smoke queries
    assert m["catalog.scale35.build_ms"] > 0 and m["catalog.pricing_summary.stages"] > 0
    assert m["traced.ok_frac"] == 1.0 and m["session.start_s"] > 0
    assert "spans written" in err


@pytest.mark.parametrize("workload", ["edge_t9", "backfill_t9"])
def test_always_raising_t9_fails_every_operation(workload):
    code, result, err = _run(
        ROOT, "--workload", workload, "--seed", "3", "--seconds", "3", "--smoke", "--t9-script", RAISING
    )
    assert code == 0, err[-3000:]
    assert not result["correct"]
    assert result["failed"] == result["attempted"]  # failed fraction 1.0
    assert result["metrics"]["ok_frac"]["value"] == 0.0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    code, result, _err = _run(str(tmp_path), "--workload", "edge_t9", "--seed", "1", "--seconds", "3", "--trace", "0")
    assert code != 0 and result is None
