"""Paired A/B timing of two commits, BASE against CHANGE, from clean
``git worktree`` checkouts; pair ``i`` runs BASE first when ``i`` is even.

    python3 tools/ab.py 9911545 HEAD --workload edge_t9 --pairs 10
    python3 tools/ab.py 9911545 HEAD --queries text_stats --sf-dir DIR

Workload mode reads the last JSON line of ``perfbench/run.py`` (CHANGE's
``run_seconds``, seed ``--seed + i``).  Query mode, per side and pair in a
fresh session, after a warm-up: the median of ``--builds`` in-process
``spec.fn`` calls and one noop-write exec.  Per metric it prints each
side's median and IQR and the pairs the change won (ties count for
neither); the last stdout line is that as JSON, with every run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

_HERE = os.path.abspath(__file__)
_REPO = os.path.dirname(os.path.dirname(_HERE))


def pair_order(i: int) -> tuple[str, str]:
    return ("base", "change") if i % 2 == 0 else ("change", "base")


def _spread(xs: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
    return {"median": q2, "iqr": q3 - q1}


def summarize(pairs: list[dict], better: dict[str, str]) -> dict:
    """Per metric: each side's median and IQR, and the pairs the change
    won.  ``better`` maps a metric to "higher"; any other is lower-better."""
    out = {}
    for m in sorted(set().union(*(p["base"].keys() & p["change"].keys() for p in pairs))):
        b, c = zip(*[(p["base"][m], p["change"][m]) for p in pairs if m in p["base"] and m in p["change"]])
        sign = 1 if better.get(m) == "higher" else -1
        wins = sum(sign * (y - x) > 0 for x, y in zip(b, c))
        out[m] = {"base": _spread(list(b)), "change": _spread(list(c)), "wins": wins, "pairs": len(b)}
    return out


def _run_json(cmd: list[str], cwd: str, env: dict | None = None) -> dict:
    proc = subprocess.run(cmd, cwd=cwd, env=env, capture_output=True, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} failed in {cwd} (exit {proc.returncode})")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def workload_sample(tree: str, workload: str, seed: int, seconds: float) -> dict:
    res = _run_json([sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
                     str(seed), "--seconds", str(seconds), "--trace", "0"], tree)
    return {n: m["value"] for n, m in res["metrics"].items()}


def query_sample(tree: str, names: list[str], builds: int, sf_dir: str) -> dict:
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(filter(None, [tree, os.environ.get("PYTHONPATH")])))
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    return _run_json([sys.executable, _HERE, "--child", sf_dir, str(builds), *names], tree, env)


def query_child(names: list[str], builds: int, sf_dir: str) -> int:
    """Runs inside a checkout (its engine first on ``sys.path``)."""
    sys.path.insert(0, os.getcwd())
    from foglamp_filter_python35_spark.catalog import all_queries  # noqa: PLC0415
    from foglamp_filter_python35_spark.functions import cache  # noqa: PLC0415
    from foglamp_filter_python35_spark.session import get_spark  # noqa: PLC0415
    spark = get_spark(app_name="ab")
    specs, out = all_queries(), {}
    for name in names:
        fn = specs[name].fn
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        cache.release(blocking=False)
        times = []
        for _ in range(builds):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            times.append(1000.0 * (time.perf_counter() - t0))
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out[f"{name}.exec_ms"] = 1000.0 * (time.perf_counter() - t0)
        out[f"{name}.build_ms"] = statistics.median(times)
        cache.release(blocking=False)
    spark.stop()
    print(json.dumps(out), flush=True)
    return 0


def main() -> int:
    if sys.argv[1:2] == ["--child"]:
        return query_child(sys.argv[4:], int(sys.argv[3]), sys.argv[2])
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("revs", nargs=2, metavar=("BASE", "CHANGE"))
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--workload", help="a perfbench workload, e.g. edge_t9")
    mode.add_argument("--queries", nargs="+", help="catalog query names")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of pair 0; pair i uses seed+i")
    ap.add_argument("--builds", type=int, default=15, help="timed builds per query (>= 15)")
    ap.add_argument("--sf-dir", help="catalog data directory (query mode)")
    args = ap.parse_args()
    if args.queries and (args.builds < 15 or not args.sf_dir):
        ap.error("query mode needs --sf-dir and --builds >= 15")

    git = ["git", "-C", _REPO]
    revs = subprocess.run(git + ["rev-parse", *(f"{r}^{{commit}}" for r in args.revs)],
                          capture_output=True, text=True, check=True).stdout.split()
    root = tempfile.mkdtemp(prefix="ab-")
    trees = {side: os.path.join(root, side) for side in ("base", "change")}
    doc, pairs = {}, []
    try:
        for tree, rev in zip(trees.values(), revs):
            subprocess.run(git + ["worktree", "add", "--detach", "--quiet", tree, rev], check=True)
        if args.workload:
            with open(os.path.join(trees["change"], "BENCHMARK.json")) as f:
                doc = json.load(f)
        for i in range(args.pairs):
            pairs.append({})
            for side in pair_order(i):
                pairs[-1][side] = (
                    workload_sample(trees[side], args.workload, args.seed + i, doc["run_seconds"])
                    if args.workload else query_sample(trees[side], args.queries, args.builds, args.sf_dir))
                print(f"pair {i} {side}: {json.dumps(pairs[-1][side])}", file=sys.stderr, flush=True)
    finally:
        for tree in trees.values():
            subprocess.run(git + ["worktree", "remove", "--force", tree], capture_output=True)
        shutil.rmtree(root, ignore_errors=True)

    better = {m["name"]: m["better"] for m in doc.get("end_to_end", []) + doc.get("per_layer", [])}
    summary = summarize(pairs, better)
    for m, s in summary.items():
        b, c = s["base"], s["change"]
        print(f"{m:44s} base {b['median']:>11.4g} (IQR {b['iqr']:.3g})  "
              f"change {c['median']:>11.4g} (IQR {c['iqr']:.3g})  wins {s['wins']}/{s['pairs']}")
    print(json.dumps({"base": revs[0], "change": revs[1], "metrics": summary, "runs": pairs}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
