"""Open-loop load generator for ``edge_t9``: a separate process.

It pre-renders every readings file into a staging directory, prints
``ready``, reads the start time ``t0`` (epoch seconds) from stdin, and
then at each tick ``t0 + i / rate`` only publishes file ``i`` by an
atomic rename into the source directory.  Building parquet at each tick
made a generator run hundreds of milliseconds late.  At exit it writes
the scheduled and actual publish times as JSON.

    python3 perfbench/generator.py --seed 1 --staging S --src D \\
        --files 200 --rows 100 --rate 10 --log gen.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--staging", required=True)
    ap.add_argument("--src", required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True, help="files per second")
    ap.add_argument("--log", required=True)
    args = ap.parse_args()

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import datagen  # noqa: PLC0415

    names = [f"part-{i:05d}.parquet" for i in range(args.files)]
    for i, name in enumerate(names):
        datagen.write_readings(os.path.join(args.staging, name), args.seed, i * args.rows, args.rows)
    print("ready", flush=True)
    t0 = float(sys.stdin.readline())

    scheduled, published = [], []
    for i, name in enumerate(names):
        due = t0 + i / args.rate
        while (wait := due - time.time()) > 0:
            time.sleep(min(wait, 0.05) if wait > 0.002 else 0)
        os.rename(os.path.join(args.staging, name), os.path.join(args.src, name))
        scheduled.append(due)
        published.append(time.time())
    with open(args.log, "w") as f:
        json.dump({"files": names, "scheduled": scheduled, "published": published}, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
