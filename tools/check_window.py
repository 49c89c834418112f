"""Driver-style verification of catalog queries against their oracles.

Replicates the round driver's correctness gate (rows + schema +
order-insensitive values via the canonicalizing comparator in
``tests/oracle_utils``) over an arbitrary slice of ``all_queries()``,
so a window rotation or a query change can be validated exactly the
way the driver will see it — without waiting for the round.

Usage::

    python tools/check_window.py                   # first 50 (the driver window), sf0.01
    python tools/check_window.py --start 50        # the rest of the catalog
    python tools/check_window.py --sf-dir /root/testdata/sf0.1 --names span_dedup trigram_lm
    python tools/check_window.py --window-only     # just _DRIVER_WINDOW_ORDER

The last line of output is one JSON object with the per-query result
(``OK`` / ``rows-only`` / ``FAIL``, wall seconds, row count or error),
so a full sweep can be committed as an artifact:

    python tools/check_window.py --count 1000 | tail -n 1 > sweep.json

Exit code 0 iff every checked query passes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("--count", type=int, default=50)
    ap.add_argument("--names", nargs="*", default=None)
    ap.add_argument("--window-only", action="store_true")
    ap.add_argument("--cpus", type=int, default=16)
    args = ap.parse_args()

    from foglamp_filter_python35_spark.catalog import (
        _DRIVER_WINDOW_ORDER,
        all_queries,
    )
    from foglamp_filter_python35_spark.functions import cache
    from foglamp_filter_python35_spark.session import get_spark
    from tests.oracle_utils import compare_spark_vs_oracle

    qs = all_queries()
    if args.names:
        names = args.names
    elif args.window_only:
        names = list(_DRIVER_WINDOW_ORDER)
    else:
        names = list(qs)[args.start : args.start + args.count]
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark(
        app_name="check-window",
        master=f"local[{args.cpus}]",
        shuffle_partitions=args.cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    bad: list[str] = []
    results: dict[str, dict] = {}
    t0 = time.perf_counter()
    for n in names:
        spec = qs[n]
        tq = time.perf_counter()
        try:
            if spec.oracle:
                compare_spark_vs_oracle(spark, spec.fn, spec.oracle, args.sf_dir)
                res = {"status": "OK"}
                print(f"{n}: OK")
            else:
                rows = spec.fn(spark, args.sf_dir).count()
                res = {"status": "rows-only", "rows": rows}
                print(f"{n}: rows-only ({rows} rows)")
        except Exception as exc:  # noqa: BLE001
            bad.append(n)
            res = {"status": "FAIL", "error": str(exc)[:200]}
            print(f"{n}: FAIL {str(exc)[:200]}")
        res["s"] = round(time.perf_counter() - tq, 2)
        results[n] = res
        cache.release()
    print(
        f"\n{len(names) - len(bad)}/{len(names)} pass at {args.sf_dir} "
        f"in {time.perf_counter() - t0:.0f}s"
        + (f"; FAILURES: {bad}" if bad else "")
    )
    spark.stop()
    print(
        json.dumps(
            {
                "sf": os.path.basename(os.path.normpath(args.sf_dir)),
                "passed": len(names) - len(bad),
                "total": len(names),
                "queries": results,
            }
        ),
        flush=True,
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
