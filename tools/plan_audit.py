"""Physical-plan anti-pattern audit over the whole catalog.

Builds (does NOT execute) every catalog query's plan and scans the
optimized + physical plan text for the scale anti-patterns this repo
bans (SCALE.md "Python-boundary rules", VERDICT grep audits):

- ``BatchEvalPython`` — a row-at-a-time Python UDF in the plan.  HARD
  FAIL: every Python hop must be Arrow-batched (mapInPandas /
  applyInPandas(WithState) → ``MapInPandas``/``FlatMapGroupsInPandas``
  nodes, which are allowed and counted separately).
- ``CartesianProduct`` — a non-broadcast cartesian join.  HARD FAIL:
  every deliberate cross join in the catalog broadcasts a one-row or
  centroid-sized frame (→ ``BroadcastNestedLoopJoin``, allowed and
  counted).

Also reported (informational, not gating): per-query counts of
``Exchange`` (shuffles), ``BroadcastExchange``, ``SortMergeJoin``,
``BroadcastHashJoin``, and Arrow Python nodes — the shuffle census a
100 TB plan review starts from.

Column pruning: a full-width scan of a wide (>5 col) table is reported
under ``unpruned_wide_scans`` UNLESS the (query, table) pair is in
``ALLOWED_FULL_SCANS`` — scans that are the operator's contract (e.g.
the T9 python filter hands whole readings to the user script).  Allowed
hits are listed separately with their reason, so a clean audit prints
``"bad": {}, "unpruned_wide_scans": {}`` and any NEW wide scan stands
out (r12 verdict ask #3).

Usage::

    python tools/plan_audit.py                      # all queries, sf0.001
    python tools/plan_audit.py --names a b c        # subset
    python tools/plan_audit.py --sf-dir /root/testdata/sf0.01

Exit 0 iff no hard anti-pattern is found.  Plan construction only —
no query is executed, so the audit is cheap at any sf (a handful of
queries launch small sizing/seed jobs at plan-build time; that is the
documented interactive-convenience path, not execution of the plan).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

HARD = ("CartesianProduct", "BatchEvalPython")

# Full-width scans that are the OPERATOR'S CONTRACT, not a pruning miss.
# query name -> {table: reason}.  These are reported separately (never in
# ``unpruned_wide_scans``) so the audit output is empty-when-clean and any
# NEW wide scan stands out instead of hiding next to a known one.
ALLOWED_FULL_SCANS: dict[str, dict[str, str]] = {
    "python_filter_scale35": {
        "events": (
            "T9 contract: the arbitrary per-batch Python filter hands the "
            "user's script WHOLE readings — every column — by definition "
            "(fsp/operators/python_filter.py); pruning would change the "
            "wire payload the script sees"
        ),
    },
}
COUNTED = (
    "Exchange",
    "BroadcastExchange",
    "SortMergeJoin",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
)


def _counts(plan: str) -> dict[str, int]:
    out = {}
    for tok in COUNTED + HARD:
        # "Exchange" must not also count "BroadcastExchange"
        pat = (
            r"(?<!Broadcast)Exchange"
            if tok == "Exchange"
            else re.escape(tok)
        )
        out[tok] = len(re.findall(pat, plan))
    return out


def _table_widths(sf_dir: str) -> dict[str, int]:
    """Full column count per testdata table (from the parquet footers)."""
    import glob

    import pyarrow.parquet as pq

    widths = {}
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.splitext(os.path.basename(p))[0]
        widths[name] = len(pq.read_schema(p).names)
    return widths


_SCAN_RE = re.compile(
    r"FileScan parquet \[([^\]]*)\][^\n]*?(\w+)\.parquet"
)


def _scan_census(plan: str, widths: dict[str, int]) -> list[tuple[str, int, int]]:
    """(table, cols_read, full_width) per FileScan of a known testdata
    table.  Column-pruning audit: cols_read < full_width means the scan
    schema was pruned to the projection (the thing that matters at
    100 TB — a scan reading all of lineitem for a 2-column rollup is
    wrong)."""
    out = []
    for cols, table in _SCAN_RE.findall(plan):
        if table not in widths:
            continue
        if "more fields" in cols:
            # elision slipped past the maxToStringFields raise: count the
            # scan as full-width (conservative — flags, never hides)
            n = widths[table]
        else:
            n = len([c for c in cols.split(",") if c.strip()])
        out.append((table, n, widths[table]))
    return out


def classify_full_scans(
    name: str, plan: str, widths: dict[str, int]
) -> tuple[list[tuple[str, int, int]], dict[str, str]]:
    """Split a plan's full-width wide-table scans into (unexpected,
    allowlisted-with-reason).  A scan is full-width when it reads every
    column of a >5-column testdata table; it is allowlisted only when
    ``ALLOWED_FULL_SCANS[name]`` names that exact table."""
    allowed_tables = ALLOWED_FULL_SCANS.get(name, {})
    unexpected: list[tuple[str, int, int]] = []
    allowed: dict[str, str] = {}
    for t, n, w in sorted(set(_scan_census(plan, widths))):
        if n < w or w <= 5:
            continue
        if t in allowed_tables:
            allowed[t] = allowed_tables[t]
        else:
            unexpected.append((t, n, w))
    return unexpected, allowed


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--names", nargs="*", default=None)
    ap.add_argument("--cpus", type=int, default=8)
    args = ap.parse_args()

    from foglamp_filter_python35_spark.catalog import all_queries
    from foglamp_filter_python35_spark.functions import cache
    from foglamp_filter_python35_spark.session import get_spark

    spark = get_spark(
        app_name="plan_audit",
        master=f"local[{args.cpus}]",
        shuffle_partitions=8,
    )
    spark.sparkContext.setLogLevel("ERROR")
    # the column-pruning census regexes FileScan column lists out of plan
    # text; Spark elides long lists ("... N more fields") past
    # maxToStringFields (default 25), which would undercount full-width
    # scans of wide tables — raise the cap so the census sees every
    # column (r9 ADVICE)
    spark.conf.set("spark.sql.debug.maxToStringFields", "10000")

    qs = all_queries()
    names = args.names or list(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    widths = _table_widths(args.sf_dir)
    bad: dict[str, dict[str, int]] = {}
    census: dict[str, dict[str, int]] = {}
    unpruned: dict[str, list] = {}
    allowed_hits: dict[str, dict[str, str]] = {}
    for name in names:
        try:
            df = qs[name].fn(spark, args.sf_dir)
            qe = df._jdf.queryExecution()  # noqa: SLF001
            plan = (
                qe.optimizedPlan().toString()
                + qe.executedPlan().toString()
            )
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: PLAN BUILD FAILED: {exc}", file=sys.stderr)
            bad[name] = {"plan_build_failed": 1}
            continue
        finally:
            cache.release(blocking=False)
        c = _counts(plan)
        census[name] = c
        # column-pruning: a scan of a wide (>5 col) table that reads the
        # FULL schema is flagged informationally (some queries do need
        # every column — profiling, e2e pipelines — so not a hard gate)
        full, allowed = classify_full_scans(name, plan, widths)
        if full:
            unpruned[name] = full
        if allowed:
            allowed_hits[name] = allowed
        hard_hits = {k: c[k] for k in HARD if c[k]}
        if hard_hits:
            bad[name] = hard_hits
            print(f"{name}: ANTI-PATTERN {hard_hits}", file=sys.stderr)

    top = sorted(
        census.items(), key=lambda kv: -kv[1]["Exchange"]
    )[:10]
    print("\ntop shuffle counts (Exchange per plan):")
    for name, c in top:
        print(
            f"  {name}: {c['Exchange']} shuffles, "
            f"{c['BroadcastExchange']} broadcasts, "
            f"SMJ={c['SortMergeJoin']} BHJ={c['BroadcastHashJoin']} "
            f"BNLJ={c['BroadcastNestedLoopJoin']} "
            "arrowPy="
            f"{c['MapInPandas'] + c['MapInArrow'] + c['FlatMapGroupsInPandas']}"
        )
    if allowed_hits:
        print("\nallowlisted full-width scans (by operator contract):")
        for name, tables in sorted(allowed_hits.items()):
            for t, reason in tables.items():
                print(f"  {name} [{t}]: {reason}")
    if unpruned:
        print(
            f"\nUNEXPECTED full-width scans of wide tables ({len(unpruned)}"
            " queries — not allowlisted; either prune the scan or add an"
            " ALLOWED_FULL_SCANS entry with the contract reason):"
        )
        for name, scans in sorted(unpruned.items()):
            print(f"  {name}: {scans}")
    totals = {
        k: sum(c[k] for c in census.values()) for k in COUNTED + HARD
    }
    print(
        json.dumps(
            {
                "queries": len(census),
                "totals": totals,
                "bad": bad,
                "unpruned_wide_scans": {
                    k: [list(s) for s in v] for k, v in unpruned.items()
                },
                "allowlisted_full_scans": {
                    k: sorted(v) for k, v in allowed_hits.items()
                },
            }
        )
    )
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
