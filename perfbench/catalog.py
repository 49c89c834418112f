"""The catalog query layer, measured in traced ``backfill_t9`` runs: one
pass over the catalog's headline queries and its two heavy residuals.

Each query is built through its ``QuerySpec.fn`` and collected, with the
previous query's cached intermediates released first, as the engine's
entry point does.  Build and collect are timed per query, and Spark's
stages and shuffle are read by job group.  Each result is compared with
the fingerprint of its DuckDB oracle on the same generated tables.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time

import datagen
from common import log
from metrics import CATALOG_QUERIES

SMOKE_QUERIES = ["scale35", "pricing_summary"]
CATALOG_SF = 0.01
SMOKE_SF = 0.001


def _cell(v, null_nan: bool) -> str:
    """One result cell as the engine's oracle compare stringifies it.  DuckDB
    results arrive through pandas, where SQL NULL is NaN (``null_nan``);
    a Spark NaN stays distinct from NULL.  Kept apart from the engine's
    own CLI helper so the checker shares no code with what it checks."""
    if v is None or (isinstance(v, float) and math.isnan(v) and null_nan):
        return "<null>"
    if isinstance(v, float) and math.isnan(v):
        return "<nan>"
    return str(v)


def _fingerprint(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in sorted(rows):
        h.update(repr(r).encode())
    return f"{len(rows)}:{h.hexdigest()}"


def spark_fingerprint(columns: list[str], rows: list) -> str:
    cols = sorted(columns)
    return _fingerprint(cols, [tuple(_cell(r[c], False) for c in cols) for r in rows])


def oracle_fingerprints(data_dir: str, names: list[str], specs, cache_path: str) -> dict[str, str]:
    """DuckDB oracle fingerprints, computed once per generated table set
    (the tables are a pure function of seed, scale and generator source)
    and reused from ``cache_path`` afterwards."""
    cached = {}
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            cached = json.load(f)
    missing = [n for n in names if n not in cached]
    if missing:
        import duckdb  # noqa: PLC0415

        con = duckdb.connect()
        for t in datagen.CATALOG_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')")
        for n in missing:
            odf = con.execute(specs[n].oracle).df()
            cols = sorted(odf.columns)
            cached[n] = _fingerprint(
                cols, [tuple(_cell(odf[c][i], True) for c in cols) for i in range(len(odf))]
            )
        con.close()
        with open(cache_path, "w") as f:
            json.dump(cached, f)
    return cached


def catalog_layers(ctx) -> tuple[int, int, dict[str, float]]:
    """One pass over the catalog queries; returns the queries attempted,
    the queries failed or wrong, and ``catalog.<query>.*`` layer metrics.

    The pass runs once, after the workload's timed phase, so its times
    are those of a first run of each query in a warm JVM."""
    from foglamp_filter_python35_spark.catalog import all_queries  # noqa: PLC0415
    from foglamp_filter_python35_spark.functions import cache  # noqa: PLC0415

    spark, tracer, store = ctx.spark, ctx.tracer, ctx.store
    names = SMOKE_QUERIES if ctx.smoke else CATALOG_QUERIES
    sf = SMOKE_SF if ctx.smoke else CATALOG_SF
    specs = all_queries()
    data_dir = os.path.join(ctx.work, "catalog")
    with tracer.span("input.prepare"):
        datagen.write_catalog(data_dir, sf, ctx.seed)

    got: dict[str, str] = {}
    layers: dict[str, float] = {}
    with tracer.span("catalog.pass"):
        for n in names:
            cache.release(blocking=False)
            group = f"perfbench-{n}"
            spark.sparkContext.setJobGroup(group, n)
            try:
                with tracer.span("catalog.build"):
                    t0 = time.perf_counter()
                    df = specs[n].fn(spark, data_dir)
                    t1 = time.perf_counter()
                with tracer.span("catalog.exec"):
                    rows = df.collect()
                    t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 — a failing query is a failed operation
                log(f"catalog: {n} failed: {exc!r}"[:500])
                continue
            got[n] = spark_fingerprint(df.columns, rows)
            totals = store.totals(store.group_job_ids(group))
            layers[f"catalog.{n}.build_ms"] = (t1 - t0) * 1000.0
            layers[f"catalog.{n}.exec_ms"] = (t2 - t1) * 1000.0
            layers[f"catalog.{n}.stages"] = totals["stages"]
            layers[f"catalog.{n}.shuffle_mb"] = totals["shuffle_write_mb"]
        cache.release(blocking=False)

    with tracer.span("check"):
        want = oracle_fingerprints(
            data_dir, names, specs,
            os.path.join(ctx.cache, f"oracle-sf{sf}-seed{ctx.seed}-{datagen.VERSION}.json"),
        )
        wrong = [n for n in names if n in got and got[n] != want[n]]
        for n in wrong:
            log(f"catalog: {n} output differs from its oracle ({got[n]} vs {want[n]})")
    failed = len(names) - len(got) + len(wrong)
    return len(names), failed, layers
