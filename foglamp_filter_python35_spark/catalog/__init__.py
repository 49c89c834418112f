"""Query catalog: every named query the engine exposes, with DuckDB oracles.

Each operator from SURVEY.md §2 (plus the §2.5 extensions) is declared as a
``QuerySpec``: a Spark builder ``fn(spark, sf_dir) -> DataFrame`` and, where
SQL-expressible, the equivalent ANSI SQL for the DuckDB oracle.  The driver
compares row-count + schema + order-insensitive value hash at sf0.01.

Cross-engine float determinism
------------------------------
Double-precision SUMs are association-order dependent, so a parallel Spark
sum and a serial DuckDB sum differ in the last bits.  We therefore compute
every floating aggregate as an *exact decimal* sum of per-row doubles
(per-row arithmetic is identical IEEE-754 in both engines), then cast the
exact sum back to double — a deterministic mapping, identical in both
engines regardless of partitioning or association order.  See ``dsum``.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from foglamp_filter_python35_spark.sources.readers import data_files, read_parquet


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None -> driver does rows-only check
    headline: bool = False  # include in bench.py


# timestamp columns of the driver tables, rebuilt to session TIMESTAMP
# by read_parquet; every catalog query (and the round-1 driver-green
# baseline) expects that type
_TS_COLUMNS = {
    "events": ("ts",),
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
}


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    try:  # defensive: the driver's own session may not carry this conf
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    return read_parquet(
        spark, os.path.join(sf_dir, f"{table}.parquet"), _TS_COLUMNS.get(table, ())
    )


def parquet_row_count(sf_dir: str, table: str) -> int:
    """Exact row count of a driver table from parquet FOOTER metadata —
    no Spark job (r17).  The defaults-routed sketch-sizing paths
    (``lsh_config(n)`` / ``ivf_cell_count(n)``) need the corpus row
    count as a plan-time Python int; ``df.count()`` costs a Spark job
    per query build (~0.25s warm, ~2.4s on a cold session), while the
    footer read is ~1ms and bit-identical (``load`` never filters
    rows, so footer rows == DataFrame rows).  At a real deployment this
    number is catalog metadata; reading it from storage footers is the
    same contract."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    path = os.path.join(sf_dir, f"{table}.parquet")
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in data_files(path)
        if f.endswith(".parquet")
    )


def dsum(expr: str, alias: str, scale: int = 6) -> Column:
    """Association-order-independent SUM of a double SQL expression.

    ``expr`` is SQL expression text — the Spark spelling of the text
    the ``o_dsum`` oracle twin gets, with float literals ``D``-suffixed
    so they are DOUBLE, not DECIMAL (e.g.
    ``"l_extendedprice * (1.0D - l_discount)"``).  Each value is quantized with PURE IEEE ops —
    ``floor(x*10^scale + 0.5)`` as BIGINT — and summed exactly as
    integers; the final ``double / 10^scale`` is one deterministic
    expression mirrored by ``o_dsum``.  Two properties make this the
    gate mechanism:

    * order-free: integer addition is associative, so any partitioning
      or merge order yields the same sum;
    * tie-safe: the quantization rounds identically in both engines
      (the previous DECIMAL(38) cast was 5x slower in Spark's agg AND
      carried a latent half-up-vs-half-even tie divergence on dyadic
      inputs — see tests/test_properties.py and the verify notes).

    Built as ONE parsed SQL expression instead of ~10 Column-API py4j
    round trips — measured 21 -> 0.5 ms of pure driver time per call at
    plan build (r18).

    Bound: exactness requires ``|sum(x)| * 10^scale < 2^63`` (~9.2e12
    at scale 6) — orders of magnitude above the sf0.01/sf0.1 oracle
    gate this exists for.  Production at 100 TB uses plain double sums
    (SCALE.md); a deployment needing exact sums beyond the bound brings
    back ``SUM(CAST(x AS DECIMAL(38,scale)))`` at the 5x agg cost.
    """
    return F.expr(o_dsum_expr(expr, scale)).alias(alias)


def o_dsum_expr(expr: str, scale: int = 6) -> str:
    """Bare-expression form of ``o_dsum`` — for ratios, HAVING clauses,
    and any oracle fragment that reuses the quantized sum outside a
    simple aliased SELECT item."""
    return (
        f"(CAST(SUM(CAST(FLOOR(({expr}) * 1e{scale} + 0.5) AS BIGINT))"
        f" AS DOUBLE) / 1e{scale})"
    )


def o_dsum(expr: str, alias: str, scale: int = 6) -> str:
    """DuckDB twin of ``dsum`` for use inside oracle SQL strings."""
    return f"{o_dsum_expr(expr, scale)} AS {alias}"


def davg(expr: str, alias: str, scale: int = 6) -> Column:
    """Deterministic AVG of a double SQL expression: the ``dsum``
    quantized-integer sum divided by the non-null count, every step
    mirrored by ``o_davg``."""
    return F.expr(o_davg_expr(expr, scale)).alias(alias)


def o_davg_expr(expr: str, scale: int = 6) -> str:
    """Bare-expression form of ``o_davg``."""
    return f"({o_dsum_expr(expr, scale)} / COUNT({expr}))"


def o_davg(expr: str, alias: str, scale: int = 6) -> str:
    return f"{o_davg_expr(expr, scale)} AS {alias}"


# ---------------------------------------------------------------------------
# Production approx toggle.  The catalog's exact COUNT(DISTINCT) and exact
# quantiles exist for the oracle gate's bit-equality; at 100 TB the right
# operators are the mergeable sketches (HLL approx_count_distinct,
# t-digest approx_percentile).  `approx_mode()` flips the three affected
# queries (percentile_summary, conversion_latency, sliding_unique_users)
# to the sketch forms while keeping the identical plan shape; exact stays
# the default so driver correctness runs are unaffected.  Enable via
# `with approx_mode():`, `set_approx_mode(True)`, or SPARK_GRAFT_APPROX=1.
# ---------------------------------------------------------------------------

_APPROX = os.environ.get("SPARK_GRAFT_APPROX", "") == "1"


def approx_enabled() -> bool:
    return _APPROX


def set_approx_mode(on: bool) -> None:
    global _APPROX  # noqa: PLW0603
    _APPROX = bool(on)


class approx_mode:  # noqa: N801 — context-manager, used like a function
    def __init__(self, on: bool = True) -> None:
        self._on = on

    def __enter__(self) -> None:
        self._old = _APPROX
        set_approx_mode(self._on)

    def __exit__(self, *exc) -> None:
        set_approx_mode(self._old)


def ordstat_quantile(sorted_col: str, n_col: str, q: float) -> Column:
    """Engine-exact interpolated quantile from a pre-sorted array column.

    ``percentile()`` (Spark) and ``quantile_cont()`` (DuckDB) agree on the
    two bracketing order statistics but NOT on the parenthesization of the
    interpolation between them, so a value sitting exactly on a derived
    fence (e.g. a Tukey fence) can flip membership by 1 ULP between
    engines.  This helper instead selects ``lo``/``hi`` by INTEGER rank
    (k = floor((n-1)*q), exact) and interpolates with one explicit IEEE
    expression — ``lo + (hi - lo) * frac`` — mirrored token-for-token by
    ``o_ordstat_quantile``; every op is an exactly-rounded double op, so
    the two engines produce bit-identical results.

    Memory note: callers feed this from ``sort_array(collect_list(...))``,
    which buffers the column in one agg state — the same asymptotics as
    Spark's own exact ``percentile`` aggregate (it buffers all values
    too).  The 100 TB path is the documented ``approx_percentile`` swap,
    not exact quantiles of any flavor.
    """
    n = F.col(n_col)
    pos = (n - F.lit(1)).cast("double") * F.lit(float(q))
    k = F.floor(pos)  # long; exact
    frac = pos - k
    s = F.col(sorted_col)
    lo = F.element_at(s, (k + F.lit(1)).cast("int"))
    hi = F.element_at(s, F.least(k + F.lit(2), n).cast("int"))
    return lo + (hi - lo) * frac


def o_ordstat_quantile(sorted_expr: str, n_expr: str, q: float) -> str:
    """DuckDB twin of ``ordstat_quantile`` — identical arithmetic, 1-based
    list indexing."""
    pos = f"(CAST({n_expr} - 1 AS DOUBLE) * CAST({q!r} AS DOUBLE))"
    k = f"CAST(FLOOR({pos}) AS BIGINT)"
    lo = f"{sorted_expr}[CAST({k} + 1 AS INT)]"
    hi = f"{sorted_expr}[CAST(LEAST({k} + 2, {n_expr}) AS INT)]"
    return f"({lo} + ({hi} - {lo}) * ({pos} - FLOOR({pos})))"


from foglamp_filter_python35_spark.catalog.window import (  # noqa: E402,F401
    _DRIVER_WINDOW_ORDER,
)


def all_queries() -> dict[str, QuerySpec]:
    """Aggregate every catalog module's SPECS, keyed by name.

    Entry order is significant: the driver samples a 50-entry prefix, so
    ``_DRIVER_WINDOW_ORDER`` queries lead and the already-driver-green
    events/relational block follows in module order.
    """
    from foglamp_filter_python35_spark.catalog import (  # noqa: PLC0415
        events as _ev,
        relational as _rel,
        signal as _sig,
        text as _text,
        dedup as _dedup,
        vector as _vec,
        multimodal as _mm,
        pipeline as _pipe,
    )

    specs: dict[str, QuerySpec] = {}
    for mod in (_ev, _rel, _sig, _text, _dedup, _vec, _mm, _pipe):
        for spec in mod.SPECS:
            if spec.name in specs:
                raise ValueError(f"duplicate query name {spec.name}")
            specs[spec.name] = spec

    missing = [n for n in _DRIVER_WINDOW_ORDER if n not in specs]
    if missing:
        raise ValueError(f"_DRIVER_WINDOW_ORDER names unknown queries: {missing}")
    ordered: dict[str, QuerySpec] = {
        n: specs[n] for n in _DRIVER_WINDOW_ORDER
    }
    for name, spec in specs.items():
        if name not in ordered:
            ordered[name] = spec
    return ordered
