"""T9 — the arbitrary-Python-function surface, reproduced faithfully.

The reference's entire "query engine" is one call: marshal a micro-batch
of readings into a Python list-of-dicts, invoke a user function on it,
validate + rebuild the result (``plugin.cpp:255-260``, ``:284-287``).
This module reproduces that contract on Spark:

* execution is Arrow-batched ``mapInPandas`` — the generalization of the
  reference's one performance idea (one Python call per batch, never per
  row, ``plugin.cpp:284-287``), but parallel per executor instead of
  serialized behind a process-global GIL (``plugin.cpp:141-163``);
* the user function sees the reference wire shape
  (``python35_filter.cpp:35-119``; documented ``readings35.py:39-51``)::

      [{"asset_code": "lab1", "reading": {"power_set1": 5980.0},
        "id": 1, "ts": 1699999999, "user_ts": 1699999998}, ...]

  with ``compat_bytes=True`` reproducing the reference's bytes keys /
  bytes string-values exactly (``python35_filter.cpp:73-87``);
* the whole-batch contract: any exception from the user function, a
  non-list result, or any disallowed datapoint type rejects the
  WHOLE batch and passes the input through unmodified.  The reference
  accepts only int/float/bytes (``python35_filter.cpp:185-203`` has a
  PyBytes_Check but no unicode branch); this engine ADDITIONALLY accepts
  ``str`` — a deliberate divergence (like the unsigned-mask note in
  datamodel.py): Python-3 user code naturally returns str, and rejecting
  it would silently discard every batch from otherwise-correct filters.
  Strict reference behavior is available via ``compat_bytes=True``,
  whose wire hands the user bytes in and re-accepts them
  (``plugin.cpp:295-310``, ``:338-342``) — at-least-the-input delivery.
  Batch granularity here is the Arrow batch
  (``spark.sql.execution.arrow.maxRecordsPerBatch``), the Spark analog of
  the reference's ReadingSet;
* readings returned with an empty datapoint dict are silently dropped
  (``python35_filter.cpp:178``, ``:250-254``);
* ``id``/``ts``/``user_ts`` are preserved iff present in the returned
  dict; a reading returned without them gets a fresh ingest timestamp and
  a null id (``python35_filter.cpp:222-244``; header ``plugin.cpp:127-131``
  — "new readings have new timestamps, new UUID"; a distributed engine
  cannot mint coordinated longs, so absent-id -> null, by design);
* ``set_filter_config``: called once with ``{"config": <json>}`` before
  any data flows and required to return True (``python35_filter.cpp:
  564-615``); failure aborts plan construction, mirroring plugin_init
  returning NULL (``plugin.cpp:213-214``).

Timestamps cross this wire as integer epoch seconds, exactly the
granularity the reference marshals (``python35_filter.cpp:98-103``).
"""

from __future__ import annotations

import datetime as _dt
import json
from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame

from foglamp_filter_python35_spark.config import FilterConfig
from foglamp_filter_python35_spark.datamodel import READING_SCHEMA

Wire = list[dict]
FilterFn = Callable[[Wire], Wire]

_ALLOWED_NUMERIC = (int, float)
_ALLOWED_STRING = (str, bytes)


class BatchReject(Exception):
    """Raised when a returned batch violates the type/shape contract."""


# Skip the pre-mapInPandas spreading shuffle below this optimizer size
# estimate: for small inputs the shuffle's fixed cost exceeds the serial
# processing it would save (the reference processes one batch per call on
# one thread, plugin.cpp:284-287 — small batches are its home turf).
#
# Tuned by a round-6 A/B on single-file parquet micro-batches (the
# streaming-probe shape, where the source gives ONE partition): 100k
# reading rows (~2 MB parquet) ran 61k rows/s serial vs 134-162k
# repartitioned; 10k rows ran 34k rows/s serial vs 24k repartitioned —
# crossover ~15-25k rows.  Parquet footer bytes UNDERESTIMATE in-memory
# size ~5-10x (map columns compress well), so the byte threshold is set
# for compressed-scan estimates; the misclassification risk is
# asymmetric (serial on a big batch loses unboundedly, a wasted shuffle
# on a small one loses a bounded ~0.1 s), so err low.
#
# Both A/Bs were measured while every Python task also paid a fixed
# 150-210 ms re-parse of the zips on the worker's sys.path (now skipped,
# see session._stat_checked_zip_invalidation).  That per-task tax
# favoured fewer tasks, so the crossover and the bytes-per-task below
# probably sit too high; they have not been re-measured since.
_REPARTITION_MIN_BYTES = 1 * 1024 * 1024
# One Python task per ~256 KB of estimated input (~10-25k reading rows):
# at 2 MB the A/B measured 8 tasks beating 32 (0.62 s vs 0.75 s — fewer,
# fuller Arrow batches win until the data outgrows the task count);
# unknown/huge estimates cap at defaultParallelism.
_REPARTITION_BYTES_PER_TASK = 256 * 1024


def _estimated_bytes(df: DataFrame) -> int:
    """The Catalyst optimizer's sizeInBytes estimate for ``df`` — free
    (no job): parquet footer totals for scans, accurate materialized
    sizes for cached frames, 8 EiB when unknown (which routes unknown
    sizes to the repartition path, the safe default at scale).

    The probe reaches through private JVM internals (``_jdf`` →
    ``queryExecution``), so the fallback is scoped to exactly the two
    failure shapes a Spark-version drift can produce — a missing
    attribute on the Python wrapper (AttributeError) or a Py4J-level
    gateway/call failure — and nothing else: a genuine AnalysisException
    (a plan worth surfacing) propagates to the caller instead of being
    silently re-routed into the 8 EiB fallback."""
    try:
        from py4j.protocol import Py4JError  # noqa: PLC0415
    except ImportError:  # pragma: no cover — py4j ships with pyspark
        # a never-raised placeholder class: an empty tuple nested inside
        # the except spec would itself raise TypeError at catch time
        class Py4JError(Exception):  # type: ignore[no-redef]
            pass
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except (AttributeError, Py4JError):
        return 1 << 62  # probe failed: treat as large, keep old behavior


class FilterSetupError(ValueError):
    """Stage CONSTRUCTION failure (set_filter_config rejected/raised) —
    the analog of plugin_init returning NULL (plugin.cpp:213-214).

    Distinct from runtime transform errors: the S3 degraded path
    (forward the input batch) applies only to per-batch transform
    failures; a setup failure must abort the query, or a misconfigured
    filter silently forwards unfiltered data forever."""


def run_python_filter(
    df: DataFrame,
    fn: FilterFn,
    config: FilterConfig | None = None,
    set_filter_config: Callable[[dict], bool] | None = None,
    compat_bytes: bool = False,
) -> DataFrame:
    """Apply a reference-contract Python filter to a readings DataFrame.

    ``df`` must follow ``datamodel.READING_SCHEMA``.  Returns a readings
    DataFrame with the same schema.
    """
    cfg = config or FilterConfig(enable=True)
    if not cfg.enable:
        # C4 disabled => pass-through, zero cost (plugin.cpp:234-242)
        return df

    # a narrow batch source (one parquet split) would serialize the whole
    # stream through one Python worker — spread it across the cluster.
    # Streaming plans cannot be probed via .rdd (and their partitioning is
    # the source's concern), so the probe is batch-only.  The repartition
    # is a FULL SHUFFLE whose fixed cost is only amortized at volume, so
    # it is gated on the optimizer's size estimate: below a few Arrow
    # batches (`maxRecordsPerBatch` = 10k rows) the serial path wins and
    # the shuffle (and even the .rdd partition probe) is skipped.
    if not df.isStreaming:
        est = _estimated_bytes(df)
        if est >= _REPARTITION_MIN_BYTES:
            target = min(
                df.sparkSession.sparkContext.defaultParallelism,
                max(2, est // _REPARTITION_BYTES_PER_TASK),
            )
            if df.rdd.getNumPartitions() < target:
                df = df.repartition(target)

    if set_filter_config is not None:
        # configure at plan-build time; the configured state is captured
        # into the task closure by cloudpickle, so every executor sees it.
        # Memoized per config payload: the reference configures once at
        # plugin_init, not per ReadingSet — without this, a streaming
        # pipeline would re-run the user callback every micro-batch.
        payload = json.dumps(cfg.params)
        if getattr(set_filter_config, "_configured_with", None) != payload:
            try:
                ok = set_filter_config({"config": payload})
            except Exception as exc:
                raise FilterSetupError(
                    f"set_filter_config raised {exc!r}; aborting pipeline "
                    "construction (reference plugin.cpp:213-214)"
                ) from exc
            if ok is not True:
                raise FilterSetupError(
                    "set_filter_config did not return True; aborting "
                    "pipeline construction (reference plugin.cpp:213-214)"
                )
            try:
                set_filter_config._configured_with = payload
            except AttributeError:
                pass  # non-function callable without settable attrs

    def runner(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            try:
                wire = _to_wire(pdf, compat_bytes)
                result = fn(wire)
                out = _from_wire(result)
            except Exception:
                # any failure => forward the input batch unmodified
                # (plugin.cpp:295-310, :338-342)
                yield pdf
                continue
            yield out

    return df.mapInPandas(runner, READING_SCHEMA)


# ---------------------------------------------------------------------------
# wire codecs
# ---------------------------------------------------------------------------


def _as_mapping(v) -> dict:
    """Arrow hands MapType to pandas as dict or list-of-(k,v) tuples."""
    if v is None:
        return {}
    if isinstance(v, dict):
        return v
    return dict(v)


def _to_wire(pdf: pd.DataFrame, compat_bytes: bool) -> Wire:
    # vectorize the metadata columns once per batch; only the payload
    # dicts need per-row Python
    ids = pdf["id"].to_numpy(dtype="object")
    assets = pdf["asset_code"].to_numpy(dtype="object")
    ts_s = (pdf["ts"].astype("datetime64[s]").astype("int64")).to_numpy()
    ts_null = pdf["ts"].isna().to_numpy()
    uts_s = (pdf["user_ts"].astype("datetime64[s]").astype("int64")).to_numpy()
    uts_null = pdf["user_ts"].isna().to_numpy()

    ids_null = pdf["id"].isna().to_numpy()
    rmaps = pdf["reading"].to_numpy(dtype="object")
    smaps = pdf["reading_str"].to_numpy(dtype="object")

    out: Wire = []
    for i in range(len(pdf)):
        reading: dict = {}
        for k, v in _as_mapping(rmaps[i]).items():
            if v is not None:
                reading[k] = v
        for k, v in _as_mapping(smaps[i]).items():
            if v is not None:
                reading[k] = v
        if compat_bytes:
            reading = {
                (k.encode() if isinstance(k, str) else k): (
                    v.encode() if isinstance(v, str) else v
                )
                for k, v in reading.items()
            }
        asset = assets[i]
        if compat_bytes and isinstance(asset, str):
            asset = asset.encode()
        rec = {"asset_code": asset, "reading": reading}
        if not ids_null[i]:
            rec["id"] = int(ids[i])
        if not ts_null[i]:
            rec["ts"] = int(ts_s[i])
        if not uts_null[i]:
            rec["user_ts"] = int(uts_s[i])
        out.append(rec)
    return out


def _from_wire(result: Wire) -> pd.DataFrame:
    if not isinstance(result, (list, tuple)):
        raise BatchReject("filter must return a list of reading dicts")
    ids, assets, tss, user_tss, readings, readings_str = [], [], [], [], [], []
    # T7 default for absent metadata: "new readings have new timestamps"
    # — one micros-precision stamp per batch, appended as int64 so the
    # column builds vectorized (a per-row pd.Timestamp costs ~1 µs/row,
    # measurable at 1 M rows)
    # .timestamp() must run on the AWARE datetime: a naive datetime is
    # interpreted in the host's local timezone, shifting the stamp by the
    # UTC offset on any non-UTC host
    now_us = int(
        _dt.datetime.now(tz=_dt.timezone.utc).timestamp() * 1_000_000
    )
    for rec in result:
        if not isinstance(rec, dict):
            raise BatchReject("each reading must be a dict")
        payload = rec.get("reading")
        if not isinstance(payload, dict):
            raise BatchReject("reading payload must be a dict")
        num: dict[str, float] = {}
        strs: dict[str, str] = {}
        for k, v in payload.items():
            key = k.decode() if isinstance(k, bytes) else k
            if not isinstance(key, str):
                raise BatchReject(f"datapoint key {key!r} is not a string")
            # bool is an int subclass; the reference's PyLong check accepts
            # it (python35_filter.cpp:185-188)
            if isinstance(v, _ALLOWED_NUMERIC) and not isinstance(v, complex):
                num[key] = float(v)
            elif isinstance(v, _ALLOWED_STRING):
                strs[key] = v.decode() if isinstance(v, bytes) else v
            else:
                # anything else aborts the whole batch
                # (python35_filter.cpp:197-203 -> plugin.cpp:338-342)
                raise BatchReject(
                    f"datapoint {key!r} has disallowed type {type(v).__name__}"
                )
        if not num and not strs:
            # empty payload => reading silently dropped
            # (python35_filter.cpp:178, :250-254)
            continue
        asset = rec.get("asset_code", "")
        if isinstance(asset, bytes):
            asset = asset.decode()
        ids.append(int(rec["id"]) if "id" in rec else None)
        assets.append(asset)
        tss.append(
            int(rec["ts"]) * 1_000_000 if "ts" in rec else now_us
        )
        user_tss.append(
            int(rec["user_ts"]) * 1_000_000 if "user_ts" in rec else now_us
        )
        readings.append(num)
        readings_str.append(strs)
    import numpy as np  # noqa: PLC0415

    # object dtype is required even when empty — pandas would otherwise
    # default empty columns to float64, which Arrow cannot map-convert
    return pd.DataFrame(
        {
            "id": pd.array(ids, dtype="Int64"),
            "asset_code": pd.Series(assets, dtype="object"),
            "ts": pd.Series(
                np.asarray(tss, dtype="int64").view("datetime64[us]")
            ),
            "user_ts": pd.Series(
                np.asarray(user_tss, dtype="int64").view("datetime64[us]")
            ),
            "reading": pd.Series(readings, dtype="object"),
            "reading_str": pd.Series(readings_str, dtype="object"),
        }
    )
