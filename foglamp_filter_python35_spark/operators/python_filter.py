"""T9 — the arbitrary-Python-function surface, reproduced faithfully.

The reference's entire "query engine" is one call: marshal a micro-batch
of readings into a Python list-of-dicts, invoke a user function on it,
validate + rebuild the result (``plugin.cpp:255-260``, ``:284-287``).
This module reproduces that contract on Spark:

* execution is Arrow-batched ``mapInArrow`` — the generalization of the
  reference's one performance idea (one Python call per batch, never per
  row, ``plugin.cpp:284-287``), but parallel per executor instead of
  serialized behind a process-global GIL (``plugin.cpp:141-163``).  The
  wire codec reads and builds the Arrow batch directly (no pandas round
  trip): columns in bulk, distinct strings decoded once, only the dict
  building per row;
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
granularity the reference marshals (``python35_filter.cpp:98-103``),
floored, and independent of ``spark.sql.session.timeZone``.
"""

from __future__ import annotations

import datetime as _dt
import json
from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema

from foglamp_filter_python35_spark.config import FilterConfig
from foglamp_filter_python35_spark.datamodel import READING_SCHEMA

if TYPE_CHECKING:
    import pandas as pd

Wire = list[dict]
FilterFn = Callable[[Wire], Wire]

_ALLOWED_NUMERIC = (int, float)
_ALLOWED_STRING = (str, bytes)


class BatchReject(Exception):
    """Raised when a returned batch violates the type/shape contract."""


# Skip the pre-mapInArrow spreading shuffle below this optimizer size
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
# Both A/Bs predate the Arrow wire codec: they ran Spark's pandas round
# trip (132-135 ms per 10k-row batch, against 38-61 ms for the Arrow
# codec, on a 4-vCPU VM), and every Python task also paid a fixed
# 150-210 ms re-parse of the zips on the worker's sys.path (now skipped,
# see session._stat_checked_zip_invalidation).  The per-task tax
# favoured fewer tasks and the slower codec favoured more, so the
# crossover and the bytes-per-task below have not been re-measured for
# today's code.
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

    def runner(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            try:
                wire = _batch_to_wire(batch, compat_bytes)
                out = _wire_to_batch(fn(wire), batch.schema)
            except Exception:
                # any failure => forward the input batch unmodified
                # (plugin.cpp:295-310, :338-342)
                yield batch
                continue
            yield out

    return df.mapInArrow(runner, READING_SCHEMA)


# ---------------------------------------------------------------------------
# wire codec
# ---------------------------------------------------------------------------

#: ``READING_SCHEMA`` in Arrow form, for codec callers with no input batch
#: to take the types from (the pandas adapters)
_ARROW_SCHEMA = to_arrow_schema(READING_SCHEMA)


def _numbers(col: pa.Array, div: int = 1) -> list:
    """A numeric column as Python numbers, nulls as None; integer columns
    are floor-divided by ``div``."""
    raw = col.fill_null(0).to_numpy()
    out = (raw // div if div != 1 else raw).tolist()
    if col.null_count:
        for i in np.flatnonzero(col.is_null().to_numpy(zero_copy_only=False)):
            out[i] = None
    return out


def _strings(col: pa.Array, encode: bool) -> list:
    """A string column as Python objects, nulls as None: each DISTINCT
    value becomes one ``str`` (``bytes`` when ``encode``) through
    ``dictionary_encode``, so the per-slot work is an index lookup."""
    enc = pc.dictionary_encode(col)
    values = enc.dictionary.to_pylist()
    if encode:
        values = [v.encode() for v in values]
    values.append(None)
    codes = enc.indices.fill_null(len(values) - 1).to_numpy()
    return np.asarray(values, dtype=object)[codes].tolist()


def _map_dicts(col: pa.MapArray, values: list, encode: bool) -> list[dict]:
    """One dict per map slot, null values left out.  A null slot is empty:
    Arrow allows a null slot a non-empty offset range."""
    keys = _strings(col.keys, encode)
    offs = col.offsets.to_numpy().tolist()
    valid = col.is_valid().to_numpy(zero_copy_only=False).tolist()
    has_null = col.items.null_count > 0
    out = []
    for i, ok in enumerate(valid):
        a, b = offs[i], offs[i + 1]
        if not ok or a == b:
            out.append({})
        elif has_null:
            out.append(
                {k: v for k, v in zip(keys[a:b], values[a:b]) if v is not None}
            )
        else:
            out.append(dict(zip(keys[a:b], values[a:b])))
    return out


def _batch_to_wire(batch: pa.RecordBatch, compat_bytes: bool) -> Wire:
    """The reference wire for one Arrow batch: columns are read in bulk and
    only the dict building runs per row.  ``ts``/``user_ts`` become epoch
    seconds, floored — Arrow carries epoch µs whatever the session time
    zone, which is what the reference hands its filter."""
    ids = _numbers(batch.column("id"))
    assets = _strings(batch.column("asset_code"), compat_bytes)
    ts = _numbers(batch.column("ts").cast(pa.int64()), 1_000_000)
    uts = _numbers(batch.column("user_ts").cast(pa.int64()), 1_000_000)
    rmap, smap = batch.column("reading"), batch.column("reading_str")
    nums = _map_dicts(rmap, _numbers(rmap.items), compat_bytes)
    strs = _map_dicts(smap, _strings(smap.items, compat_bytes), compat_bytes)

    out: Wire = []
    for i in range(batch.num_rows):
        reading = nums[i]
        if strs[i]:
            reading.update(strs[i])
        rec = {"asset_code": assets[i], "reading": reading}
        if ids[i] is not None:
            rec["id"] = ids[i]
        if ts[i] is not None:
            rec["ts"] = ts[i]
        if uts[i] is not None:
            rec["user_ts"] = uts[i]
        out.append(rec)
    return out


def _wire_to_batch(
    result: Wire, schema: pa.Schema = _ARROW_SCHEMA
) -> pa.RecordBatch:
    """Validate a filter's result and build the readings batch, typed as
    ``schema`` (the input batch's, so every batch a task yields shares one
    schema).  Raises ``BatchReject`` on a shape or type the contract
    forbids."""
    if not isinstance(result, (list, tuple)):
        raise BatchReject("filter must return a list of reading dicts")
    ids, assets, tss, user_tss = [], [], [], []
    num_keys, num_vals, num_offs = [], [], [0]
    str_keys, str_vals, str_offs = [], [], [0]
    # T7 default for absent metadata: "new readings have new timestamps"
    # — one epoch-µs stamp per batch.  .timestamp() must run on the AWARE
    # datetime: a naive one is read in the host's local time zone
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
        tss.append(int(rec["ts"]) * 1_000_000 if "ts" in rec else now_us)
        user_tss.append(
            int(rec["user_ts"]) * 1_000_000 if "user_ts" in rec else now_us
        )
        num_keys.extend(num)
        num_vals.extend(num.values())
        num_offs.append(len(num_keys))
        str_keys.extend(strs)
        str_vals.extend(strs.values())
        str_offs.append(len(str_keys))

    def map_array(name: str, keys: list, vals: list, offs: list) -> pa.Array:
        typ = schema.field(name).type
        return pa.MapArray.from_arrays(
            pa.array(offs, pa.int32()),
            pa.array(keys, typ.key_type),
            pa.array(vals, typ.item_type),
            type=typ,
        )

    return pa.RecordBatch.from_arrays(
        [
            pa.array(ids, schema.field("id").type),
            pa.array(assets, schema.field("asset_code").type),
            pa.array(tss, schema.field("ts").type),
            pa.array(user_tss, schema.field("user_ts").type),
            map_array("reading", num_keys, num_vals, num_offs),
            map_array("reading_str", str_keys, str_vals, str_offs),
        ],
        schema=schema,
    )


# pandas adapters over the Arrow codec, for callers that hold a pandas
# frame of readings (naive timestamps are read as UTC)


def _to_wire(pdf: pd.DataFrame, compat_bytes: bool) -> Wire:
    batch = pa.RecordBatch.from_pandas(pdf, _ARROW_SCHEMA, preserve_index=False)
    return _batch_to_wire(batch, compat_bytes)


def _from_wire(result: Wire) -> pd.DataFrame:
    return _wire_to_batch(result).to_pandas()
