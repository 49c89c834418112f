"""Minimal manifest-based snapshot table: an ACID parquet table with no
external table-format dependency.

The container cannot install Delta/Iceberg (no package installs), but a
100 TB deployment expects a storage layer with atomic commits, snapshot
isolation, and time travel.  This module implements the core idea those
formats share — an immutable-data-files + metadata-pointer design — with
nothing beyond Spark and the filesystem:

* **Data files are immutable.**  Every commit writes its parquet files
  into a fresh ``data/<uuid>/`` directory; nothing is ever modified or
  deleted by a commit.
* **A manifest is the unit of atomicity.**  ``manifests/v{N}.json``
  lists exactly the data files visible at version N.  A manifest is
  created with ``open(..., "x")`` — an atomic create-if-absent — so two
  racing writers cannot both publish the same version; the loser gets
  ``CommitConflict`` and retries on the new parent (optimistic
  concurrency, the same protocol Delta uses on its ``_delta_log`` JSON
  files).
* **Readers resolve a version, then read only its files.**  A reader
  holding version N is fully isolated from later commits: its file list
  is frozen, and those files are immutable.  ``version=`` gives time
  travel.
* **Failed jobs are invisible.**  A writer that dies after writing data
  files but before publishing its manifest leaves orphan files that no
  manifest references — the table is unchanged.  ``vacuum`` removes
  orphans (and, optionally, files only referenced by expired versions).

Scale mapping: on an object store the manifest write becomes a
conditional PUT (S3 if-none-match / GCS generation-match) and data files
get a per-job prefix — the dataflow and the commit protocol are
unchanged.  The reference has no storage layer at all (it forwards
readings to the next FogLAMP filter), so this is part of the mandated
beyond-the-reference surface, not a port.
"""

from __future__ import annotations

import json
import math
import os
import re
import threading
import time
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_RE = re.compile(r"^v(\d+)\.json$")


class CommitConflict(Exception):
    """Another writer published this version first; retry on the new
    parent or surface to the caller after ``max_retries``."""


class SchemaConflict(Exception):
    """An append's column type contradicts the table schema.  New
    columns are allowed (additive evolution); type changes are not."""


def _manifest_dir(path: str) -> str:
    return os.path.join(path, "manifests")


def _data_dir(path: str) -> str:
    return os.path.join(path, "data")


def _checkpoint_path(path: str) -> str:
    return os.path.join(_manifest_dir(path), "_last_checkpoint")


def _read_last_checkpoint(path: str) -> int | None:
    """The `_last_checkpoint` HINT (Delta's pointer of the same name):
    the newest version a committer recorded.  Never trusted blindly —
    `current_version` verifies the hinted manifest exists and probes
    forward — so a stale, torn, or missing pointer degrades to a
    slower read, never a wrong one."""
    try:
        with open(_checkpoint_path(path)) as f:
            loaded = json.load(f)
        # Valid JSON that is not an object (`5`, `[1]`, `"x"`) is just as
        # corrupt as unparseable bytes: fall back, don't raise.
        v = loaded.get("version") if isinstance(loaded, dict) else None
        return v if isinstance(v, int) and not isinstance(v, bool) and v >= 0 else None
    except (OSError, ValueError):
        return None


def _write_last_checkpoint(path: str, version: int, n_files: int) -> None:
    """Best-effort monotonic advance of the pointer after a successful
    manifest publish.  Atomic via temp + rename so readers never see a
    torn file; plain-read-then-replace racing committers can regress it
    by a step, which the forward probe in `current_version` absorbs.
    Failure is swallowed: the manifest IS the commit, the pointer is
    only the O(1) resolution hint."""
    try:
        cur = _read_last_checkpoint(path)
        if cur is not None and cur >= version:
            return
        tmp = _checkpoint_path(path) + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump({"version": version, "n_files": n_files}, f)
        os.replace(tmp, _checkpoint_path(path))
    except OSError:
        pass


def current_version(path: str) -> int | None:
    """Latest committed version, or None for an empty/absent table.

    Resolution is O(1) in the number of versions: read the
    `_last_checkpoint` pointer, verify its manifest exists, then probe
    forward over any commits that landed after the pointer was written
    (normally zero or one).  The manifest directory stays the source of
    truth — a missing/stale/corrupt pointer falls back to the full
    directory listing, so the pointer can never make resolution WRONG,
    only fast.  At 10^4+ commits this is the difference between one
    pointer read + one existence probe and an O(versions) listing per
    read (the same reason Delta keeps `_last_checkpoint`)."""
    mdir = _manifest_dir(path)
    if not os.path.isdir(mdir):
        return None
    hint = _read_last_checkpoint(path)
    if hint is not None and os.path.exists(
        os.path.join(mdir, f"v{hint}.json")
    ):
        v = hint
        while os.path.exists(os.path.join(mdir, f"v{v + 1}.json")):
            v += 1
        return v
    versions = [
        int(m.group(1))
        for f in os.listdir(mdir)
        if (m := _MANIFEST_RE.match(f))
    ]
    return max(versions) if versions else None


def _read_manifest(path: str, version: int) -> dict:
    try:
        with open(
            os.path.join(_manifest_dir(path), f"v{version}.json")
        ) as f:
            return json.load(f)
    except FileNotFoundError:
        # Same exception TYPE (callers catch-and-contextualize it), but
        # an actionable message: a missing manifest is almost always a
        # time travel below the vacuum retention floor, not a typo.
        head = current_version(path)
        if head is None:
            why = "the table has no committed versions"
        elif version < head:
            # vacuum retains a CONTIGUOUS suffix [floor..head], so an
            # even-older manifest still existing means this is a hole —
            # manual deletion, corruption cleanup, or a crash between
            # link and pointer update — not retention; don't name a
            # cause the evidence contradicts.
            try:
                has_older = any(
                    (m := _MANIFEST_RE.match(f)) and int(m.group(1)) < version
                    for f in os.listdir(_manifest_dir(path))
                )
            except OSError:
                has_older = False
            if has_older:
                why = (
                    f"head is v{head} but an older manifest still "
                    f"exists — a gap below head is never produced by "
                    f"vacuum; the manifest was removed outside the "
                    f"table protocol"
                )
            else:
                why = (
                    f"head is v{head}; most likely expired by "
                    f"vacuum(keep_versions=...)"
                )
        else:
            why = f"head is v{head}"
        raise FileNotFoundError(
            f"{path!r}: manifest v{version} does not exist ({why})"
        ) from None


def _list_parquet(commit_dir: str) -> list[str]:
    return sorted(
        os.path.join(commit_dir, f)
        for f in os.listdir(commit_dir)
        if f.endswith(".parquet")
    )


def _file_stats(file_path: str, cols: list[str]) -> dict:
    """Per-file min/max for ``cols`` from the parquet FOOTER (no data
    read) — the statistics a manifest needs for file skipping."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    md = pq.ParquetFile(file_path).metadata
    idx = {
        md.schema.column(i).name: i for i in range(md.num_columns)
    }
    out: dict[str, list] = {}
    for c in cols:
        if c not in idx:
            continue
        lo = hi = None
        for rg in range(md.num_row_groups):
            st_ = md.row_group(rg).column(idx[c]).statistics
            if st_ is None or not st_.has_min_max:
                lo = hi = None
                break  # a stats-less row group poisons the whole file
            lo = st_.min if lo is None else min(lo, st_.min)
            hi = st_.max if hi is None else max(hi, st_.max)
        # manifests are JSON: keep only losslessly-serializable stats
        if lo is not None and all(
            isinstance(v, (int, float, str)) and not isinstance(v, bool)
            for v in (lo, hi)
        ):
            out[c] = [lo, hi]
    return out


def _txn_version(path: str, txn: str) -> int | None:
    """Version already committed under ``txn``, or None.  Scans newest
    to oldest — a replayed transaction is usually the most recent.

    A missing manifest below the current version is the log-retention
    floor (``vacuum`` dropped it): the scan stops there and reports the
    txn as unseen, the same retention caveat as Delta's setTransaction
    — idempotency markers older than the retained log are forgotten."""
    v = current_version(path)
    if v is None:
        return None
    for i in range(v, -1, -1):
        try:
            if _read_manifest(path, i).get("txn") == txn:
                return i
        except FileNotFoundError:
            return None
    return None


def _nullable_schema(schema: dict) -> dict:
    """Every table column is nullable by convention (as in Delta /
    Iceberg): additive evolution null-fills old files, so a
    non-nullable writer schema (e.g. a ``lit()`` column) must not leak
    into the manifest — readers would codegen non-null access over
    null-filled rows."""
    return {
        **schema,
        "fields": [{**f, "nullable": True} for f in schema["fields"]],
    }


def _merge_schema(parent: dict, new: dict) -> dict:
    """Additive schema evolution: an append may introduce NEW columns
    (readers of old files see them as null) but may not change an
    existing column's type — the same rule Delta/Iceberg apply to
    un-migrated appends."""
    by_name = {f["name"]: f for f in parent["fields"]}
    merged = list(parent["fields"])
    for f in new["fields"]:
        have = by_name.get(f["name"])
        if have is None:
            merged.append(f)
        elif have["type"] != f["type"]:
            raise SchemaConflict(
                f"column {f['name']!r}: table has type {have['type']!r}, "
                f"append has {f['type']!r} — additive evolution only"
            )
    return {**parent, "fields": merged}


def commit(
    df: DataFrame,
    path: str,
    mode: str = "append",
    max_retries: int = 10,
    txn: str | None = None,
    require_parent: int | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Atomically commit ``df`` to the table at ``path``.

    ``mode="append"`` adds the new files to the parent snapshot's;
    ``mode="overwrite"`` makes the new files the entire table.  Returns
    the committed version.  The data write runs ONCE; only the (cheap,
    metadata-only) manifest publish retries on conflict.

    ``txn`` makes the commit IDEMPOTENT: if a manifest already carries
    this transaction id, the commit is a no-op returning that version —
    the exactly-once primitive a replayed streaming epoch needs (the
    same idempotent-writes contract Delta exposes as
    ``txnAppId``/``txnVersion``).

    ``require_parent`` makes the commit SERIALIZABLE with respect to a
    read: if any other commit landed after that version, the publish
    fails with ``CommitConflict`` instead of silently clobbering it —
    the read-modify-write guard ``merge_upsert`` relies on.

    ``stats_cols`` harvests per-file min/max for those columns from the
    parquet footers (no data read) into the manifest; readers passing
    ``between=`` to ``read_snapshot`` then SKIP files whose range
    cannot match — manifest-level file pruning, the mechanism behind
    Iceberg's scan planning and Delta's data skipping.
    """
    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown mode {mode!r}")
    os.makedirs(_manifest_dir(path), exist_ok=True)
    if txn is not None and (seen := _txn_version(path, txn)) is not None:
        return seen
    # validate schema compatibility BEFORE paying the data write; the
    # publish loop re-merges against whatever parent wins the race
    pre_parent = current_version(path)
    if mode == "append" and pre_parent is not None:
        _merge_schema(
            _read_manifest(path, pre_parent)["schema"],
            json.loads(df.schema.json()),
        )
    commit_dir = os.path.join(_data_dir(path), uuid.uuid4().hex)
    df.write.mode("error").parquet(commit_dir)
    new_files = [
        os.path.relpath(f, path) for f in _list_parquet(commit_dir)
    ]
    return _publish(
        path,
        new_files,
        json.loads(df.schema.json()),
        mode,
        max_retries,
        txn,
        require_parent,
        stats_cols,
    )


def _publish(
    path: str,
    new_files: list[str],
    writer_schema: dict,
    mode: str,
    max_retries: int,
    txn: str | None,
    require_parent: int | None,
    stats_cols: list[str] | None,
    *,
    replace_files: frozenset[str] | None = None,
    operation: str | None = None,
    precomputed_stats: dict | None = None,
) -> int:
    """The metadata half of a commit: harvest optional footer stats for
    the new files, then run the optimistic manifest-publish loop.
    Shared by ``commit`` (which writes the data) and ``commit_files``
    (which registers pre-written data).

    ``replace_files`` (append mode only) drops those parent files from
    the child manifest while the new files are added — the partial
    rewrite a file-pruned MERGE publishes.  It requires
    ``require_parent``: a partial rewrite computed against one parent
    must never be re-targeted onto another.  ``operation`` overrides
    the history label (e.g. ``"merge"``) without changing semantics.
    ``precomputed_stats`` skips the footer harvest (a republishing
    merge retry passes the stats it harvested with the write — as
    loop-invariant as the files themselves)."""
    if replace_files and require_parent is None:
        raise ValueError("replace_files requires require_parent")
    if precomputed_stats is not None:
        new_stats = precomputed_stats
    else:
        new_stats = (
            {
                rel: _file_stats(os.path.join(path, rel), stats_cols)
                for rel in new_files
            }
            if stats_cols
            else {}
        )

    for _ in range(max_retries):
        parent = current_version(path)
        # Re-check the txn EVERY attempt, after the parent read: two
        # concurrent committers replaying the same txn can otherwise
        # both land (A publishes v_k while B is between its entry check
        # and its parent read; B then targets v_{k+1}, whose link
        # succeeds — double commit, caught by the r13 restart-storm
        # test).  With the check ordered after the parent read, any
        # same-txn winner is either ≤ parent (seen here) or raced us to
        # OUR version number (seen in the FileExistsError handler).
        if txn is not None and (seen := _txn_version(path, txn)) is not None:
            return seen
        if require_parent is not None:
            # -1 = "the table must still be empty" (first-writer guard)
            expected = None if require_parent < 0 else require_parent
            if parent != expected:
                raise CommitConflict(
                    f"serializable check failed: read version "
                    f"{expected}, table is now at {parent}"
                )
        version = 0 if parent is None else parent + 1
        files = list(new_files)
        schema = _nullable_schema(writer_schema)
        stats = dict(new_stats)
        if mode == "append" and parent is not None:
            pm = _read_manifest(path, parent)
            retained = (
                pm["files"]
                if not replace_files
                else [f for f in pm["files"] if f not in replace_files]
            )
            files = retained + files
            schema = _merge_schema(pm["schema"], schema)
            stats = {
                **{
                    f: s
                    for f, s in pm.get("stats", {}).items()
                    if not replace_files or f not in replace_files
                },
                **stats,
            }
        manifest = {
            "version": version,
            "parent": parent,
            "operation": operation or mode,
            "files": files,
            "schema": schema,
            "stats": stats,
            "txn": txn,
        }
        target = os.path.join(_manifest_dir(path), f"v{version}.json")
        try:
            # atomic create-if-absent IS the commit: exactly one writer
            # can link v{N}.json into existence.  The content is written
            # to a private temp file FIRST and published via os.link —
            # open(target, "x") + write would make the claim atomic but
            # not the content, and a racing reader/vacuum would see a
            # torn manifest (caught by the r13 restart-storm test as
            # JSONDecodeError mid-publish).
            tmp = target + f".{uuid.uuid4().hex}.tmp"
            with open(tmp, "w") as f:
                json.dump(manifest, f)
            try:
                # last-instant existence check on the files this
                # manifest is about to reference: a vacuum tuned below
                # the publish latency can reclaim not-yet-referenced
                # data between the committer's write (or a merge
                # retry's mtime refresh) and this link.  The mtime
                # guards make that a contract violation, but violate
                # it and the failure mode without this check is a
                # manifest of deleted files — silent corruption.  With
                # it: a loud CommitConflict (a merge's next retry
                # evicts its write-once cache via the failing utime
                # probe and rebuilds).  One stat-to-link syscall of
                # window remains — irreducible without coordinating
                # vacuum and commit; the same residual race Delta
                # documents for VACUUM retention below write duration.
                vanished = [
                    rel
                    for rel in new_files
                    if not os.path.exists(os.path.join(path, rel))
                ]
                if vanished:
                    with _GUARD_LOCK:
                        PUBLISH_GUARD_TRIPS["vanished_before_link"] += 1
                    raise CommitConflict(
                        f"data files vanished before publish on "
                        f"{path!r} (a vacuum with min_age_seconds "
                        f"below the publish latency reclaimed them): "
                        f"{vanished[:3]}"
                    )
                os.link(tmp, target)
            finally:
                os.unlink(tmp)
            _write_last_checkpoint(path, version, len(files))
            return version
        except FileExistsError:
            # lost the race; if the winner was a replay of OUR txn,
            # adopt its version instead of double-committing
            if txn is not None and (seen := _txn_version(path, txn)) is not None:
                return seen
            continue
    raise CommitConflict(
        f"could not publish a manifest after {max_retries} attempts "
        f"(heavy writer contention on {path!r})"
    )


def commit_files(
    path: str,
    files: list[str],
    mode: str = "append",
    max_retries: int = 10,
    txn: str | None = None,
    require_parent: int | None = None,
    stats_cols: list[str] | None = None,
) -> int:
    """Metadata-only commit of parquet files ALREADY under the table
    root — the bulk-ingest path (Iceberg ``add_files`` / Delta's
    register-existing-data): a distributed job writes its output into
    ``data/<job-id>/`` (immutable, invisible — no manifest references
    it), then ONE atomic manifest publish makes every file appear or
    none.  At 100 TB this is the difference between re-writing the data
    through ``commit`` and an O(metadata) publish.

    ``files`` are paths (absolute, or relative to ``path``) that must
    already exist under the table root and MUST live under ``data/``
    (enforced with ``ValueError``) so ``vacuum`` can reclaim them when
    expired.  The manifest schema is
    read from the parquet FOOTERS (merged additively across the files;
    no data read), so the same evolution rules apply as for ``commit``.
    Same ``txn`` / ``require_parent`` / ``stats_cols`` semantics."""
    from pyspark.sql.pandas.types import from_arrow_schema  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    if mode not in ("append", "overwrite"):
        raise ValueError(f"unknown mode {mode!r}")
    if not files:
        raise ValueError("commit_files needs at least one file")
    os.makedirs(_manifest_dir(path), exist_ok=True)
    if txn is not None and (seen := _txn_version(path, txn)) is not None:
        return seen
    root = os.path.realpath(path)
    rels: list[str] = []
    for f in files:
        absf = os.path.realpath(
            f if os.path.isabs(f) else os.path.join(path, f)
        )
        if os.path.commonpath([root, absf]) != root:
            raise ValueError(f"{f!r} is outside the table root {path!r}")
        rel = os.path.relpath(absf, root)
        # Enforce the documented contract: registered files must live
        # under data/ so vacuum can reclaim them on expiry.  A file under
        # manifests/ (or any other subtree) would commit fine but never
        # be reclaimable, silently breaking retention.
        if not rel.startswith("data" + os.sep):
            raise ValueError(
                f"{f!r} is not under the table's data/ directory; "
                "commit_files only registers files vacuum can reclaim"
            )
        if not os.path.isfile(absf):
            raise FileNotFoundError(absf)
        rels.append(rel)
    schema: dict | None = None
    for rel in rels:
        fs = json.loads(
            from_arrow_schema(
                pq.ParquetFile(os.path.join(path, rel)).schema_arrow
            ).json()
        )
        schema = fs if schema is None else _merge_schema(schema, fs)
    return _publish(
        path, rels, schema, mode, max_retries, txn, require_parent,
        stats_cols,
    )


# broadcast the upsert key side of the merge anti-join only below this
# many DISTINCT keys (exact when the probe collected them, a sketch
# estimate or the row-count upper bound otherwise): broadcasting a huge
# key frame would OOM where the unhinted shuffle join completes
_MERGE_BROADCAST_KEY_LIMIT = 2_000_000
# byte-aware companion to the row cap: 2M rows of wide string or
# multi-column keys can be hundreds of MB — past Spark's comfortable
# broadcast size even when the ROW count looks small.  Both gates must
# pass for the forced broadcast.
_MERGE_BROADCAST_BYTES_LIMIT = 64 << 20
# above this many DISTINCT upsert keys, per-file key-set pruning stops
# collecting the keys to the driver and merges prune on the hull alone
# (the keyset walk is O(files * log keys) driver-side; the collect that
# feeds it is the one cost that must stay bounded)
_MERGE_KEYSET_PRUNE_LIMIT = 100_000
def _env_int(name: str, default: int) -> int:
    """Deployment override for a measured-default tunable: a
    non-negative integer from the DRIVER's environment (both knobs
    below are consumed driver-side only, so executor env is
    irrelevant).  A malformed value raises at import — a silently
    ignored typo'd override is worse than a loud one."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        v = int(raw)
    except ValueError as exc:
        raise ValueError(
            f"{name} must be an integer byte/tuple count, got {raw!r}"
        ) from exc
    if v < 0:
        raise ValueError(f"{name} must be >= 0, got {v}")
    return v


# TUNABLE (env FSP_MERGE_SMALL_TABLE_BYTES): below this much TOTAL
# table data a merge skips the keyset collect (one extra Spark job + a
# driver walk) and prunes on the hull alone: the keyset's best case
# saves rewriting at most the whole table, so when the whole table
# rewrites in less than the collect job costs the probe is a pure tax
# (r16 verdict ask 1).  The 64 MiB default is a local[32] measurement
# (9911545:tools/merge_scale_probe.py --adaptive, extreme-pair shape, SCALE.md
# r16): hull-only wins at 42MB (1.41s vs 1.47s), keyset wins at 125MB
# (1.58s vs 2.05s) — 64MB splits the bracket.  Re-tune by re-running
# that probe on the target cluster: the crossover tracks the cost of
# ONE extra Spark job (scheduling round-trip + one collect), so a busy
# shared cluster moves it DOWN (the saved job is worth more) and a
# fast dedicated one moves it UP.  0 disables the small-table
# short-circuit entirely (always probe).
_MERGE_SMALL_TABLE_BYTES = _env_int(
    "FSP_MERGE_SMALL_TABLE_BYTES", 64 << 20
)
# manifests past this many files never pay the per-file getsize() walk
# the byte gate needs — they are big by construction
_MERGE_SMALL_TABLE_FILES = 512

# test/ops observability: how many publishes aborted because a racing
# vacuum reclaimed the not-yet-referenced data files between the
# committer's write (or the merge cache's mtime refresh) and the
# manifest link.  A non-zero count means vacuum's min_age_seconds is
# tuned below the publish latency — the documented contract violation,
# surfaced loudly instead of as a manifest of deleted files.  The
# increment is lock-guarded: concurrent committers in threads (the
# storm tests run exactly that shape) would otherwise lose counts to
# the read-modify-write race — observability-only, so a lost count is
# not corruption, but exactness is cheap (ADVICE r15).
PUBLISH_GUARD_TRIPS = {"vanished_before_link": 0}
_GUARD_LOCK = threading.Lock()


_FIXED_KEY_WIDTHS = (
    "tinyint", "smallint", "int", "bigint",
    "boolean", "float", "double", "date",
)

# per-value JVM overhead added on top of a measured payload width when
# sizing a broadcast: object header + offset bookkeeping in the hashed
# relation's UnsafeRows
_KEY_VALUE_OVERHEAD = 16


def _is_fixed_width(type_str: str) -> bool:
    return type_str in _FIXED_KEY_WIDTHS or type_str.startswith(
        ("decimal", "timestamp")
    )


def _estimate_key_row_bytes(
    schema, keys: list[str], measured: dict[str, float] | None = None
) -> int:
    """Per-row byte width of the key columns for the broadcast gate.

    Fixed-width types are exact.  Variable-width types (string, binary,
    array, struct, map) use ``measured`` — the upsert's own
    avg(length) per column, harvested by ``_hull_row`` in the same
    aggregate job the probe already runs — plus per-value JVM overhead.
    Only when no measurement exists (caller skipped the hull job) does
    a flat 48-byte guess apply, and that guess CAN be wrong in the
    dangerous direction: ~1.3M distinct 500B-average keys estimated at
    48B pass both gates and force a ~650MB broadcast (ADVICE r15) —
    which is exactly why every merge path now feeds the measured
    average through."""
    width = 0
    by_name = {f.name: f.dataType.simpleString() for f in schema.fields}
    for k in keys:
        t = by_name.get(k, "string")
        if t in _FIXED_KEY_WIDTHS:
            width += 8
        elif t.startswith("decimal") or t.startswith("timestamp"):
            width += 16
        elif measured is not None and measured.get(k) is not None:
            width += math.ceil(measured[k]) + _KEY_VALUE_OVERHEAD
        else:  # unmeasured string/binary/array/struct: assume wide
            width += 48
    # per-row bookkeeping, same charge _keyset_bytes applies — the two
    # sizings of identical data must not disagree in the dangerous
    # (under-estimating) direction near the gate threshold
    return max(width, 8) + _KEY_VALUE_OVERHEAD


def _keyset_bytes(tuples: list[tuple]) -> int:
    """ACTUAL byte size of a collected key set — when the probe holds
    the distinct keys in hand, the broadcast gate sizes the real
    payload instead of any estimate."""
    total = 0
    for t in tuples:
        total += _KEY_VALUE_OVERHEAD  # per-row bookkeeping
        for v in t:
            if isinstance(v, str):
                total += len(v.encode("utf-8", "surrogatepass")) + (
                    _KEY_VALUE_OVERHEAD
                )
            elif isinstance(v, (bytes, bytearray)):
                total += len(v) + _KEY_VALUE_OVERHEAD
            else:
                total += 8
    return total


def _stats_cover(manifest: dict, keys: list[str]) -> bool:
    """Does ``manifest`` carry per-file stats for every key column on
    at least one file?  The SINGLE coverage gate shared by
    ``merge_upsert``'s pruned-path decision and
    ``_merge_candidate_files`` — two copies of this rule would let the
    caller's path choice silently diverge from the helper's."""
    covered: set[str] = set()
    for per_file in (manifest.get("stats") or {}).values():
        covered.update(per_file)
    return set(keys) <= covered


def _bytes_reach(
    path: str,
    files: list[str],
    threshold: int,
    max_files: int | None = None,
) -> bool:
    """Do ``files`` hold at least ``threshold`` bytes of data?
    O(files) driver ``getsize`` with early exit at the threshold, no
    Spark job; ``max_files`` short-circuits the stat walk for file
    lists big by construction.  A vanished file (racing vacuum/rival)
    makes the size unknowable — answer True, the purely-performance-
    conservative choice (the publish guard, not this gate, owns
    correctness)."""
    if threshold <= 0:
        return True
    if max_files is not None and len(files) > max_files:
        return True
    total = 0
    for f in files:
        try:
            total += os.path.getsize(os.path.join(path, f))
        except OSError:
            return True
        if total >= threshold:
            return True
    return False


def _keyset_probe_worthwhile(path: str, manifest: dict) -> bool:
    """Adaptive merge path choice (r16): is per-file KEY-SET pruning
    worth its fixed cost (one distinct-collect job + a driver-side
    bisect walk) on this table?  The keyset's payoff is bounded by the
    cost of rewriting the files the hull keeps but the keys miss — at
    most the whole table — so below ``_MERGE_SMALL_TABLE_BYTES`` of
    total data the collect job alone exceeds the best possible saving
    and the merge prunes on the (job-free-by-then) hull alone.

    Total table bytes are only the FIRST bound: the merge loop
    re-checks the tighter one — the bytes of the files that survive
    the hull pass — before committing to the collect (ADVICE r16), so
    a huge table whose hull already prunes to a couple of small files
    does not pay the probe either."""
    return _bytes_reach(
        path,
        manifest["files"],
        _MERGE_SMALL_TABLE_BYTES,
        max_files=_MERGE_SMALL_TABLE_FILES,
    )


def _merge_key_hull(
    df: DataFrame, keys: list[str]
) -> tuple[dict[str, tuple] | None, int]:
    """(per-column [min, max] hull of the upsert's keys, upsert row
    count) — ONE tiny job on the upsert side.  Loop-invariant across a
    merge's publish retries, so callers compute it once OUTSIDE the
    optimistic retry loop: an extra job inside the loop widens the
    conflict window and starves the merge under write-heavy contention
    (seen as exhausted retries in the r14 cross-protocol storm).

    A None hull means some key column is NULL on EVERY upsert row (min
    is None only when all values are), and NULL never equals an
    existing key — no file can match."""
    row = _hull_row(df, keys)
    return _bounds_from_row(row, keys), row["_n"]


def _hull_row(df: DataFrame, keys: list[str], *, with_distinct: bool = False):
    """The one aggregate row behind every key-hull computation: total
    count plus per-key min/max, optionally an approx-distinct sketch —
    shared so the probe and the fallback hull can never diverge.  With
    the sketch it also measures avg(length) of every variable-width
    key column (``w_{k}``), feeding the broadcast byte gate a REAL
    width instead of a flat guess — same job, one more map-side agg."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    aggs = [F.count(F.lit(1)).alias("_n")]
    if with_distinct:
        aggs.append(F.approx_count_distinct(F.struct(*keys)).alias("_nd"))
        for k in keys:
            t = types.get(k, "string")
            if _is_fixed_width(t):
                continue
            if t == "string":
                width = F.octet_length(F.col(k))
            elif t == "binary":
                width = F.length(F.col(k))
            else:  # array/struct/map: JSON length over-approximates
                width = F.octet_length(F.to_json(F.struct(F.col(k))))
            # avg AND max: the avg is row-weighted, but the broadcast
            # frame is the DISTINCT key frame — under heavy duplication
            # of a narrow key the row-avg underestimates the distinct
            # frame's width, so the probe switches to the max
            aggs += [
                F.avg(width).alias(f"w_{k}"),
                F.max(width).alias(f"wmax_{k}"),
            ]
    for k in keys:
        aggs += [F.min(k).alias(f"lo_{k}"), F.max(k).alias(f"hi_{k}")]
    return df.select(*aggs).collect()[0]


def _measured_widths(row, keys: list[str], *, use_max: bool) -> dict[str, float]:
    """The width measurements a ``_hull_row`` result carries (only
    variable-width key columns have one).  ``use_max`` selects the
    max(length) instead of the row-weighted avg: the broadcast frame
    is the DISTINCT key frame, and when the upsert is duplicate-heavy
    (rows >> distinct keys) the row-avg can be dominated by a narrow
    hot key while the distinct frame is full of wide rare keys — the
    exact under-estimate the gate must not make."""
    out: dict[str, float] = {}
    prefix = "wmax_" if use_max else "w_"
    for k in keys:
        try:
            v = row[prefix + k]
        except ValueError:
            continue  # fixed-width column: no measurement needed
        if v is not None:
            out[k] = v
    return out


def _bounds_from_row(row, keys: list[str]) -> dict[str, tuple] | None:
    """Hull dict from a ``_hull_row`` result, NaN-neutralized: a key
    column whose Spark min or max is NaN gets a (NaN, NaN) hull, which
    compares False against every file range — that column can then
    never mark a file disjoint.  Pruning on a real bound while a NaN
    key rides along would trust parquet writers to omit stats on
    NaN-bearing files (Spark joins treat NaN = NaN as TRUE, so a NaN
    upsert key CAN match stored rows); most writers do omit them, but
    the hull must not bet correctness on a foreign writer's NaN
    convention."""
    nan = float("nan")
    bounds: dict[str, tuple] = {}
    for k in keys:
        lo, hi = row[f"lo_{k}"], row[f"hi_{k}"]
        if lo is None:
            return None  # this key column is NULL on every row
        if any(isinstance(v, float) and v != v for v in (lo, hi)):
            bounds[k] = (nan, nan)
        else:
            bounds[k] = (lo, hi)
    return bounds


class _KeyProbe(NamedTuple):
    """Everything ``merge_upsert`` learns about its upsert's keys from
    at most two jobs, memoized outside the retry loop."""

    bounds: dict[str, tuple] | None  # NaN-neutral per-column key hull
    n_keys: int  # distinct keys: exact if collected, else sketch/rows
    keyset: list[tuple] | None  # sorted distinct tuples, when collected
    n_rows: int  # TOTAL upsert rows (sizes the output layout)
    key_bytes: int  # broadcast payload: actual if collected, measured-avg est. otherwise


def _merge_key_probe(
    df: DataFrame,
    keys: list[str],
    *,
    collect_keyset: bool = True,
    row_cache: dict | None = None,
) -> _KeyProbe:
    """(hull, distinct-key count, sorted key set or None, row count,
    key-frame bytes): the hull aggregate (plus a distinct sketch and
    avg key widths), then — when ``collect_keyset`` and the sketch says
    the keys fit under ``_MERGE_KEYSET_PRUNE_LIMIT`` — one collect of
    the distinct key tuples.  Oversized upserts keep keyset=None —
    pruning then degrades to the hull, exactly the pre-r15 behavior;
    ``collect_keyset=False`` (small tables, where a full rewrite is
    cheaper than the collect job the keyset costs) does the same while
    keeping the sketch count and measured widths for the broadcast
    gate.  The returned count is the DISTINCT-key count (exact when
    collected, the sketch estimate otherwise): it feeds the broadcast
    gates, and the frame being gated IS the distinct key frame.
    ``key_bytes`` is that frame's payload size — the ACTUAL byte size
    of the collected tuples when the keyset is in hand, else the count
    times a per-row width built from the measured avg(length) of every
    variable-width key column (never the flat guess that let 1.3M
    500B-average keys through the gate — ADVICE r15).

    The keyset drops tuples with a NULL in any key column (NULL never
    equals a stored key, so they can't require reading any file — the
    anti-join still sees them via the full key frame, and the insert
    half of the merge still lands them).  If any collected value is a
    float NaN the keyset is discarded (NaN breaks the sorted-bisect
    walk) and the hull is NaN-neutralized by ``_bounds_from_row`` /
    the per-column rebuild below: hull-only pruning, conservative.
    Loop-invariant like the hull — callers memoize it outside the
    optimistic retry loop.

    Job budget at scale: a potentially huge upsert must NOT pay a full
    distinct-key shuffle just to learn "too big": the probe first runs
    the hull aggregate extended with approx_count_distinct (map-side
    sketches, no wide shuffle — the r14 cost) and only collects the
    keys when the estimate says they fit, with the hard limit
    re-checked at collect time (the sketch's ±5%).

    ``row_cache`` (a caller-held dict) memoizes the hull aggregate ROW
    across flavors: both flavors run the identical ``_hull_row`` job,
    so a hull-only probe later upgraded to a full one (the merge
    loop's hull-candidate-bytes re-check, ADVICE r16) pays only the
    collect — never a second aggregate job."""
    row = row_cache.get("row") if row_cache is not None else None
    if row is None:
        row = _hull_row(df, keys, with_distinct=True)
        if row_cache is not None:
            row_cache["row"] = row
    n_rows = row["_n"]
    # duplicate-heavy upserts (rows >> distinct keys): size the
    # distinct key frame by the MAX width, not the row-weighted avg a
    # hot narrow key can drag down (review r16)
    dup_heavy = n_rows > 2 * max(row["_nd"], 1)
    est_row_bytes = _estimate_key_row_bytes(
        df.schema, keys, _measured_widths(row, keys, use_max=dup_heavy)
    )
    spark_bounds = _bounds_from_row(row, keys)
    n = row["_nd"]
    if spark_bounds is None:
        return _KeyProbe(None, n, None, n_rows, n * est_row_bytes)
    if not collect_keyset or n > _MERGE_KEYSET_PRUNE_LIMIT * 0.8:
        # hull-only: skipped by choice (small table) or estimated too big
        return _KeyProbe(spark_bounds, n, None, n_rows, n * est_row_bytes)
    probe = (
        df.select(*keys)
        .distinct()
        .limit(_MERGE_KEYSET_PRUNE_LIMIT + 1)
        .collect()
    )
    if len(probe) > _MERGE_KEYSET_PRUNE_LIMIT:
        # the sketch under-counted; total rows is the safe upper
        # bound for the broadcast gates
        return _KeyProbe(
            spark_bounds, n_rows, None, n_rows, n_rows * est_row_bytes
        )
    n = len(probe)
    tuples = [
        tuple(r[k] for k in keys)
        for r in probe
        if all(r[k] is not None for k in keys)
    ]
    if not tuples:
        # every distinct key has a NULL component: nothing can match
        return _KeyProbe(None, n, [], n_rows, 0)
    actual_bytes = _keyset_bytes(tuples)
    if any(isinstance(v, float) and v != v for t in tuples for v in t):
        # NaN keys: no keyset (the bisect walk needs a total order) and
        # a NaN-neutral hull — per column, (NaN, NaN) when any value is
        # NaN (compares False against every range: never disjoint),
        # plain min/max otherwise.  Python's min/max are order-
        # dependent under NaN, so they are only safe on NaN-free values.
        nan = float("nan")
        bounds = {}
        for i, k in enumerate(keys):
            vals = [t[i] for t in tuples]
            if any(isinstance(v, float) and v != v for v in vals):
                bounds[k] = (nan, nan)
            else:
                bounds[k] = (min(vals), max(vals))
        return _KeyProbe(bounds, n, None, n_rows, actual_bytes)
    tuples.sort()
    bounds = {
        k: (min(t[i] for t in tuples), max(t[i] for t in tuples))
        for i, k in enumerate(keys)
    }
    return _KeyProbe(bounds, n, tuples, n_rows, actual_bytes)


# TUNABLE (env FSP_KEYSET_WALK_BUDGET): total tuple-scan iterations one
# _merge_candidate_files walk may spend across ALL files before
# degrading big slices to a conservative True: the walk is driver-side
# pure Python, and without a bound a 10k-file manifest whose stats miss
# the first key column costs O(files x keys) — measured 325s at 10k
# files x 100k keys (r16 probe).  With the budget + the exact
# per-column bisect check the same shape is ~0.5s.  The 2M default is a
# local[32] measurement: re-tune by timing the budget-burner shape of
# 9911545:tools/merge_scale_probe.py --wide-manifest on the target DRIVER node
# — the budget caps pure driver CPU, so a slower driver moves it down,
# and a deployment that would rather burn driver seconds than rewrite
# conservative-candidate files moves it up.  Exhaustion degrades to
# candidate-keeping (extra rewrite I/O), never to a wrong prune;
# 0 disables tuple scans entirely (hull + per-column bisect only).
_KEYSET_WALK_BUDGET = _env_int("FSP_KEYSET_WALK_BUDGET", 2_000_000)


class _KeysetIndex:
    """Per-merge acceleration for the keyset walk: column-sorted value
    arrays (an EXACT per-column disjointness test in O(log keys) per
    file) plus a shared tuple-scan work budget.  False answers stay
    exact; once the budget is spent, a slice too big to scan returns
    True — conservative (the file stays a candidate), never wrong."""

    def __init__(self, keyset: list[tuple], keys: list[str]):
        self.col_sorted: list[list | None] = []
        for i in range(len(keys)):
            try:
                self.col_sorted.append(sorted({t[i] for t in keyset}))
            except TypeError:
                self.col_sorted.append(None)  # unsortable: skip checks
        self.budget = _KEYSET_WALK_BUDGET

    def col_disjoint(self, i: int, rng) -> bool:
        """Exact: does NO keyset value of column ``i`` fall in ``rng``?"""
        import bisect  # noqa: PLC0415

        vals = self.col_sorted[i]
        if vals is None:
            return False
        try:
            j = bisect.bisect_left(vals, rng[0])
            return j >= len(vals) or vals[j] > rng[1]
        except TypeError:
            return False  # incomparable stat: cannot prove disjoint


def _keyset_hits_file(
    keyset: list[tuple],
    keys: list[str],
    per_file: dict,
    index: _KeysetIndex | None = None,
) -> bool:
    """Does SOME key tuple fall inside this file's per-column bounds?
    ``keyset`` is sorted, so the first key column narrows by bisect
    (O(log n)); the remaining columns scan the narrowed slice.  Any
    missing or incomparable per-column stat passes that column —
    conservative, same contract as the hull check.

    Without ``index`` the answer is exact (the property-test
    reference contract).  With it (``_merge_candidate_files`` builds
    one per walk), per-column disjointness is decided first by an
    exact O(log keys) bisect, and the remaining tuple scan draws on a
    WALK-WIDE work budget — a slice too big for the remaining budget
    returns True (stays a candidate) instead of scanning, bounding the
    driver cost of a stats-poor 10k-file manifest at ~0.5s where the
    unbounded walk measured 325s (r16)."""
    import bisect  # noqa: PLC0415

    lo_idx, hi_idx = 0, len(keyset)
    rng0 = per_file.get(keys[0])
    narrowed = False
    if rng0 is not None:
        try:
            # key-based bisect on the FIRST ELEMENT, not the 1-tuple
            # prefix: tuples sharing rng0[1] as their first element
            # would sort after (rng0[1],), and extending past them
            # linearly is O(duplicates) per file — uncharged driver
            # work a hot first-column value turns back into the
            # O(files x keys) stall the walk budget exists to prevent
            # (review r16).  With key=, both edges stay O(log n).
            lo_idx = bisect.bisect_left(
                keyset, rng0[0], key=lambda t: t[0]
            )
            hi_idx = bisect.bisect_right(
                keyset, rng0[1], lo=lo_idx, key=lambda t: t[0]
            )
            narrowed = True
        except TypeError:
            lo_idx, hi_idx = 0, len(keyset)  # incomparable: full scan
    if lo_idx >= hi_idx:
        return False
    if len(keys) == 1:
        return True
    if index is not None:
        # exact per-column disjointness over the whole keyset: cheap,
        # and catches most real disjoint files without any tuple scan
        for i, k in enumerate(keys):
            if i == 0 and narrowed:
                continue  # the bisect already proved column 0 overlaps
            rng = per_file.get(k)
            if rng is not None and index.col_disjoint(i, rng):
                return False
        span = hi_idx - lo_idx
        if span > index.budget:
            return True  # budget spent: conservative candidate
    # index walk, not a slice: a full-range scan (stats missing on the
    # first key column) over a near-limit keyset would otherwise copy
    # 100k tuples per candidate file.  The budget is charged for
    # iterations actually EXECUTED, not the whole narrowed span: the
    # scan usually early-exits on a hit, and pre-charging the span
    # drained the budget far faster than work done, degrading later
    # files of an overlapping-hull manifest to conservative candidates
    # (extra rewrite I/O) sooner than necessary (ADVICE r16).
    hit = False
    idx = lo_idx
    for idx in range(lo_idx, hi_idx):
        t = keyset[idx]
        ok = True
        for i, k in enumerate(keys[1:], start=1):
            rng = per_file.get(k)
            if rng is None:
                continue
            try:
                if t[i] < rng[0] or t[i] > rng[1]:
                    ok = False
                    break
            except TypeError:
                continue
        if ok:
            hit = True
            break
    if index is not None:
        index.budget -= idx - lo_idx + 1
    return hit


def _merge_candidate_files(
    df: DataFrame,
    manifest: dict,
    keys: list[str],
    bounds: dict[str, tuple] | None = None,
    keyset: list[tuple] | None = None,
) -> list[str] | None:
    """Files of ``manifest`` that can contain a row matching one of
    ``df``'s keys, decided by per-file stats against the upsert's
    per-column key hull (``bounds``, precomputed by the caller via
    ``_merge_key_hull``; computed here if omitted) and — when the
    caller collected one — the actual distinct KEY SET (``keyset``,
    sorted tuples from ``_merge_key_probe``).

    The keyset refinement is Delta dynamic-file-pruning's shape: a file
    stays a candidate only if SOME upsert key falls inside its bounds,
    so an upsert touching the table's min and max keys no longer makes
    every file a candidate the way a single [min, max] hull does
    (pre-r15 that two-extreme-keys shape degenerated to a full
    rewrite).

    Returns None when the manifest carries no stats for some key
    column on any file — the caller then falls back to the full
    rewrite.  Returns [] when no file can match (every upsert key is
    NULL in some key column, or every range is disjoint): a pure
    insert.  Conservative throughout: a file missing stats for a key
    column, or any non-comparable/NaN bound, stays a candidate.
    """
    stats = manifest.get("stats") or {}
    if not _stats_cover(manifest, keys):
        return None

    if bounds is None:
        bounds, _n = _merge_key_hull(df, keys)
    if bounds is None:
        return []

    # single-key walks return at the len(keys)==1 short-circuit before
    # ever consulting the index — don't pay its O(n log n) sort
    index = _KeysetIndex(keyset, keys) if keyset and len(keys) > 1 else None
    out = []
    for f in manifest["files"]:
        per_file = stats.get(f, {})
        disjoint = False
        for k in keys:
            lo, hi = bounds[k]
            rng = per_file.get(k)
            if rng is None:
                continue  # no stats for this column on this file
            try:
                # NaN bounds compare False everywhere, so a NaN key
                # hull can never mark a file disjoint — conservative
                if lo > rng[1] or hi < rng[0]:
                    disjoint = True
                    break
            except TypeError:
                continue  # incomparable stat/bound types: stay candidate
        if disjoint:
            continue
        if keyset is not None and not _keyset_hits_file(
            keyset, keys, per_file, index=index
        ):
            continue  # hull intersects but no actual key falls inside
        out.append(f)
    return out


def merge_upsert(
    df: DataFrame,
    path: str,
    key: str | list[str],
    max_retries: int = 5,
) -> int:
    """Copy-on-write MERGE: rows of ``df`` replace same-key rows in the
    table; new keys insert.  Serializable: the publish pins
    ``require_parent`` to the version the merge read, so a commit
    landing in between triggers a re-read + re-merge instead of a lost
    update — optimistic concurrency at MERGE granularity.

    FILE-PRUNED when the manifest's per-file stats cover every key
    column: only files whose recorded [min, max] can intersect the
    upsert's key hull — refined, for upserts of up to
    ``_MERGE_KEYSET_PRUNE_LIMIT`` distinct keys, by the ACTUAL key set
    (a file survives only if some key falls inside its bounds, so a
    two-extreme-keys upsert touches two files, not the whole table) —
    are read, anti-joined, and rewritten; untouched files are carried
    into the child manifest verbatim (a partial-rewrite append
    publish).  At 100 TB this is the difference between
    rewriting the table and rewriting the handful of files a MERGE
    actually touches — the same file-pruned copy-on-write Delta's MERGE
    performs from its data-skipping stats.  Without key-column
    coverage, the merge falls back to the full-table rewrite.

    ADAPTIVE (r16/r17): the keyset refinement costs one extra Spark
    job (the distinct-key collect) plus a driver walk, and its payoff
    is bounded by the rewrite it avoids — so the collect only runs
    when BOTH byte gates pass: total table data reaches
    ``_MERGE_SMALL_TABLE_BYTES`` (decided from the manifest + driver
    ``getsize``, no job) AND the files surviving the hull pass reach
    the same threshold (ADVICE r16: a huge table whose hull already
    prunes to a couple of small files has nothing left for the keyset
    to save).  Semantics are identical either way (the keyset only
    shrinks the candidate list); only the job count changes.

    Retry fairness: the pruned path writes its rewritten data ONCE per
    candidate set and, when a publish conflict's rival left every
    candidate file in place (appends elsewhere in the key space — the
    dominant traffic), RE-PUBLISHES the already-written files against
    the new parent as a metadata-only retry, so append-heavy
    contention cannot starve a merge.  Only a rival that replaced or
    intersected the candidates (another merge, OPTIMIZE) forces the
    data to be rebuilt; a rewriter hot-looping full-table OPTIMIZE
    passes can therefore still exhaust ``max_retries`` — the loud,
    documented starvation tradeoff of symmetric optimistic
    concurrency, mirroring the compaction-storm note that saturated
    append traffic starves OPTIMIZE.

    Like every rewrite (``compact``, ``optimize_zorder``), the merge
    re-harvests the stat columns the parent manifest covered — found by
    the r14 cross-protocol storm: an un-inheriting MERGE silently
    destroyed the whole table's file-skipping metadata (the rewritten
    files replace the covered ones, taking their stats with them).
    """
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.types import StructType  # noqa: PLC0415

    keys = [key] if isinstance(key, str) else list(key)
    spark = df.sparkSession
    # the upsert-side key probe (hull + distinct count + small-upsert
    # key set) is loop-invariant: compute it at most once per flavor —
    # running this job INSIDE the retry loop widens the conflict window
    # enough to starve the merge under storm-level contention.  Two
    # flavors share the memo: the FULL probe (with the keyset collect)
    # satisfies hull-only requests, so at most one upgrade ever runs —
    # and the upgrade reuses the memoized hull aggregate row
    # (hull_row_memo), so it pays ONLY the distinct collect, never a
    # second aggregate job.
    probe_memo: dict[str, _KeyProbe] = {}
    hull_row_memo: dict = {}
    # the small-table gate's getsize walk is loop-variant only through
    # the parent manifest — memoize per parent version so a contended
    # retry against the SAME parent never repeats up to 512 stat
    # syscalls inside the conflict window (review r16)
    worth_memo: dict[int, bool] = {}

    def _probe(full: bool = False) -> _KeyProbe:
        if "full" in probe_memo:
            return probe_memo["full"]
        if not full and "hull" in probe_memo:
            return probe_memo["hull"]
        flavor = "full" if full else "hull"
        probe_memo[flavor] = _merge_key_probe(
            df, keys, collect_keyset=full, row_cache=hull_row_memo
        )
        return probe_memo[flavor]

    def _small():
        # the broadcast gate, shared by the anti-join hint and the
        # output-layout choice.  Two gates, BOTH required: distinct-key
        # count AND bytes — actual bytes when the keyset was collected,
        # measured-avg-width estimate otherwise (count alone lets 2M
        # wide-string keys force a multi-hundred-MB broadcast)
        p = _probe()
        return (
            p.n_keys <= _MERGE_BROADCAST_KEY_LIMIT
            and p.key_bytes <= _MERGE_BROADCAST_BYTES_LIMIT
        )

    def _key_frame():
        # the anti-join's build side: broadcast it when plausibly small
        # (a shuffled anti-join triples the attempt's latency, widening
        # the optimistic-conflict window), but let Spark plan a shuffle
        # join for huge upserts instead of OOMing a forced broadcast
        kf = df.select(*keys).distinct()
        return F.broadcast(kf) if _small() else kf

    # write-once cache for the pruned path: (candidate file set) ->
    # (written relpaths, writer schema json, harvested stats).  Data
    # files are immutable and uniquely named, so an unchanged candidate
    # set means the already-written merge output is still exact —
    # re-publish it against the new parent without touching data.
    written: dict = {}

    def _fresh_cache_entry(cand_key):
        # a cached write sits UNREFERENCED until its publish wins, and
        # the retry loop can stretch that window across attempts —
        # refresh the files' mtimes so the vacuum in-flight age guard
        # (min_age_seconds, mtime-based) keeps covering them; if a
        # vacuum tuned below the guard already reclaimed them, evict
        # and rebuild rather than publish a manifest of deleted files
        entry = written.get(cand_key)
        if entry is None:
            return None
        now = time.time()
        try:
            for rel in entry[0]:
                absf = os.path.join(path, rel)
                os.utime(absf, (now, now))
                os.utime(os.path.dirname(absf), (now, now))
        except OSError:
            written.pop(cand_key, None)
            return None
        return entry

    for _ in range(max_retries):
        parent = current_version(path)
        if parent is None:
            try:
                return commit(df, path, mode="overwrite", require_parent=-1)
            except CommitConflict:
                continue
        pm = _read_manifest(path, parent)
        harvest = _parent_stat_cols(path, parent) or None
        if _stats_cover(pm, keys):
            # adaptive path choice: the keyset collect + walk only pays
            # for itself past the small-table threshold; below it the
            # merge prunes on the hull alone (pre-r15 behavior, zero
            # extra jobs vs the brute path — pure-insert detection and
            # the append-labeled streaming contract are preserved
            # either way)
            if parent not in worth_memo:
                worth_memo[parent] = _keyset_probe_worthwhile(path, pm)
            p = _probe()
            if p.bounds is None:
                candidates = []  # all-NULL key hull: nothing can match
            else:
                # hull pass first, always: its SURVIVORS bound the
                # keyset's real payoff far tighter than total table
                # bytes — a huge table whose hull already prunes to a
                # couple of small files must not pay the distinct-
                # collect job either (ADVICE r16).  The upgrade reuses
                # the memoized hull row, so the probe-worthy path runs
                # the same job count as before the re-check existed.
                candidates = _merge_candidate_files(
                    df, pm, keys, bounds=p.bounds, keyset=p.keyset
                )
                if (
                    "full" not in probe_memo  # upgrade at most once
                    and worth_memo[parent]
                    and candidates
                    and _bytes_reach(
                        path,
                        candidates,
                        _MERGE_SMALL_TABLE_BYTES,
                        max_files=_MERGE_SMALL_TABLE_FILES,
                    )
                ):
                    p = _probe(full=True)
                    if p.bounds is None:
                        # the collect proved every distinct key carries
                        # a NULL component (invisible to the per-column
                        # hull): nothing can match any file
                        candidates = []
                    elif p.keyset is not None:
                        candidates = _merge_candidate_files(
                            df, pm, keys, bounds=p.bounds, keyset=p.keyset
                        )
        else:
            candidates = None
        try:
            if candidates is None:
                # no key-column stats coverage: full-table rewrite
                snap = read_snapshot(spark, path, version=parent)
                kept = snap.join(_key_frame(), keys, "left_anti")
                merged = kept.unionByName(df, allowMissingColumns=True)
                return commit(
                    merged,
                    path,
                    mode="overwrite",
                    require_parent=parent,
                    stats_cols=harvest,
                )
            cand_key = frozenset(candidates)
            entry = _fresh_cache_entry(cand_key)
            if entry is None:
                if candidates:
                    schema = StructType.fromJson(pm["schema"])
                    cand = spark.read.schema(schema).parquet(
                        *(os.path.join(path, f) for f in candidates)
                    )
                    kept = cand.join(_key_frame(), keys, "left_anti")
                    if _small():
                        # broadcast anti-join: NO shuffle anywhere in
                        # this plan, so the scan keeps one task per
                        # candidate file and each output file inherits
                        # its candidate's tight key range.  Coalescing
                        # the union to len(candidates) tasks here
                        # collapsed the whole read+join+write to N
                        # tasks — measured 3.7x slower at 2 candidates
                        # (r15 profile) — and fused upsert rows into
                        # candidate files, smearing their stats.  The
                        # upsert instead lands as its own file(s),
                        # squeezed to ~500k rows apiece so a 32-part
                        # tiny upsert doesn't scatter 32 tiny files;
                        # its range is the upsert hull, so a wide-hull
                        # upsert leaves one always-candidate small
                        # file behind — rewritten by the next merge,
                        # never accumulating.  Sized from the ROW
                        # count, not the distinct-key count: a
                        # duplicate-heavy upsert (1k keys across 10M
                        # rows — every row lands, merge unions df
                        # verbatim) must not funnel through one task
                        # (ADVICE r15).  Small upserts (≤100k rows —
                        # the common programmatic merge) use
                        # repartition: the shuffle is trivial at that
                        # size, while coalesce(1) over a
                        # createDataFrame/parallelize plan serializes
                        # its ~32 Python-worker slice evaluations into
                        # ONE task (measured ~5s for a 2-row upsert,
                        # r15 profile).  Bigger upserts coalesce:
                        # shuffle-free, and at that size the slices
                        # are real data, not worker round-trips
                        p_up = _probe()
                        up_parts = max(
                            1,
                            p_up.n_rows // 500_000 + 1,
                            p_up.n_keys // 500_000 + 1,
                        )
                        up = (
                            df.repartition(up_parts)
                            if p_up.n_rows <= _MERGE_KEYSET_PRUNE_LIMIT
                            else df.coalesce(up_parts)
                        )
                        merged = kept.unionByName(
                            up, allowMissingColumns=True
                        )
                    else:
                        # shuffled anti-join: without the coalesce its
                        # shuffle partitioning writes
                        # spark.sql.shuffle.partitions files per merge
                        # — file-count bloat that also WIDENS the next
                        # merge's candidate stats (the rewritten key
                        # range smears across every output file)
                        merged = kept.unionByName(
                            df, allowMissingColumns=True
                        ).coalesce(len(candidates))
                else:
                    merged = df  # pure insert: no file can hold a match
                commit_dir = os.path.join(_data_dir(path), uuid.uuid4().hex)
                merged.write.mode("error").parquet(commit_dir)
                # drop zero-row part files (Spark can emit one for an
                # empty leading partition, e.g. a kept-side scan whose
                # every row was replaced): registering an empty file
                # would add a stats-less PERMANENT candidate that every
                # future merge conservatively rewrites.  The rewrite
                # branch always lands the (non-empty) upsert, so at
                # least one output survives; the dropped file is young
                # and unreferenced — the vacuum retention guard
                # reclaims it like any abandoned attempt's output
                import pyarrow.parquet as _pq  # noqa: PLC0415

                new_files = [
                    os.path.relpath(f, path)
                    for f in _list_parquet(commit_dir)
                    if _pq.read_metadata(f).num_rows > 0
                ]
                # harvest footer stats WITH the write: they are as
                # loop-invariant as the files, and re-reading footers
                # on every republish retry would put I/O back inside
                # the conflict window.  A rival changing the table's
                # stat coverage mid-retry leaves these stats narrower
                # or wider than the final harvest list — safe either
                # way (missing per-column stats only disable skipping)
                entry = written[cand_key] = (
                    new_files,
                    json.loads(merged.schema.json()),
                    {
                        rel: _file_stats(os.path.join(path, rel), harvest)
                        for rel in new_files
                    }
                    if harvest
                    else {},
                )
                # abandoned outputs of earlier attempts (rival replaced
                # our candidates) are young unreferenced dirs; the
                # vacuum retention guard reclaims them, same as a lost
                # same-txn commit's
            new_files, writer_schema, new_stats = entry
            return _publish(
                path,
                new_files,
                writer_schema,
                "append",
                10,
                None,
                parent,
                harvest,
                replace_files=cand_key,
                # a pure-insert merge IS an append (streams need no
                # ignoreChanges for it); only a rewriting merge gets
                # the rewrite label the streaming source gates on
                operation="merge" if candidates else None,
                precomputed_stats=new_stats,
            )
        except CommitConflict:
            continue  # someone committed meanwhile; re-read and re-merge
    raise CommitConflict(
        f"merge lost the serializable race {max_retries} times on {path!r}"
    )


def _parent_stat_cols(path: str, parent: int) -> list[str]:
    """The columns the parent manifest carries per-file stats for —
    what a rewrite must re-harvest so OPTIMIZE never silently degrades
    file skipping."""
    cols: set[str] = set()
    for per_file in _read_manifest(path, parent).get("stats", {}).values():
        cols.update(per_file)
    return sorted(cols)


def compact(
    spark: SparkSession,
    path: str,
    target_files: int = 4,
    stats_cols: list[str] | None = None,
) -> int:
    """Bin-pack the table's files into ``target_files`` (the OPTIMIZE /
    small-file compaction every streaming sink needs: one commit per
    micro-batch epoch means one file per epoch).  A single coalesce-and-
    rewrite published as an overwrite commit under ``require_parent`` —
    a racing commit raises instead of being lost; old versions stay
    time-travelable until ``vacuum``.

    ``stats_cols=None`` (default) INHERITS the stat columns the parent
    manifest carries, so an OPTIMIZE pass never silently drops the
    file-skipping metadata the table had (found by probe in r13: a
    bare ``compact()`` on a stats-carrying table turned a 1-file pruned
    read back into a full scan).  Pass an explicit list to change the
    stats coverage, or ``[]`` to deliberately drop it.  Caveat the
    harvest cannot fix: bin-packing round-robins rows across the new
    files, so the re-harvested ranges are wide — correct, but weak for
    pruning.  To re-establish real skipping after compaction, follow
    with ``optimize_zorder`` (which unions its cols with the inherited
    coverage)."""
    parent = current_version(path)
    if parent is None:
        raise FileNotFoundError(f"no committed version at {path!r}")
    # Keep the two distinguishable intents separate: None = inherit the
    # parent's coverage (an inherited-but-EMPTY coverage means the
    # parent had no stats, so harvest none), while an explicit [] is the
    # documented deliberate-drop contract.  Collapsing both through one
    # `stats_cols or None` hid the distinction from future edits.
    if stats_cols is None:
        harvest = _parent_stat_cols(path, parent) or None
    else:
        harvest = stats_cols or None  # explicit [] -> drop coverage
    snap = read_snapshot(spark, path, version=parent)
    return commit(
        snap.repartition(target_files),
        path,
        mode="overwrite",
        require_parent=parent,
        stats_cols=harvest,
    )


def optimize_zorder(
    spark: SparkSession,
    path: str,
    cols: list[str],
    target_files: int = 8,
    bits_per_col: int = 4,
) -> int:
    """Rewrite the table clustered on a Z-order (Morton) curve over
    ``cols`` and republish with per-file stats — multi-column file
    skipping, the OPTIMIZE ZORDER analog.

    A linear sort only localizes its leading column; bit-interleaving
    quantile buckets of EACH column gives every listed column locality,
    so ``read_snapshot(between=(col, ...))`` prunes files for range
    probes on ANY of them.  Bucket boundaries come from a sampled
    ``approxQuantile`` (the same sampled-range approach production
    optimizers use); the rewrite is one ``repartitionByRange`` on the
    z-value — a single shuffle, no driver materialization of data.

    Publishes with ``require_parent`` so a commit racing the rewrite
    raises instead of being silently clobbered.  Returns the committed
    version.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    parent = current_version(path)
    if parent is None:
        raise FileNotFoundError(f"no committed version at {path!r}")
    snap = read_snapshot(spark, path, version=parent)
    n_buckets = 1 << bits_per_col
    probs = [i / n_buckets for i in range(1, n_buckets)]
    zparts = []
    for j, c in enumerate(cols):
        bounds = snap.stat.approxQuantile(c, probs, 0.01)
        bucket = F.lit(0)
        for b in bounds:
            bucket = bucket + F.when(F.col(c).cast("double") > b, 1).otherwise(0)
        # interleave this column's bits into the z-value
        for i in range(bits_per_col):
            zparts.append(
                F.shiftleft(
                    F.shiftright(bucket, i).bitwiseAND(F.lit(1)),
                    i * len(cols) + j,
                )
            )
    z = zparts[0]
    for p in zparts[1:]:
        z = z + p
    rewritten = (
        snap.withColumn("_z", z)
        .repartitionByRange(target_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )
    return commit(
        rewritten,
        path,
        mode="overwrite",
        require_parent=parent,
        # harvest stats for the z-ordered columns AND whatever columns
        # the parent already carried stats for — a Z-order pass must
        # never shrink the table's file-skipping coverage
        stats_cols=sorted(set(cols) | set(_parent_stat_cols(path, parent))),
    )


def snapshot_sink(path: str, query_name: str = "pipeline"):
    """A ``SinkFn`` for ``run_micro_batch_pipeline`` that lands every
    micro-batch as an idempotent snapshot-table commit: the epoch id is
    the transaction key, so a replayed epoch (restart between sink and
    checkpoint advance) commits exactly once.  End-to-end this gives the
    micro-batch pipeline an exactly-once ACID sink."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        commit(
            batch_df, path, mode="append", txn=f"{query_name}:{epoch_id}"
        )

    return sink


def read_snapshot(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    between: tuple[str, object, object] | None = None,
) -> DataFrame:
    """DataFrame over one immutable snapshot (latest by default;
    ``version=`` time-travels).  The resolved file list is frozen at
    call time, so concurrent commits cannot change what this DataFrame
    reads — snapshot isolation by construction.

    ``between=(col, lo, hi)`` prunes at the MANIFEST level: files whose
    recorded [min, max] for ``col`` (see ``commit(stats_cols=...)``)
    cannot intersect [lo, hi] are never opened; files without stats are
    conservatively read.  The matching row filter is also applied, so
    the result is exact — pruning only changes how many files Spark
    lists, which is the entire point at 100 TB."""
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.types import StructType  # noqa: PLC0415

    v = current_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version at {path!r}")
    manifest = _read_manifest(path, v)
    # the MANIFEST schema is authoritative (schema-on-metadata, like any
    # table format): files committed before an additive evolution are
    # read with the evolved schema, missing columns null-filled by the
    # parquet reader — no mergeSchema inference pass over all footers
    schema = StructType.fromJson(manifest["schema"])
    files = manifest["files"]
    if between is not None:
        col, lo, hi = between
        stats = manifest.get("stats", {})
        files = [
            f
            for f in files
            if (rng := stats.get(f, {}).get(col)) is None
            or (rng[0] <= hi and rng[1] >= lo)
        ]
    if not files:
        df = spark.createDataFrame([], schema)
    else:
        df = spark.read.schema(schema).parquet(
            *(os.path.join(path, f) for f in files)
        )
    if between is not None:
        col, lo, hi = between
        df = df.filter(F.col(col).between(F.lit(lo), F.lit(hi)))
    return df


def read_changes(
    spark: SparkSession,
    path: str,
    from_version: int,
    to_version: int | None = None,
    key: str | list[str] | None = None,
) -> DataFrame:
    """Row-level change feed between two snapshots (Delta CDF semantics):
    each changed row is emitted with a ``_change_type`` column —
    ``insert``, ``delete``, or an ``update_preimage``/``update_postimage``
    pair.

    Reads ONLY the files that differ between the two manifests — rows in
    files shared by both versions cannot have changed (data files are
    immutable), so a CDC consumer pays for the touched data, not a diff
    of two full snapshots.  With ``key`` given, rows are classified by a
    full-outer join on the key and rewrite-noise is cancelled: a row
    rewritten bit-identically (compaction, Z-order, the untouched
    remainder of a copy-on-write merge) compares null-safe-equal on its
    value columns and is dropped, so OPTIMIZE-style operations produce an
    EMPTY feed.  Requires the key to be unique per snapshot (which
    ``merge_upsert`` maintains).  With ``key=None`` the classification
    is file-level only (append-only fast path: new-file rows are
    ``insert``, removed-file rows ``delete``) — correct for append/drop
    workloads, noisy under rewrites.

    At 100 TB this is the incremental-consumer contract: downstream jobs
    checkpoint a version number and read forward from it instead of
    rescanning the table.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415
    from pyspark.sql.types import StructType  # noqa: PLC0415

    v_to = current_version(path) if to_version is None else to_version
    if v_to is None:
        raise FileNotFoundError(f"no committed version at {path!r}")
    mf = _read_manifest(path, from_version)
    mt = _read_manifest(path, v_to)
    schema = StructType.fromJson(mt["schema"])
    from_files, to_files = set(mf["files"]), set(mt["files"])

    def _read(files: list[str]) -> DataFrame:
        if not files:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(
            *(os.path.join(path, f) for f in files)
        )

    old_df = _read([f for f in mf["files"] if f not in to_files])
    new_df = _read([f for f in mt["files"] if f not in from_files])
    cols = schema.fieldNames()
    if key is None:
        return new_df.select(
            *cols, F.lit("insert").alias("_change_type")
        ).unionByName(
            old_df.select(*cols, F.lit("delete").alias("_change_type"))
        )

    keys = [key] if isinstance(key, str) else list(key)
    vals = [c for c in cols if c not in keys]
    o = old_df.withColumn("_present", F.lit(1)).alias("o")
    n = new_df.withColumn("_present", F.lit(1)).alias("n")
    cond = None
    for k in keys:
        c = F.col(f"o.{k}").eqNullSafe(F.col(f"n.{k}"))
        cond = c if cond is None else (cond & c)
    j = o.join(n, cond, "full_outer")
    o_cols = [F.col(f"o.{c}").alias(c) for c in cols]
    n_cols = [F.col(f"n.{c}").alias(c) for c in cols]
    inserts = j.filter(F.col("o._present").isNull()).select(
        *n_cols, F.lit("insert").alias("_change_type")
    )
    deletes = j.filter(F.col("n._present").isNull()).select(
        *o_cols, F.lit("delete").alias("_change_type")
    )
    changed = j.filter(
        F.col("o._present").isNotNull()
        & F.col("n._present").isNotNull()
        & ~F.struct(*[F.col(f"o.{c}") for c in vals]).eqNullSafe(
            F.struct(*[F.col(f"n.{c}") for c in vals])
        )
    )
    pre = changed.select(
        *o_cols, F.lit("update_preimage").alias("_change_type")
    )
    post = changed.select(
        *n_cols, F.lit("update_postimage").alias("_change_type")
    )
    return inserts.unionByName(deletes).unionByName(pre).unionByName(post)


def history(path: str) -> list[dict]:
    """Commit log, oldest RETAINED first: version / parent / operation /
    n_files.  Manifests below the vacuum retention floor are simply
    absent from the result (the same truncated-history contract Delta's
    DESCRIBE HISTORY has after log cleanup), not an error."""
    v = current_version(path)
    if v is None:
        return []
    out = []
    for i in range(v + 1):
        try:
            m = _read_manifest(path, i)
        except FileNotFoundError:
            continue  # below the retention floor (vacuumed)
        out.append(
            {
                "version": m["version"],
                "parent": m["parent"],
                "operation": m["operation"],
                "n_files": len(m["files"]),
            }
        )
    return out


def _is_young_dir(cdir: str, now: float, min_age_seconds: float) -> bool:
    """True when the commit dir itself (or anything in it) is younger
    than the vacuum retention — i.e. may belong to an in-flight commit."""
    try:
        if now - os.path.getmtime(cdir) < min_age_seconds:
            return True
        for root, dirs, fnames in os.walk(cdir):
            for entry in dirs + fnames:
                if now - os.path.getmtime(
                    os.path.join(root, entry)
                ) < min_age_seconds:
                    return True
    except OSError:
        return True  # something is moving under us: treat as in-flight
    return False


def vacuum(
    path: str, keep_versions: int = 1, min_age_seconds: float = 0.0
) -> list[str]:
    """Delete data files not referenced by any of the newest
    ``keep_versions`` manifests (orphans from failed jobs, and files
    only visible to expired versions); drops the expired manifests too.
    Returns the deleted file paths.  Never touches files referenced by
    a retained version, so readers of those snapshots are unaffected.

    ``min_age_seconds`` is the in-flight-commit guard: a committer
    writes its data files BEFORE publishing the manifest that
    references them, so to a concurrent vacuum those files look like
    orphans.  Only unreferenced files older (by mtime) than
    ``min_age_seconds`` are deleted — run concurrent vacuums with this
    set above the longest plausible commit duration (Delta's VACUUM
    retention-duration contract, which it defaults to 7 days, exists
    for exactly this race).  The default 0.0 is the quiescent-table
    mode: safe only when no commit is in flight.

    ``min_age_seconds`` must ALSO exceed one publish's latency for
    ``merge_upsert``'s retry loop: a merge's write-once output sits
    unreferenced across publish retries, kept young by an mtime
    refresh at the top of each attempt — the refresh-to-link gap is
    one publish.  A vacuum tuned below that gap can reclaim the files
    mid-publish; the pre-link existence guard in ``_publish`` then
    fails the commit LOUDLY (CommitConflict; the merge evicts its
    cache and rebuilds) instead of publishing a manifest of deleted
    files.  See the r15 live-race storm test for the interleaving.

    Retention vs streaming: a streaming reader replaying an uncommitted
    micro-batch (``readBetweenOffsets``) needs the files ADDED between
    its checkpointed offsets — size ``keep_versions`` to cover the
    maximum streaming checkpoint lag, the same retention-vs-stream
    contract Delta documents for VACUUM."""
    if keep_versions < 1:
        raise ValueError("must keep at least the current version")
    now = time.time()
    v = current_version(path)
    if v is None:
        return []
    retained = range(max(0, v - keep_versions + 1), v + 1)
    live = {
        os.path.normpath(os.path.join(path, f))
        for i in retained
        for f in _read_manifest(path, i)["files"]
    }
    deleted: list[str] = []
    ddir = _data_dir(path)
    if os.path.isdir(ddir):
        for commit_id in os.listdir(ddir):
            cdir = os.path.join(ddir, commit_id)
            for root, _dirs, fnames in os.walk(cdir):
                for fname in fnames:
                    p = os.path.normpath(os.path.join(root, fname))
                    if p.endswith(".parquet") and p not in live:
                        try:
                            age = now - os.path.getmtime(p)
                        except OSError:
                            continue  # concurrently removed: not ours
                        if age < min_age_seconds:
                            continue  # possibly an in-flight commit
                        try:
                            os.remove(p)
                        except OSError:
                            continue  # a racing vacuum beat us to it
                        deleted.append(p)
            if min_age_seconds > 0 and _is_young_dir(cdir, now, min_age_seconds):
                # a racing committer may be ABOUT to create parquet here
                # (or Spark's _SUCCESS/.crc debris is still landing):
                # leave young commit dirs alone entirely
                continue
            if not _list_parquet(cdir):
                # commit dir holds no live parquet; drop it and its
                # _SUCCESS/.crc debris (racing vacuums may be doing the
                # same walk — losing any single remove/rmdir is fine)
                try:
                    for root, dirs, fnames in os.walk(cdir, topdown=False):
                        for fname in fnames:
                            os.remove(os.path.join(root, fname))
                        for d in dirs:
                            os.rmdir(os.path.join(root, d))
                    os.rmdir(cdir)
                except OSError:
                    pass
    for i in range(0, retained.start):
        m = os.path.join(_manifest_dir(path), f"v{i}.json")
        try:
            os.remove(m)
        except OSError:
            pass
    # A committer that dies between writing the pointer temp file and
    # os.replace leaks `_last_checkpoint.<uuid>.tmp`; reclaim them here
    # (best-effort — a live committer losing its temp just skips one
    # pointer advance, which the forward probe absorbs).
    # Committers that die mid-publish leak temp files: the pointer's
    # `_last_checkpoint.<uuid>.tmp` (write-then-replace) and the
    # manifest's `v{N}.json.<uuid>.tmp` (write-then-link).  Both are
    # reclaimed here, age-gated like data files: a LIVE committer's temp
    # is written-then-published within milliseconds, so any temp older
    # than the retention belongs to a dead committer.
    mdir = _manifest_dir(path)
    for fname in os.listdir(mdir):
        if fname.endswith(".tmp") and (
            fname.startswith("_last_checkpoint.") or _MANIFEST_RE.match(
                fname.split(".json.")[0] + ".json"
            )
        ):
            try:
                p = os.path.join(mdir, fname)
                if now - os.path.getmtime(p) >= min_age_seconds:
                    os.remove(p)
            except OSError:
                pass
    return deleted
