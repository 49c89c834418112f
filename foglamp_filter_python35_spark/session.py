"""SparkSession factory with the engine's scale-oriented defaults.

The reference initializes one embedded CPython interpreter per process and
serializes every filter invocation behind the GIL (``plugin.cpp:141-163``).
Spark replaces that with per-executor parallel Python workers talking Arrow;
the session below turns on everything that matters for the 100 TB posture:

* AQE (runtime re-planning, skew-join splitting, partition coalescing)
* Arrow for every Python<->JVM hop (the reference's one performance idea —
  batch-at-a-time marshalling, ``plugin.cpp:284-287`` — generalized)
* UTC session timezone so results are stable across engines/clusters
* shuffle partitions sized for the local test harness; on a real cluster
  AQE coalescing makes the initial number far less sensitive.

It also owns one worker-side runtime default: importing the package inside
a Python worker makes zip-importer cache invalidation stat-checked (see
``_stat_checked_zip_invalidation``).
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark import TaskContext
from pyspark.sql import SparkSession

# NOTE: read inside get_spark, not at import time — the master URL and
# shuffle sizing must agree even when the env var is set after import
def _default_shuffle_partitions() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "foglamp-filter-python35-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster is
    configured; on a real deployment callers pass nothing and spark-submit
    owns the master URL.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")

    n_shuffle = shuffle_partitions or _default_shuffle_partitions()
    conf = {
        # --- correctness across engines ---
        "spark.sql.session.timeZone": "UTC",
        # driver testdata carries TIMESTAMP(NANOS) parquet columns, which
        # Spark rejects by default; read them as long and rebuild (load()).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # --- runtime re-planning at scale ---
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # --- shuffle sizing (local harness; AQE coalesces upward of this) ---
        "spark.sql.shuffle.partitions": str(n_shuffle),
        # --- Arrow everywhere Python touches data ---
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        # --- scan sizing: 128 MB splits, the parquet sweet spot ---
        "spark.sql.files.maxPartitionBytes": "134217728",
        # --- broadcast threshold: dims (region/nation/part/supplier) fly ---
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # Python<->JVM local-socket connects (collect, createDataFrame,
        # accumulators) default to a 15s connect timeout; on a loaded
        # box a storm of concurrent driver actions can lose that race
        # (observed as CANNOT_OPEN_SOCKET ... timed out, three times in
        # r13 under co-tenant load). Patience costs nothing when idle.
        "spark.python.authenticate.socketTimeout": "120s",
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Load every driver table in ``sf_dir`` as a dict of DataFrames.

    Delegates to ``catalog.load`` so nano-timestamp rebuilding happens
    exactly once, in one place — a raw ``spark.read.parquet`` here would
    hand back nano longs for events/lineitem/orders time columns."""
    from foglamp_filter_python35_spark.catalog import load  # noqa: PLC0415

    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    return {
        n: load(spark, sf_dir, n)
        for n in names
        if os.path.exists(os.path.join(sf_dir, f"{n}.parquet"))
    }


def _stat_checked_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    the archive changed on disk since that importer last read it.

    PySpark's worker calls ``importlib.invalidate_caches()`` before every
    task (``pyspark/worker_util.py``, ``setup_spark_files``) so that a file
    added by ``addPyFile`` becomes importable.  Before Python 3.13 every
    ``zipimporter`` answers by eagerly re-parsing its archive's central
    directory.  A reused worker holds about 16 of them, over pyspark.zip
    (1,328 entries), the py4j zip and the Spark core jar: 150-210 ms per
    task on a 4-core VM under Python 3.11, against 0.4 ms of filter work.

    Python 3.13 makes the re-read lazy.  This gets the same effect by
    skipping it while the archive's ``(st_ino, st_size, st_mtime_ns,
    st_ctime_ns)`` is the one seen at that importer's last read.  The key
    is kept per importer, not per archive path: one archive has many
    importers (one per package prefix), each holding its own ``_files``.
    An importer with no key yet re-reads once.  Idempotent; a no-op on
    Python 3.13 and later.
    """
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or reread.__module__ == __name__:
        return

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            key = (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)
        except OSError:
            key = None  # gone: zipimport empties the importer, as before
        if key is None or getattr(self, "_stat_key", None) != key:
            reread(self)
            self._stat_key = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


# Workers import the package when they unpickle an engine function (the T9
# runner, the stream buffer, the catalog's pandas UDFs); Spark reuses the
# worker, so every later task in the process skips the re-parse.
if TaskContext.get() is not None:
    _stat_checked_zip_invalidation()
