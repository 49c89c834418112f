"""Storage-layout claim, verified at plan level: the partitioned
readings layout really turns time/asset predicates into partition
pruning.  This is the SCALE.md claim behind 'readings queries prune
instead of scan'."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from foglamp_filter_python35_spark.plans import explain as E


def test_partitioned_readings_layout_prunes_partitions(spark, tmp_path):
    """write_readings_partitioned lays out dt/asset_code directories;
    a time+asset predicate must show up as PartitionFilters on the scan
    (pruning), not as a post-scan filter over everything."""
    import datetime as dt

    from foglamp_filter_python35_spark.datamodel import READING_SCHEMA
    from foglamp_filter_python35_spark.sources.readers import (
        write_readings_partitioned,
    )

    rows = [
        (
            i,
            f"asset_{i % 3}",
            dt.datetime(2024, 1, 1 + (i % 5), 12, 0, 0),
            dt.datetime(2024, 1, 1 + (i % 5), 12, 0, 0),
            {"v": float(i)},
            {},
        )
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, READING_SCHEMA)
    out = str(tmp_path / "readings_part")
    write_readings_partitioned(df, out)

    back = spark.read.parquet(out).filter(
        (F.col("dt") == "2024-01-03") & (F.col("asset_code") == "asset_1")
    )
    plan = E.formatted_plan(back)
    assert "PartitionFilters" in plan
    # both predicates land in PartitionFilters, nothing re-filters rows
    pf = plan[plan.index("PartitionFilters"):].split("]", 1)[0]
    assert "dt" in pf and "asset_code" in pf
    expected = sum(
        1 for i in range(300) if i % 5 == 2 and i % 3 == 1
    )
    assert back.count() == expected
