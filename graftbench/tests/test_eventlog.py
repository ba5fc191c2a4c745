"""Pins the event-log parser on a query with exactly one exchange."""

import os

from pyspark.sql import functions as F

from graftbench import eventlog


def test_single_exchange_query_counts(tmp_path, make_spark):
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = make_spark(
        str(tmp_path),
        **{
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
            # A fixed plan: no adaptive re-planning, 3 reduce partitions.
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": "3",
        },
    )
    sc = spark.sparkContext
    sc.setJobGroup("pinned", "one exchange")
    rows = (
        spark.range(0, 10_000, 1, 4)
        .groupBy((F.col("id") % 10).alias("k"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    sc.setLocalProperty("spark.jobGroup.id", None)
    assert sorted((r.k, r.n) for r in rows) == [(k, 1000) for k in range(10)]
    spark.stop()

    assert any(p.startswith("eventlog_v2_") for p in os.listdir(log_dir))
    got = eventlog.fold(str(log_dir))["pinned"]
    assert got["jobs"] == 1
    assert got["stages"] == 2  # map side of the exchange + result stage
    assert got["tasks"] == 4 + 3  # 4 range partitions + 3 shuffle partitions
    assert got["failed_tasks"] == 0
    assert got["run_s"] > 0 and got["cpu_s"] > 0
    assert got["shuffle_write_mb"] > 0
    assert got["shuffle_read_mb"] == got["shuffle_write_mb"]
    assert got["spill_mb"] == 0
