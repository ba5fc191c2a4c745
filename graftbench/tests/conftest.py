import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)


@pytest.fixture(scope="module")
def make_spark():
    """Factory for a small local session; stopped when the module ends."""
    from pyspark.sql import SparkSession

    made = []

    def make(tmp, **conf):
        builder = (
            SparkSession.builder.master("local[2]")
            .appName("graftbench-test")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
            .config("spark.local.dir", os.path.join(tmp, "local"))
        )
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        made.append(spark)
        return spark

    yield make
    for spark in made:
        spark.stop()
