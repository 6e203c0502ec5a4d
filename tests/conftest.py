import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest


@pytest.fixture(scope="session")
def spark():
    """local[*] session with the settings we standardize on (SURVEY.md §7)."""
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("proj_4_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def udf_transform():
    """transform() on the Arrow-UDF path whatever the operation's twin
    plan: the NumPy kernels every twin is compared with."""
    from pyspark.sql import functions as F

    from proj_4_spark.engine.spark import (
        _cached_operation,
        _direction,
        _udf_apply,
    )

    def run(df, projstring, x="x", y="y", z=None, t=None, direction="fwd",
            degrees=True, out_prefix="", keep_errors=True):
        direction = _direction(direction)
        out = _udf_apply(df, _cached_operation(projstring), projstring,
                         direction, x, y, z, t, degrees, out_prefix)
        if not keep_errors:
            out = out.where(F.col(f"{out_prefix}x").isNotNull()
                            & ~F.isnan(F.col(f"{out_prefix}x")))
        return out

    return run
