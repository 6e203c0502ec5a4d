import math
import os
import signal
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest


class Hang(BaseException):
    """A test ran past its alarm; not an Exception, so a test's own
    ``except Exception`` cannot swallow it."""


@pytest.hookimpl(hookwrapper=True)
def pytest_runtest_call(item):
    """Fail a test that runs past pytest.ini's faulthandler_timeout by
    name, from a main-thread SIGALRM, instead of letting it use up the
    run (an Arrow collect once waited over 15 min on a socket no task
    would write).  A timeout of 0 sets no alarm."""
    seconds = math.ceil(float(item.config.getini("faulthandler_timeout")
                              or 0))
    if seconds <= 0:
        yield
        return

    def hang(signum, frame):
        raise Hang(f"{item.nodeid} ran past {seconds} s")

    old = signal.signal(signal.SIGALRM, hang)
    signal.alarm(seconds)
    try:
        yield
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)


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
