import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("OCR_SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("OCR_SPARK_ORACLE_SF_DIR", "/root/testdata/sf0.01")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    from ocr_spark.session import get_spark

    spark = get_spark(app_name="ocr_spark_tests", master="local[8]", shuffle_partitions=8)
    yield spark


@pytest.fixture()
def count_jobs(spark):
    """``count_jobs(group, action)``: run ``action()`` under Spark job
    group ``group`` in this thread; (its result, the group's job count)."""
    sc = spark.sparkContext

    def run(group, action):
        sc.setJobGroup(group, group)
        try:
            out = action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(SF_DIR_ORACLE, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield con
    con.close()


def pytest_terminal_summary(terminalreporter):
    """Say how many tests the missing reference data skipped, every run."""
    reason = "reference data absent"
    n = sum(
        1 for r in terminalreporter.stats.get("skipped", [])
        if isinstance(r.longrepr, tuple) and r.longrepr[2].endswith(reason)
    )
    if n:
        terminalreporter.write_sep("=", f"{n} tests skipped: {reason}", yellow=True)
