"""Shared fixtures: one local SparkSession + reference-derived micro
fixtures (FIXTURES.md; original semantics from the reference test
suite, /root/reference/tests/)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("CUBES_SPARK_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    session = (
        SparkSession.builder.master("local[4]")
        .appName("cubes_spark_tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    session.sparkContext.setLogLevel("ERROR")
    yield session


@pytest.fixture()
def spark_jobs(spark):
    """``spark_jobs(fn)`` → ``(jobs, fn())``: the number of Spark jobs
    ``fn`` started, counted through a job group of its own."""
    import uuid

    sc = spark.sparkContext

    def count(fn):
        group = f"spark_jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job starts reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group)), result
    return count


#: The reference's 16-row golden aggregation fixture
#: (/root/reference/tests/sql/test_aggregates.py:19-45, FIXTURES.md §2).
GOLDEN_FACTS = [
    (1, 2010, 1, 100, 0), (2, 2010, 2, 200, 10),
    (3, 2010, 4, 300, 0), (4, 2010, 8, 400, 20),
    (5, 2011, 1, 500, 0), (6, 2011, 2, 600, 40),
    (7, 2011, 4, 700, 0), (8, 2011, 8, 800, 80),
    (9, 2012, 1, 100, 0), (10, 2012, 2, 200, 0),
    (11, 2012, 4, 300, 0), (12, 2012, 8, 400, 10),
    (13, 2013, 1, 500, 0), (14, 2013, 2, 600, 0),
    (15, 2013, 4, 700, 0), (16, 2013, 8, 800, 20),
]

#: Model mirroring /root/reference/tests/models/aggregates.json semantics
GOLDEN_MODEL = {
    "dimensions": [
        {"name": "year",
         "levels": [{"name": "year", "attributes": ["year"]}]},
    ],
    "cubes": [
        {
            "name": "facts",
            "fact": "facts",
            "key": "id",
            "dimensions": ["year"],
            "measures": [{"name": "amount"}, {"name": "price"},
                         {"name": "discount"}],
            "aggregates": [
                {"name": "amount_sum", "function": "sum",
                 "measure": "amount"},
                {"name": "count", "function": "count"},
                {"name": "amount_sma", "function": "sma",
                 "measure": "amount_sum", "window_size": 2},
                {"name": "price_avg", "function": "avg", "measure": "price"},
                {"name": "price_min", "function": "min", "measure": "price"},
                {"name": "price_max", "function": "max", "measure": "price"},
                {"name": "amount_distinct", "function": "count_distinct",
                 "measure": "amount"},
            ],
            "mappings": {
                "year.year": "facts.year",
                "amount": "facts.amount",
                "price": "facts.price",
                "discount": "facts.discount",
                "id": "facts.id",
            },
        },
    ],
}


@pytest.fixture(scope="session")
def golden_browser(spark):
    from cubes_spark.sources.workspace import Workspace

    df = spark.createDataFrame(
        GOLDEN_FACTS, ["id", "year", "amount", "price", "discount"]
    )
    ws = Workspace(spark, store={"facts": df})
    ws.import_model(GOLDEN_MODEL)
    return ws.browser("facts")


@pytest.fixture(scope="session")
def tpch_browser(spark):
    from cubes_spark.demo import tpch_workspace

    ws = tpch_workspace(spark, SF_DIR)
    return ws.browser("sales")
