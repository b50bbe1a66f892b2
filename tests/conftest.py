from __future__ import annotations

import os
import uuid

import pytest

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# A bounded test heap: the 24g production default outgrows a 16 GB host.
# Set at import, before any test module imports session.DEFAULT_CONF.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "5g")


@pytest.fixture(scope="session")
def spark():
    from airflow_etl_elt_spark.session import get_session

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_session(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn()`` and returns ``(result, jobs)``: the
    number of Spark jobs the call launched, read from its own job group
    through ``statusTracker().getJobIdsForGroup``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "counted call")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the driver's table views pre-registered,
    mirroring the driver's oracle harness."""
    import duckdb

    from airflow_etl_elt_spark import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    yield con
    con.close()
