"""JDBC sink integration tests (r3 VERDICT #5).

The reference's PostgreSQL load path (dags/airflow_dag_calidad_aire.py:
334-358, itself commented out) maps to sinks.write_jdbc. No PostgreSQL
is needed: Apache Derby — an embedded Java SQL database — ships inside
Spark's own jars directory, so the JDBC code path (DriverManager,
dialect mapping, type round-trip, save modes) is exercised against a
REAL database over a real JDBC connection, not an import-gate. Rows are
read back with Spark's own ``spark.read.jdbc``.
"""

from __future__ import annotations

import pytest

from calidad_del_aire_etl_spark.sinks.writers import write_jdbc

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
URL = "jdbc:derby:memory:sparkgraft_test;create=true"


def _read(spark, table):
    return spark.read.jdbc(URL, table, properties={"driver": DRIVER})


def _has_derby(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(DRIVER)
        return True
    except Exception:
        return False


@pytest.fixture(scope="module")
def derby(spark):
    if not _has_derby(spark):
        pytest.skip("Derby embedded driver not on the Spark classpath")
    return spark


def test_jdbc_round_trip_values_and_types(derby):
    spark = derby
    df = spark.createDataFrame(
        [(1, "ozono", 48.5), (2, "pm25", 12.25), (3, None, None)],
        "id bigint, pollutant string, value double",
    )
    write_jdbc(df, URL, "readings", mode="overwrite", driver=DRIVER)
    back = _read(spark, "readings")
    assert [f.name.lower() for f in back.schema.fields] == ["id", "pollutant", "value"]
    got = sorted((r[0], r[1], r[2]) for r in back.collect())
    assert got == [(1, "ozono", 48.5), (2, "pm25", 12.25), (3, None, None)]


def test_jdbc_append_mode_accumulates(derby):
    spark = derby
    df = spark.createDataFrame([(10, "x", 1.0)], "id bigint, pollutant string, value double")
    write_jdbc(df, URL, "appendix", mode="overwrite", driver=DRIVER)
    write_jdbc(df, URL, "appendix", mode="append", driver=DRIVER)
    assert _read(spark, "appendix").count() == 2


def test_jdbc_error_mode_reports_the_existing_table(derby):
    """Spark's own error propagates: a second ``mode="error"`` write
    names the table that already exists, not a missing driver."""
    df = derby.createDataFrame([(1, "x", 1.0)], "id bigint, pollutant string, value double")
    write_jdbc(df, URL, "taken", mode="error", driver=DRIVER)
    with pytest.raises(Exception, match="already exists"):
        write_jdbc(df, URL, "taken", mode="error", driver=DRIVER)
