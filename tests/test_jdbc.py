"""JDBC source option construction (S2) — the reader itself needs a live
database + driver jar (absent here by design), but the partitioned-read
options and incremental predicate logic are pure and testable."""

from __future__ import annotations

from nomba_data_pipeline_spark.sources.jdbc import JdbcSource


def test_reader_options_partitioned():
    src = JdbcSource(
        url="jdbc:postgresql://db:5432/app",
        table="public.savings_transactions",
        user="u",
        password="p",
        partition_column="txn_id",
        num_partitions=16,
        fetch_size=10000,
    )
    opts = src.reader_options(lower="0", upper="3000000")
    assert opts["partitionColumn"] == "txn_id"
    assert opts["numPartitions"] == "16"
    assert opts["lowerBound"] == "0" and opts["upperBound"] == "3000000"
    assert opts["fetchsize"] == "10000"


def test_reader_options_unpartitioned_when_bounds_missing():
    src = JdbcSource(url="jdbc:postgresql://db/app", table="t", user="u", password="p")
    opts = src.reader_options()
    assert "partitionColumn" not in opts
    assert opts["dbtable"] == "t"


# ---------------------------------------------------------------------------
# Live .load() path: Spark ships embedded Derby on its classpath (hive
# metastore dependency), so an in-memory Derby database exercises the
# REAL partitioned JDBC scan + incremental predicate in local mode —
# same reader code that points at Postgres on a cluster.
# ---------------------------------------------------------------------------
def _derby(spark, db: str, rows: int = 20):
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(
        f"jdbc:derby:memory:{db};create=true"
    )
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE txns (id INT PRIMARY KEY, amount DOUBLE, "
        "updated_at TIMESTAMP)"
    )
    for i in range(1, rows + 1):
        day = (i % 28) + 1
        st.executeUpdate(
            f"INSERT INTO txns VALUES ({i}, {i * 1.5}, "
            f"TIMESTAMP('2024-01-{day:02d} 00:00:00'))"
        )
    conn.close()


def test_partitioned_load_against_embedded_derby(spark):
    _derby(spark, "jdbc_part")
    src = JdbcSource(
        url="jdbc:derby:memory:jdbc_part",
        table="txns",
        user="app",
        password="x",
        partition_column="id",
        num_partitions=4,
    )
    df = src.read(spark, lower="1", upper="21")
    assert df.count() == 20
    # the bounds really split the scan: one task per key-range slice
    assert df.rdd.getNumPartitions() == 4


def test_incremental_predicate_reaches_jdbc_scan(spark):
    from datetime import datetime

    _derby(spark, "jdbc_incr")
    src = JdbcSource(
        url="jdbc:derby:memory:jdbc_incr", table="txns", user="app", password="x"
    )
    hwm = datetime(2024, 1, 15, 0, 0, 0)
    df = src.read(spark, tracking_column="UPDATED_AT", last_value=hwm)
    got = sorted(r.ID for r in df.collect())
    # rows with day > 15: i%28+1 > 15
    want = sorted(i for i in range(1, 21) if (i % 28) + 1 > 15)
    assert got == want
    # Catalyst pushed the tracking predicate into the remote query
    # (v1 JDBCRelation renders it as PushedFilters in the scan node)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "UPDATED_AT" in plan, plan
