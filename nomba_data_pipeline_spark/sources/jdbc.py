"""JDBC source (S2): partitioned Postgres/MySQL table scans.

Reference: `PostgresToClickhouseLoader.extract_data` uses a server-side
cursor with fetchmany(batch_size) (reference postgres_loader.py:100-206)
— a single-connection stream. Spark-first replacement: `spark.read.jdbc`
with numPartitions/partitionColumn bounds, so N executors each pull a
key-range slice in parallel; the incremental predicate
(`WHERE tracking > hwm`, postgres_loader.py:135-137) is pushed into the
remote query by Catalyst.

No Postgres exists in this container, but Spark ships embedded Derby
on its classpath, so the REAL `.load()` path — partitioned key-range
scan + Catalyst filter pushdown into the remote query — is exercised
against an in-memory Derby database in tests/test_jdbc.py; pointing
the same reader at Postgres is a URL + driver-jar change.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class JdbcSource:
    url: str  # e.g. jdbc:postgresql://host:5432/db
    table: str  # schema-qualified
    user: str
    password: str
    partition_column: str | None = None  # numeric/date column for parallel read
    num_partitions: int = 8
    fetch_size: int = 10000  # reference batch_size analogue (extract_assets.py:31)

    def reader_options(self, lower: str | None = None, upper: str | None = None) -> dict[str, str]:
        opts = {
            "url": self.url,
            "dbtable": self.table,
            "user": self.user,
            "password": self.password,
            "fetchsize": str(self.fetch_size),
        }
        if self.partition_column and lower is not None and upper is not None:
            opts.update(
                {
                    "partitionColumn": self.partition_column,
                    "lowerBound": lower,
                    "upperBound": upper,
                    "numPartitions": str(self.num_partitions),
                }
            )
        return opts

    def read(
        self,
        spark: SparkSession,
        tracking_column: str | None = None,
        last_value=None,
        lower: str | None = None,
        upper: str | None = None,
    ) -> DataFrame:
        """Incremental scan: tracking predicate applied post-read but pushed
        to the database by Catalyst (JDBC filter pushdown)."""
        reader = spark.read.format("jdbc")
        for k, v in self.reader_options(lower, upper).items():
            reader = reader.option(k, v)
        df = reader.load()
        if tracking_column is not None and last_value is not None:
            from pyspark.sql import functions as F

            df = df.filter(F.col(tracking_column) > F.lit(last_value))
        return df
