"""Storage that delegates to ``ParquetStorage`` and records a span per call.

Used only by the traced run, so the sources layer is timed without
editing it. Rows written are read from the parquet footers of the
written files after the span closes, which costs no Spark action.
"""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from spark_cassandra_collabfiltering_spark.sources import ParquetStorage, Storage


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from its footers alone."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(path, "*.parquet")))


class TimedStorage(Storage):
    def __init__(self, root: str, tracer):
        self.inner = ParquetStorage(root)
        self.tracer = tracer

    def read(self, spark, table):
        with self.tracer.span("sources.read", table=table):
            return self.inner.read(spark, table)

    def write(self, df, table, mode="append"):
        with self.tracer.span("sources.write", table=table) as span:
            self.inner.write(df, table, mode=mode)
        span.attrs["rows"] = parquet_rows(os.path.join(self.inner.root, table))

    def truncate(self, spark, table):
        with self.tracer.span("sources.truncate", table=table):
            self.inner.truncate(spark, table)
