"""Table catalog: maps logical table names → parquet-backed DataFrames.

This is the Spark-idiomatic analog of the reference's Hive metastore
(reference is a Hive release fork, /root/reference/README.md:1-4): a
named-table registry over columnar files. Scans stay declarative so
Catalyst applies column pruning + predicate pushdown at the parquet
reader (asserted in tests/test_plans.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: tables that are always small relative to the fact tables at any SF —
#: join planners should broadcast these (SURVEY.md §4).
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

#: orders.o_totalprice as exact integer cents, identical on both engines
#: (round-half-away on positive values): a SQL fragment for Spark SQL
#: expressions and DuckDB oracles alike.
ORDER_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: session-scoped DataFrame memo: every query builds a fresh Catalog, so
#: without this each of the ~100 registered queries re-lists the path and
#: re-reads parquet footers (~50-100 ms of planning latency apiece).
#: DataFrames are lazy plans — sharing one per (session, sf_dir, table)
#: is safe; keyed by applicationId so a restarted session can't reuse
#: plans bound to a dead JVM context.
_SHARED: dict[tuple[str, str, str], DataFrame] = {}


class Catalog:
    """Lazy per-sf_dir table registry."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir.rstrip("/")

    def table(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(f"unknown table {name!r}; known: {TABLES}")
        key = (self.spark.sparkContext.applicationId, self.sf_dir, name)
        if key not in _SHARED:
            path = f"{self.sf_dir}/{name}.parquet"
            if name == "events":
                df = self._read_events(path)
            else:
                df = self.spark.read.parquet(path)
            _SHARED[key] = df
        return _SHARED[key]

    def _read_events(self, path: str):
        """events.ts has shipped as TIMESTAMP(NANOS) parquet in some data
        drops (which Spark's vectorized reader rejects) and plain
        TIMESTAMP(MICROS) in others. Handle both: read with nanosAsLong
        compat on, then floor-convert only if the column actually came
        back as epoch-nanos long (`div` = integer division — double math
        would lose precision on epoch-nanos magnitudes)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = self.spark.read.parquet(path)
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self, names: tuple[str, ...] = TABLES) -> None:
        """Expose tables as temp views for spark.sql() queries."""
        for name in names:
            self.table(name).createOrReplaceTempView(name)


def load(spark: SparkSession, sf_dir: str, *names: str) -> list[DataFrame]:
    cat = Catalog(spark, sf_dir)
    return [cat.table(n) for n in names]
