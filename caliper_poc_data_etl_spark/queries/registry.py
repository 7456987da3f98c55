"""Registry plumbing for declared queries."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from caliper_poc_data_etl_spark.sources import sf_table

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    """One declared operator/query.

    ``oracle`` is the DuckDB-ANSI-SQL twin over the pre-registered
    views (``region nation customer supplier part orders lineitem
    events documents embeddings``); ``None`` marks a genuinely
    non-SQL-expressible op (driver falls back to a rows-only check).
    """

    name: str
    spark: SparkQuery
    oracle: str | None
    doc: str = ""


QUERIES: dict[str, Query] = {}


def query(name: str, oracle: str | None = None) -> Callable[[SparkQuery], SparkQuery]:
    """Register a (spark_fn, oracle_sql) pair under ``name``."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = Query(name=name, spark=fn, oracle=oracle, doc=fn.__doc__ or "")
        return fn

    return deco


def spark_queries() -> dict[str, SparkQuery]:
    return {name: q.spark for name, q in QUERIES.items()}


def oracle_queries() -> dict[str, str]:
    return {name: q.oracle for name, q in QUERIES.items() if q.oracle is not None}


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand: one driver parquet table."""
    return sf_table(spark, sf_dir, name)


def spread(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Hash-repartition ``df`` on its unique ``key`` to
    ``defaultParallelism`` partitions, so the CPU-heavy per-row work
    above it runs on every core.

    The small scale-factor tables are one parquet row group, so ONE
    scan task; without this every expression above the scan runs serially.
    Unconditional: probing ``df.rdd.getNumPartitions()`` costs an RDD
    plan conversion at build time (VERDICT r7), more than the shuffle
    it would skip. The explicit count makes a REPARTITION_BY_NUM
    exchange, which AQE never coalesces back onto one task. Keyed, not
    round-robin: a keyless ``repartition(n)`` first sorts its input
    (spark.sql.execution.sortBeforeRepartition); a unique key spreads
    as evenly with no sort (simhash: 0.85 -> 0.59 s at sf0.1)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, F.col(key))
