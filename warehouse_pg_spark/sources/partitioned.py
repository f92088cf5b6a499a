"""Partitioned tables: GP partition DDL semantics on Parquet layout.

Reference: classic GPDB multi-level partitioning
(`PARTITION BY RANGE (col) (START ... END ... EVERY ...)`,
parser gram.y:5423-5442, src/backend/partitioning/) and its run-time
partition elimination (executor/nodePartitionSelector.c,
nodeDynamicSeqscan.c, regress dpe.sql / partition_pruning.sql).

Spark realization (SURVEY §1.1): a partition column materialized into
the Parquet *directory layout* (`df.write.partitionBy(col)`), giving
  - static pruning: literal predicates on the partition column never
    touch excluded directories (`PartitionFilters` in the scan), and
  - dynamic partition pruning: a join against a filtered dim prunes
    fact partitions at run time (Catalyst DPP — PartitionSelector's
    exact job).

At 100 TB the fact table would be partitioned by a date grain (and
optionally bucketed by its join key); partition count should stay in
the thousands, not millions — `range_partition_expr` maps a raw
timestamp to a coarse partition id exactly like GP's `EVERY` clause
buckets a range.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from warehouse_pg_spark import catalog


def range_partition_expr(
    col: Column | str, start, every, unit: str | None = None
) -> Column:
    """GP `PARTITION BY RANGE (col) (START s EVERY e)` → partition id.

    Numeric ranges: floor((col - start) / every).
    Date/timestamp ranges: unit ∈ {'year','month','day'} buckets of
    width `every` counted from `start`.
    """
    c = F.col(col) if isinstance(col, str) else col
    if unit is None:
        return F.floor((c - F.lit(start)) / F.lit(every)).cast("int")
    if unit == "year":
        n = F.year(c) - F.year(F.lit(start))
    elif unit == "month":
        n = F.months_between(F.date_trunc("month", c), F.lit(start)).cast("int")
    elif unit == "day":
        n = F.datediff(c, F.lit(start))
    else:
        raise ValueError(f"unsupported unit: {unit}")
    return F.floor(n / F.lit(every)).cast("int")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_col: str,
    expr: Column | None = None,
    mode: str = "overwrite",
) -> None:
    """Write df as a directory-partitioned Parquet table. If `expr` is
    given, the partition column is derived (GP RANGE/EVERY semantics);
    otherwise `partition_col` must already exist."""
    out = df.withColumn(partition_col, expr) if expr is not None else df
    out.write.mode(mode).partitionBy(partition_col).parquet(path)
    catalog.invalidate(path)


def read_partitioned(spark: SparkSession, path: str) -> DataFrame:
    return catalog.read_parquet_table(spark, path)
