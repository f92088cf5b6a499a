"""Registry plumbing + cross-engine parity helpers.

Parity rules (every registered query follows these so its result is
bit-identical between Spark and the DuckDB oracle):

1. **Float sums are order-dependent** — Spark and DuckDB sum partitions
   in different orders, so double aggregation diverges in the last ulp.
   Fix: cast money-like inputs (2-decimal doubles in the fixtures) to
   DECIMAL *before* arithmetic; decimal +,* are exact and associative in
   both engines.
1b. **Decimal NEVER appears in a final output schema.** The driver
   compares results through pandas: Spark DecimalType -> pandas gives
   `Decimal('138014.00')` objects while DuckDB DECIMAL -> pandas gives
   float64 `138014.0`; the stringified representations differ whenever a
   value has a trailing zero at its declared scale (root cause of 20/50
   driver hash failures in round 1). A single cast of the identical exact
   decimal value to DOUBLE is correctly rounded in both engines and thus
   bit-identical. `register()` enforces this mechanically: every
   registered query's output is wrapped so DecimalType columns are
   final-cast to double. DuckDB decimals already arrive as float64 via
   `.df()`, so oracles need no change.
2. **Averages** = CAST(decimal_sum AS DOUBLE) / count — a single IEEE
   division of identical operands is bit-identical across engines.
3. **No raw timestamps in outputs** — Spark TimestampType is
   tz-aware (LTZ), DuckDB TIMESTAMP is naive; emit DATE or a formatted
   string instead.
4. **Integer aggregates**: DuckDB SUM(BIGINT) returns HUGEINT — oracles
   wrap it in CAST(... AS BIGINT) to match Spark's LongType.
5. Row order never matters (driver hash is order-insensitive), but
   LIMIT/top-K queries break ties on a unique key so the *set* of rows
   is deterministic.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None  # DuckDB SQL; None => rows-only check
    tags: tuple[str, ...] = ()
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def _canonize(df: DataFrame) -> DataFrame:
    """Driver-safe final projection (parity rules 1b/3/6).

    The driver compares Spark and DuckDB results through *pandas*, where
    type representations diverge even when values are identical:

    - DecimalType  -> pandas `Decimal('138014.00')` vs DuckDB float64
      `138014.0` (round-1 root cause, 20/50 hash failures) → cast double.
    - DateType     -> pandas `datetime.date` objects vs DuckDB
      `datetime64[us]`; equal under `astype(str)` but NOT under per-cell
      `str()` ('1994-01-01' vs '1994-01-01 00:00:00') → ISO string.
    - TimestampType -> Spark is tz-aware LTZ, DuckDB naive → formatted
      string.
    - ArrayType    -> crashes the driver canonicalizer
      (`sort_values` → `TypeError: unhashable type: 'list'`) →
      comma-joined string ('NULL' for null elements).

    Oracles whose final output is a LIST (DuckDB) wrap it in
    array_to_string(..., ',') to match the array branch below; scalar
    decimal/date oracles need no change — the driver's pandas channel
    already reads DuckDB DECIMAL as float64 and DATE as datetime64, and
    tests/parity.py normalizes those to the same canonical values.
    """
    from pyspark.sql.types import (
        ArrayType,
        DateType,
        DecimalType,
        MapType,
        StructType,
        TimestampType,
    )

    unsafe = (DecimalType, DateType, TimestampType, ArrayType, MapType, StructType)

    def fix(f):
        c = F.col(f.name)
        if isinstance(f.dataType, DecimalType):
            return c.cast("double").alias(f.name)
        if isinstance(f.dataType, DateType):
            # plain cast is ISO 'yyyy-MM-dd' and cheaper than date_format
            return c.cast("string").alias(f.name)
        if isinstance(f.dataType, TimestampType):
            return F.date_format(c, "yyyy-MM-dd HH:mm:ss").alias(f.name)
        if isinstance(f.dataType, ArrayType):
            inner = f.dataType.elementType
            if isinstance(inner, DecimalType):
                c = c.cast("array<double>")
            elif isinstance(inner, TimestampType):
                c = F.transform(c, lambda x: F.date_format(x, "yyyy-MM-dd HH:mm:ss"))
            elif isinstance(inner, (ArrayType, MapType, StructType)):
                return F.to_json(c).alias(f.name)
            return F.array_join(c.cast("array<string>"), ",", "NULL").alias(f.name)
        if isinstance(f.dataType, (MapType, StructType)):
            # would be unhashable objects in the driver's pandas channel
            return F.to_json(c).alias(f.name)
        return c

    if not any(isinstance(f.dataType, unsafe) for f in df.schema.fields):
        return df
    return df.select(*[fix(f) for f in df.schema.fields])


def register(
    name: str, oracle: str | None = None, tags: tuple[str, ...] = ()
) -> Callable:
    """Decorator: register fn(spark, sf_dir) -> DataFrame under `name`.

    The registered callable is wrapped with `_canonize` so no decimal /
    date / timestamp / array column ever reaches the driver's
    pandas-channel comparison.
    """

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            return _canonize(fn(spark, sf_dir))

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__module__ = fn.__module__
        wrapped.__wrapped__ = fn
        REGISTRY[name] = Query(
            name=name, fn=wrapped, oracle=oracle, tags=tags, doc=(fn.__doc__ or "")
        )
        return fn

    return deco


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk size of a fixture table (file or directory) — the
    engine's zero-cost stand-in for catalog size statistics when
    choosing a physical strategy at plan-build time."""
    import os

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a fixture table through catalog.read_parquet_table."""
    from warehouse_pg_spark.catalog import read_parquet_table

    return read_parquet_table(spark, f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------- parity utils

# Money-like fixture doubles hold exactly 2 decimal digits; DECIMAL(18,2)
# recovers the intended value exactly in both engines.
MONEY = "decimal(18,2)"


def dec(col: Column | str, typ: str = MONEY) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)


def dsum(col: Column, scale: int = 2) -> Column:
    """Exact, order-independent sum → DECIMAL(38, scale)."""
    return F.sum(col).cast(f"decimal(38,{scale})")


def davg(col: Column) -> Column:
    """Order-independent average as a double (decimal sum / count)."""
    return F.sum(col).cast("double") / F.count(col)


def oracle_davg(expr: str, dec_type: str = MONEY) -> str:
    """DuckDB SQL matching davg(dec(expr))."""
    return f"CAST(SUM(CAST({expr} AS {dec_type})) AS DOUBLE) / COUNT({expr})"
