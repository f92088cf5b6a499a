"""Table catalog: registry of parquet-backed tables + distribution metadata.

WHPG tracks each relation's distribution policy (hash keys / random /
replicated) in gp_distribution_policy (reference:
src/include/catalog/gp_distribution_policy.h:87-89) and its partition
layout in the PG catalogs. In Spark, distribution is a *performance*
property, never a correctness one (SURVEY §1.1), so the catalog stores it
as a hint: `distribution=("hash", keys)` prompts `repartition(keys)` on
write and informs bucketing; `("replicated", ())` marks broadcast-worthy
dims.

The catalog is deliberately thin — Spark's own catalog handles name
resolution once views are registered; this layer adds the WHPG-style
DDL metadata and the fixture loading convention
(`{sf_dir}/{table}.parquet`).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


# Driver-side relation cache: path -> (session, mtime, analyzed reader
# DataFrame). A bare spark.read.parquet(path) runs a footer-inference
# job and re-resolves the relation (file listing + analysis py4j
# round-trips) on every call; a warehouse resolves a relation once and
# reuses it (reference: relcache). The cached object is an immutable
# logical plan: executing it always scans the files, so no data or
# results are cached. A hit needs the same session and the same mtime,
# otherwise the entry is replaced, so there is at most one entry per
# path; an engine write replaces its path's entry (`refresh`) or drops
# it (`invalidate`), so a read after a write never depends on mtime
# granularity.
_RELATIONS: dict[str, tuple[SparkSession, float, DataFrame]] = {}


def _path_mtime(path: str) -> float:
    try:
        return os.path.getmtime(path)
    except OSError:
        return -1.0


def invalidate(path: str) -> None:
    """Forget path's cached relation; call after every write to path
    that does not go through `refresh`."""
    _RELATIONS.pop(path, None)


def _normalized(df: DataFrame) -> DataFrame:
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        df = df.withColumns(
            {c: F.col(c).cast("timestamp") for c in ntz_cols}
        )
    return df


def refresh(spark: SparkSession, path: str, schema: StructType) -> None:
    """Re-resolve path after a write that kept the table's `schema`:
    the relation is built from that schema, so no footer-inference job
    runs (ParquetTable writes; other writes call `invalidate`)."""
    df = _normalized(spark.read.schema(schema).parquet(path))
    _RELATIONS[path] = (spark, _path_mtime(path), df)


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """The engine's one parquet read path: a parquet path → DataFrame,
    through the relation cache, with physical-type normalization.

    PG timestamps are tz-naive (reference:
    src/backend/utils/adt/timestamp.c); the engine's policy is that all
    timestamps are session-TZ TIMESTAMP, normalized once at ingest.
    Spark 4.x infers non-UTC-adjusted parquet timestamp[us] as
    TIMESTAMP_NTZ, which unix_millis()/withWatermark() reject — with
    the session TZ pinned to UTC the NTZ→LTZ cast is value-preserving,
    so normalize every timestamp_ntz column here, at the one read
    boundary every query goes through."""
    mtime = _path_mtime(path)
    hit = _RELATIONS.get(path)
    if hit is not None and hit[0] is spark and hit[1] == mtime:
        return hit[2]
    # entries of stopped sessions can never hit again; drop them
    for p, (s, _m, _df) in list(_RELATIONS.items()):
        if s._sc._jsc is None:
            _RELATIONS.pop(p, None)
    df = _normalized(spark.read.parquet(path))
    _RELATIONS[path] = (spark, mtime, df)
    return df


# The driver's fixture tables (TESTDATA.md).
FIXTURE_TABLES = (
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

# Distribution hints mirroring the reference TPC-H DDL
# (reference: src/test/regress/sql/tpch500GB.sql:56 —
#  `create table customer (...) distributed by (c_custkey)`).
# Small dims are "replicated" -> always broadcast-joinable.
DEFAULT_DISTRIBUTION: dict[str, tuple[str, tuple[str, ...]]] = {
    "region": ("replicated", ()),
    "nation": ("replicated", ()),
    "supplier": ("replicated", ()),
    "part": ("hash", ("p_partkey",)),
    "customer": ("hash", ("c_custkey",)),
    "orders": ("hash", ("o_orderkey",)),
    "lineitem": ("hash", ("l_orderkey",)),
    "events": ("hash", ("user_id",)),
    "documents": ("hash", ("doc_id",)),
    "embeddings": ("hash", ("vec_id",)),
}


@dataclass
class TableInfo:
    name: str
    path: str
    distribution: tuple[str, tuple[str, ...]] = ("random", ())
    partition_cols: tuple[str, ...] = ()


@dataclass
class Catalog:
    """Registry of parquet tables for one SparkSession."""

    spark: SparkSession
    tables: dict[str, TableInfo] = field(default_factory=dict)

    def register_parquet(
        self,
        name: str,
        path: str,
        distribution: tuple[str, tuple[str, ...]] | None = None,
        partition_cols: tuple[str, ...] = (),
        create_view: bool = True,
    ) -> TableInfo:
        info = TableInfo(
            name=name,
            path=path,
            distribution=distribution or DEFAULT_DISTRIBUTION.get(name, ("random", ())),
            partition_cols=partition_cols,
        )
        self.tables[name] = info
        if create_view:
            read_parquet_table(self.spark, path).createOrReplaceTempView(name)
        return info

    def register_fixtures(self, sf_dir: str, create_views: bool = True) -> None:
        """Register every driver fixture table found under sf_dir."""
        for name in FIXTURE_TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                self.register_parquet(name, path, create_view=create_views)

    def load(self, name: str) -> DataFrame:
        info = self.tables[name]
        return read_parquet_table(self.spark, info.path)

    def materialize_bucketed(
        self,
        name: str,
        df: DataFrame,
        keys: tuple[str, ...],
        num_buckets: int = 32,
        sort: bool = True,
    ) -> DataFrame:
        """Materialize df as a bucketed managed table — the engine's
        realization of `DISTRIBUTED BY (keys)` data placement
        (reference: gp_distribution_policy.h, cdbhash.c): tables
        bucketed on the same keys with the same bucket count join
        WITHOUT a shuffle (locus-matched co-located join,
        cdbpath.c:94 cdbpath_motion_for_join).

        At 100 TB, bucket the fact tables on their dominant join key
        (lineitem/orders on orderkey) once at load; every downstream
        join re-uses the placement, exactly like GP's hash
        distribution."""
        # Idempotence across sessions: a previous session's managed-table
        # location survives while the (in-memory) catalog entry does not,
        # so saveAsTable would fail with LOCATION_ALREADY_EXISTS.
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        warehouse = self.spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        stale = os.path.join(warehouse.removeprefix("file:"), name)
        if os.path.isdir(stale):
            import shutil

            shutil.rmtree(stale, ignore_errors=True)
        writer = (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(num_buckets, keys[0], *keys[1:])
        )
        if sort:
            writer = writer.sortBy(keys[0], *keys[1:])
        writer.saveAsTable(name)
        self.tables[name] = TableInfo(
            name=name, path="", distribution=("hash", tuple(keys))
        )
        return self.spark.table(name)

    def is_broadcastable(self, name: str) -> bool:
        info = self.tables.get(name)
        return bool(info and info.distribution[0] == "replicated")

