"""The one parquet read path: catalog.read_parquet_table and its
relation cache (one entry per path, session + mtime checked, dropped
by engine writes)."""

from __future__ import annotations

import os

from warehouse_pg_spark import catalog
from warehouse_pg_spark.catalog import FIXTURE_TABLES
from warehouse_pg_spark.engine import Engine
from warehouse_pg_spark.operators.dml import ParquetTable
from warehouse_pg_spark.queries.registry import table


def test_bigint_ts_survives_ctas_and_update(spark, tmp_path):
    # a BIGINT column named ts is data, not a nanosecond timestamp
    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    eng.sql("CREATE TABLE ts_big AS SELECT CAST(42 AS BIGINT) AS ts, 1 AS k")
    df = eng.sql("SELECT ts, k FROM ts_big")
    assert dict(df.dtypes)["ts"] == "bigint"
    assert [tuple(r) for r in df.collect()] == [(42, 1)]
    eng.sql("UPDATE ts_big SET k = 2")
    df = eng.sql("SELECT ts, k FROM ts_big")
    assert dict(df.dtypes)["ts"] == "bigint"
    assert [tuple(r) for r in df.collect()] == [(42, 2)]


def test_fixture_reads_leave_session_confs_unchanged(spark, sf_dir):
    s = spark.newSession()
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = s.conf.get(key)
    for name in FIXTURE_TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            table(s, sf_dir, name).schema
            assert s.conf.get(key) == before, name


def test_read_after_insert_ignores_mtime(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(3).write.parquet(path)
    t = ParquetTable(spark, path)
    assert t.read().count() == 3
    st = os.stat(path)
    t.insert(spark.range(3, 5))
    # a filesystem too coarse to see the append: same mtime as before
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 4]


def test_one_entry_per_path_across_sessions(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(2).write.parquet(path)
    other = spark.newSession()
    catalog.read_parquet_table(spark, path)
    n = len(catalog._RELATIONS)
    df = catalog.read_parquet_table(other, path)
    assert len(catalog._RELATIONS) == n
    assert catalog._RELATIONS[path][0] is other
    assert df.sparkSession is other
    assert catalog.read_parquet_table(other, path) is df


def test_stopped_session_entries_dropped_on_miss(spark, tmp_path):
    from types import SimpleNamespace

    stopped = SimpleNamespace(_sc=SimpleNamespace(_jsc=None))
    gone = str(tmp_path / "gone")
    catalog._RELATIONS[gone] = (stopped, 0.0, None)
    path = str(tmp_path / "t")
    spark.range(1).write.parquet(path)
    catalog.read_parquet_table(spark, path)
    assert gone not in catalog._RELATIONS
