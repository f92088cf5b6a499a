"""Structured Streaming module: run real streaming queries with
Trigger.AvailableNow over fixture events and check against the batch
equivalents (streaming-vs-batch consistency is the correctness oracle
here — DuckDB has no streaming surface)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from warehouse_pg_spark.queries.registry import table
from warehouse_pg_spark.streaming.events import EventStream, run_available_now


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Stage fixture events as a parquet dir usable as a stream source
    (normalized µs timestamps)."""
    out = str(tmp_path_factory.mktemp("events_src"))
    df = table(spark, sf_dir, "events")
    df.write.mode("overwrite").parquet(out)
    return out, df.schema


def test_streaming_tumbling_matches_batch(spark, sf_dir, events_dir):
    path, schema = events_dir
    stream = EventStream.from_parquet_dir(spark, path, schema, watermark="1 minute")
    q = run_available_now(stream.tumbling_counts("5 minutes"), query_name="tumb")
    got = spark.table("tumb")

    batch = table(spark, sf_dir, "events")
    expected = (
        batch.groupBy(F.window("ts", "5 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .count()
    )
    # complete-mode memory sink holds final state: same number of groups
    assert got.count() == expected
    assert got.filter(F.col("n") <= 0).count() == 0
    q.stop()


def test_streaming_session_windows(spark, events_dir):
    path, schema = events_dir
    stream = EventStream.from_parquet_dir(spark, path, schema, watermark="1 minute")
    q = run_available_now(stream.session_windows("30 minutes"), query_name="sess")
    got = spark.table("sess")
    assert got.count() > 0
    # session invariant: end >= start, all users present
    bad = got.filter(F.col("session_end") < F.col("session_start")).count()
    assert bad == 0
    q.stop()


def test_streaming_dedup(spark, events_dir):
    path, schema = events_dir
    stream = EventStream.from_parquet_dir(spark, path, schema, watermark="1 minute")
    q = run_available_now(
        stream.dedup_within_watermark(["event_id"]), query_name="dd"
    )
    got = spark.table("dd")
    assert got.count() == got.select("event_id").distinct().count()
    q.stop()


def test_streaming_stateful_user_totals_matches_batch(spark, sf_dir, events_dir):
    """applyInPandasWithState custom stateful operator: final per-user
    (count, total) must equal the batch groupBy over the same input."""
    path, schema = events_dir
    stream = EventStream.from_parquet_dir(spark, path, schema, watermark="1 minute")
    run_available_now(
        stream.stateful_user_totals(), query_name="stateful", output_mode="update"
    )
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.table("stateful").collect()
    }
    batch = {
        r.user_id: (r.n, r.total)
        for r in table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(got) == set(batch)
    for uid, (n, total) in batch.items():
        gn, gt = got[uid]
        assert gn == n
        assert abs(gt - total) < 1e-6 * max(abs(total), 1.0)


def test_streaming_interval_join_matches_batch(spark, sf_dir, events_dir):
    """Stream-stream interval join == the batch theta join on the same
    predicate (click within 30 min at-or-before a purchase)."""
    path, schema = events_dir
    purchases = EventStream.from_parquet_dir(
        spark, path, schema, watermark="1 minute"
    )
    clicks = EventStream.from_parquet_dir(
        spark, path, schema, watermark="1 minute"
    )
    purchases.df = purchases.df.filter(F.col("event_type") == "purchase")
    clicks.df = clicks.df.filter(F.col("event_type") == "click")
    joined = purchases.interval_join(clicks, horizon="30 minutes")
    q = run_available_now(joined, query_name="sjoin", output_mode="append")
    got = spark.table("sjoin").count()

    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("l_event_id"),
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("l_ts"),
    )
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts")
    )
    expected = p.join(
        c,
        F.expr(
            "l_user = r_user AND r_ts BETWEEN l_ts - INTERVAL 30 minutes AND l_ts"
        ),
    ).count()
    assert got == expected and got > 0
    q.stop()


def test_streaming_upsert_into_parquet_table(spark, sf_dir, events_dir, tmp_path):
    """CDC-style continuous MERGE: per-user running totals streamed in
    update mode, each micro-batch upserted into a copy-on-write parquet
    table; the converged table equals the batch aggregate."""
    from warehouse_pg_spark.operators.dml import ParquetTable
    from warehouse_pg_spark.streaming.events import (
        EventStream,
        upsert_available_now,
    )

    path, schema = events_dir
    # seed an empty target with the right schema
    tpath = str(tmp_path / "user_totals")
    spark.createDataFrame([], "user_id long, n long, total double").write.parquet(
        tpath
    )
    target = ParquetTable(spark, tpath)

    stream = EventStream.from_parquet_dir(
        spark, path, schema, watermark="1 minute", max_files_per_trigger=1
    )
    totals = stream.df.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("value").alias("total")
    )
    upsert_available_now(
        totals, target, on=["user_id"], checkpoint=str(tmp_path / "chk")
    )

    got = {r.user_id: (r.n, r.total) for r in target.read().collect()}
    batch = table(spark, sf_dir, "events")
    expected = {
        r.user_id: (r.n, r.total)
        for r in batch.groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert set(got) == set(expected)
    for k, (n, tot) in expected.items():
        assert got[k][0] == n
        assert abs(got[k][1] - tot) < 1e-6


def test_streaming_near_dup_filter(spark, tmp_path):
    """Streaming fingerprint dedup: case/punctuation variants of the
    same content collapse to one surviving row, matching the batch
    fingerprint-dedup count."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )
    import datetime

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", TimestampType()),
            StructField("props", StringType()),
        ]
    )
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, "Hello, World!"),
        (2, t0 + datetime.timedelta(seconds=10), "hello   world"),  # near-dup of 1
        (3, t0 + datetime.timedelta(seconds=20), "Something else"),
        (4, t0 + datetime.timedelta(seconds=30), "SOMETHING ELSE!!"),  # near-dup of 3
        (5, t0 + datetime.timedelta(seconds=40), "unique content"),
    ]
    src = str(tmp_path / "nd_src")
    spark.createDataFrame(rows, schema).write.parquet(src)

    stream = EventStream.from_parquet_dir(spark, src, schema, watermark="1 minute")
    q = run_available_now(stream.near_dup_filter("props"), query_name="nd")
    got = spark.table("nd")
    assert got.count() == 3
    assert sorted(r.event_id for r in got.collect())[0] in (1, 2)
    q.stop()


def test_minhash_ingest_dedup_matches_batch_incremental(spark, sf_dir, tmp_path):
    """Streaming MinHash ingest dedup vs the batch incremental query —
    the streaming-vs-batch consistency oracle: stream documents in two
    micro-batches (corpus docs first, then the incoming batch); the
    docs the stream drops in batch 2 must be exactly the doc_ids the
    batch dedup_incremental_lsh query flags for the same split."""
    import time

    from warehouse_pg_spark.queries import REGISTRY
    from warehouse_pg_spark.queries.registry import table
    from warehouse_pg_spark.streaming.ingest_dedup import (
        minhash_ingest_dedup_available_now,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    n_total = docs.count()
    src = str(tmp_path / "docs_src")
    # two files with strictly increasing mtimes -> two ordered batches
    docs.filter("doc_id < 400").coalesce(1).write.mode("overwrite").parquet(src)
    time.sleep(1.1)
    docs.filter("doc_id >= 400").coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "docs_out")
    store = str(tmp_path / "sig_store")
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    minhash_ingest_dedup_available_now(
        spark, stream, out, store, str(tmp_path / "chk"),
    )

    kept = spark.read.parquet(out)
    expected_drops = {
        r.batch_id
        for r in REGISTRY["dedup_incremental_lsh"].fn(spark, sf_dir).collect()
    }
    dropped = {
        r.doc_id
        for r in docs.join(kept, "doc_id", "left_anti").collect()
    }
    assert dropped == expected_drops, (sorted(dropped), sorted(expected_drops))
    assert kept.count() == n_total - len(expected_drops)
    # the store holds signatures for every KEPT doc (k=8 columns)
    sig = spark.read.parquet(store)
    assert sig.count() == n_total - len(expected_drops)
    assert {f"h{i}" for i in range(8)}.issubset(set(sig.columns))


def test_minhash_ingest_dedup_quotes_text_column(spark, tmp_path):
    """A text column whose name needs quoting (it holds a space) goes
    through shingling; the second batch's duplicate of the first batch's
    document is dropped against the signature store."""
    import time

    from warehouse_pg_spark.streaming.ingest_dedup import (
        minhash_ingest_dedup_available_now,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    schema = "doc_id BIGINT, `body text` STRING"
    src = str(tmp_path / "src")
    spark.createDataFrame([(1, text)], schema).coalesce(1).write.parquet(src)
    time.sleep(1.1)
    spark.createDataFrame(
        [(2, text.upper()), (3, "an entirely different document about spark sql")],
        schema,
    ).coalesce(1).write.mode("append").parquet(src)

    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    minhash_ingest_dedup_available_now(
        spark, stream, out, str(tmp_path / "store"), str(tmp_path / "chk"),
        text_col="body text",
    )
    assert sorted(r.doc_id for r in spark.read.parquet(out).collect()) == [1, 3]
