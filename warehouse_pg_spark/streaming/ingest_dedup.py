"""Streaming MinHash near-dup filter at the ingest boundary.

The micro-batch form of `queries/dedup.dedup_incremental_lsh` — the
shape a production training-data ingest actually runs 24/7:

    every micro-batch:
      1. MinHash-sign the incoming documents (same signature algebra as
         the batch queries: lexicographic md5 minhash, k=8, 4 bands)
      2. band-join the batch against the persisted SIGNATURE STORE
         (batch ⋈ store only — never store ⋈ store; per-batch cost
         scales with the batch, the store is an append-only parquet
         table exactly like a production signature service)
      3. drop batch docs whose best store match has >= `min_matches`
         agreeing signature components (est_jaccard >= min_matches/8)
      4. append survivors to the output table AND their signatures to
         the store — later batches dedup against everything ingested
         before them

The reference has no streaming surface (SURVEY §2.10 beyond-reference
north star); its closest analogue is gpload micro-batch MERGE
(gpMgmt/bin/gpload.py). State lives in a parquet signature store, not
the Spark state store: an LSH band index is a join-shaped state that
foreachBatch + parquet expresses directly, survives restarts via the
checkpoint, and at 100 TB is just another bucketed table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warehouse_pg_spark import catalog


def _signatures(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, h0..h7) minhash signatures — same algebra as queries/dedup."""
    from warehouse_pg_spark.queries.dedup import _minhash_sig_cols, _shingles

    # No distinct: exploded shingle rows are unique by construction
    # (array_distinct per doc) and the signature MINs ignore duplicates;
    # same shuffle removal as queries/dedup (r17).
    sh = docs.select(
        F.col(id_col).alias("__id"),
        F.explode(_shingles(text_col)).alias("shingle"),
    )
    return sh.groupBy("__id").agg(*_minhash_sig_cols())


def _bands(sig: DataFrame) -> DataFrame:
    # One exploded band table (same rows as the former 4-way union of
    # selects; one scan of sig per consumer instead of four — r17).
    from warehouse_pg_spark.queries.dedup import _band_table

    return _band_table(sig.withColumnRenamed("__id", "doc_id")).withColumnRenamed(
        "doc_id", "__id"
    )


def minhash_ingest_dedup_available_now(
    spark: SparkSession,
    stream_df: DataFrame,
    out_path: str,
    store_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_matches: int = 4,
) -> None:
    """Run the ingest-dedup pipeline over all available input
    (Trigger.AvailableNow — identical code path to a 24/7 stream)."""
    from warehouse_pg_spark.queries.dedup import _NUM_HASHES

    def _process(bdf: DataFrame, _epoch: int) -> None:
        if bdf.isEmpty():
            return
        sig = _signatures(bdf, id_col, text_col).cache()
        if os.path.isdir(store_path) and any(
            f.endswith(".parquet") for f in os.listdir(store_path)
        ):
            store_sig = catalog.read_parquet_table(spark, store_path)
            cand = (
                _bands(sig)
                .alias("a")
                .join(
                    _bands(store_sig).alias("b"),
                    (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bval") == F.col("b.bval")),
                )
                .select(
                    F.col("a.__id").alias("bid"),
                    F.col("b.__id").alias("sid"),
                )
                .distinct()
            )
            sa, sb = sig.alias("sa"), store_sig.alias("sb")
            matches = sum(
                F.when(F.col(f"sa.h{i}") == F.col(f"sb.h{i}"), 1).otherwise(0)
                for i in range(_NUM_HASHES)
            )
            dups = (
                cand.join(sa, F.col("bid") == F.col("sa.__id"))
                .join(sb, F.col("sid") == F.col("sb.__id"))
                .select("bid", matches.alias("m"))
                .filter(F.col("m") >= min_matches)
                .select(F.col("bid").alias("__dup_id"))
                .distinct()
            )
            kept = bdf.join(
                dups, bdf[id_col] == dups.__dup_id, "left_anti"
            )
        else:
            kept = bdf
        kept.write.mode("append").parquet(out_path)
        kept_sig = sig.join(
            kept.select(F.col(id_col).alias("__kid")),
            sig.__id == F.col("__kid"),
        ).drop("__kid")
        kept_sig.write.mode("append").parquet(store_path)
        catalog.invalidate(store_path)
        sig.unpersist()

    q = (
        stream_df.writeStream.foreachBatch(_process)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
