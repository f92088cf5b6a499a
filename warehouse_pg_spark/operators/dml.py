"""DML over parquet tables: INSERT / UPDATE / DELETE as copy-on-write.

Semantic mirror of the reference's ModifyTable + SplitUpdate
(executor/nodeModifyTable.c, nodeSplitUpdate.c:291): a distributed
UPDATE is a DELETE + INSERT pair. On immutable Parquet that becomes a
rewrite: read → transform (filter out / modify matching rows) → write
new files → atomic swap. No per-row mutation, no transaction log —
the batch-job unit of atomicity is the table version (directory).

A statement's row count is collected on its write by a
`pyspark.sql.Observation`, as ModifyTable counts the rows for the
command tag in the same executor pass that writes them, so counting
starts no Spark job of its own. Every write keeps the table's schema,
so the relation cache is rebuilt from that schema (`catalog.refresh`)
instead of being re-inferred from the file footers by another job.

Scale note: UPDATE and DELETE rewrite every file of the table, whatever
`where` says; there is no partition pruning. The cost of a statement is
the table's size, not the number of rows it changes: on the dml
benchmark (sf0.01 `lineitem`) the bytes written per byte of changed
rows (`operators.dml.write_amplification`) is about 50.
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession

from warehouse_pg_spark import catalog


class ParquetTable:
    """A writable parquet-backed table with copy-on-write DML."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        return catalog.read_parquet_table(self.spark, self.path)

    def insert(self, df: DataFrame) -> int:
        """INSERT = append new files (no rewrite). `df` must have the
        table's schema. Returns the number of rows inserted, counted on
        the write."""
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "append"
        ).parquet(self.path)
        catalog.refresh(self.spark, self.path, df.schema)
        return obs.get["n"]

    def _swap_in(
        self, df: DataFrame, before_swap: Callable[[], int] | None = None
    ) -> int | None:
        """Rewrite the table as `df` (which must have the table's
        schema) and swap it in. `before_swap` runs after the write,
        while the old files are still in place; its result is returned."""
        tmp = f"{self.path}.tmp-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(tmp)
        out = before_swap() if before_swap is not None else None
        old = f"{self.path}.old-{uuid.uuid4().hex[:8]}"
        os.rename(self.path, old)
        os.rename(tmp, self.path)
        catalog.refresh(self.spark, self.path, df.schema)
        shutil.rmtree(old, ignore_errors=True)
        return out

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024) -> dict[str, int]:
        """VACUUM FULL analogue (reference commands/vacuum.c /
        vacuumlazy.c — reclaim + rewrite): coalesce the table's files to
        ~target size. Copy-on-write DML appends and rewrites leave many
        small files over time; small files are the classic 100 TB scan
        killer (per-file open cost, tiny row groups, no skipping).
        One read → repartition(ceil(bytes/target)) → atomic swap."""
        import math

        n_bytes = 0
        files_before = 0
        for root, _dirs, files in os.walk(self.path):
            for f in files:
                if not f.startswith(("_", ".")):
                    files_before += 1
                    n_bytes += os.path.getsize(os.path.join(root, f))
        n_out = max(1, math.ceil(n_bytes / target_file_bytes))
        self._swap_in(self.read().repartition(n_out))
        files_after = sum(
            1
            for _root, _dirs, files in os.walk(self.path)
            for f in files
            if not f.startswith(("_", "."))
        )
        return {
            "files_before": files_before,
            "files_after": files_after,
            "bytes": n_bytes,
        }

    def delete(self, where: Column) -> int:
        """DELETE WHERE → keep the rows where `where` is not TRUE (a NULL
        qual keeps the row, as in PG). Returns rows deleted."""
        df = self.read()
        obs = Observation()
        kept = df.observe(obs, F.count_if(where).alias("n")).filter(
            ~F.coalesce(where, F.lit(False))
        )

        def deleted() -> int:
            # A constant-TRUE `where` (TRUNCATE, DELETE without WHERE)
            # folds the filter to an empty relation, and the optimizer
            # drops the observation below it: every row was deleted, so
            # count the old table, whose files are still in place.
            if obs._jo.getRow().length() == 0:
                return df.count()
            return obs.get["n"]

        return self._swap_in(kept, deleted)

    def update(self, assignments: dict[str, Column], where: Column) -> int:
        """UPDATE SET col=expr WHERE → rewrite matching rows in place.

        Mirrors SplitUpdate semantics: each matching row is replaced by
        its updated image; non-matching rows pass through. Each
        assignment is cast to its column's type, so the table keeps its
        schema."""
        df = self.read()
        obs = Observation()
        cols = []
        for f in df.schema.fields:
            if f.name in assignments:
                cols.append(
                    F.when(where, assignments[f.name].cast(f.dataType))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                )
            else:
                cols.append(F.col(f.name))
        self._swap_in(
            df.observe(obs, F.count_if(where).alias("n")).select(*cols)
        )
        return obs.get["n"]

    def merge(
        self,
        source: DataFrame,
        on: list[str],
        update: dict[str, Column] | None = None,
        insert: bool = True,
        delete_unmatched_source: bool = False,
    ) -> dict[str, int]:
        """MERGE / upsert as copy-on-write (PG `INSERT ... ON CONFLICT DO
        UPDATE` / SQL:2003 MERGE; reference executor/nodeModifyTable.c
        speculative-insert path).

        - matched target rows: replaced by the updated image built from
          `update` (source columns addressable via the joined source row);
          with update=None, matched rows are replaced wholesale by the
          source row (last-writer-wins upsert).
        - unmatched source rows: appended when insert=True.
        - matched-by-source deletion (`WHEN NOT MATCHED BY SOURCE THEN
          DELETE`) when delete_unmatched_source=True.

        Scale note: one shuffle on the merge keys (sort-merge or broadcast
        if the source is small); the rewrite is a full-table pass, the
        same worst case as SplitUpdate redistributing every affected row.
        The source is deduplicated on the keys first (PG raises on
        duplicate conflict rows; we keep an arbitrary-but-deterministic
        first by key ordering to stay a function).
        """
        from pyspark.sql import Window

        target = self.read()
        src = (
            source.withColumn(
                "__rn", F.row_number().over(
                    Window.partitionBy(*on).orderBy(*[F.col(k) for k in source.columns])
                )
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

        t = target.withColumn("__t", F.lit(1)).alias("t")
        s = src.withColumn("__s", F.lit(1)).alias("s")
        cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in on]
        matched = F.col("t.__t").isNotNull() & F.col("s.__s").isNotNull()
        t_only = F.col("s.__s").isNull()
        s_only = F.col("t.__t").isNull()
        obs = Observation()
        joined = t.join(s, cond, "full_outer").observe(
            obs,
            F.count_if(matched).alias("updated"),
            F.count_if(s_only).alias("inserted"),
        )

        out_cols = []
        for c in target.columns:
            upd_expr = (
                update[c]
                if update is not None and c in update
                else (F.col(f"s.{c}") if update is None and c in src.columns else F.col(f"t.{c}"))
            )
            ins_expr = F.col(f"s.{c}") if c in src.columns else F.lit(None).cast(target.schema[c].dataType)
            col = (
                F.when(matched, upd_expr)
                .when(t_only, F.col(f"t.{c}"))
                .otherwise(ins_expr)
                .alias(c)
            )
            out_cols.append(col)

        result = joined.select(*out_cols)
        if not insert:
            # keep exactly the target-side rows; gate on the __t marker,
            # not on a key column — the join is eqNullSafe, so a target
            # row with a NULL first key is a real row, not a non-match
            result = joined.filter(F.col("t.__t").isNotNull()).select(*out_cols)
        if delete_unmatched_source:
            result = joined.filter(~t_only if insert else matched).select(*out_cols)

        self._swap_in(result)
        stats = obs.get
        return {
            "updated": stats["updated"],
            "inserted": stats["inserted"] if insert else 0,
        }
