"""The benchmark's three workloads and their correctness checks.

Each workload is a closed loop with one client: a statement is sent
only after the previous one's rows have reached the client as Arrow
batches. A *pass* is one round of the workload's statements:

- `olap`: every query of OLAP_QUERIES once, in a seeded order, each
  through its registry function, with the session's cache cleared first.
- `pgsql`: every query of PGSQL_QUERIES once, in a seeded order; each
  builds an `Engine` and sends PG SQL text through `Engine.sql`.
- `dml`: one copy-on-write cycle on a writable copy of `lineitem`
  through one long-lived `Engine`: INSERT..SELECT, UPDATE..WHERE and
  DELETE..WHERE, each followed by a read-back aggregate. The seed picks
  the key slice each cycle inserts and the rows it updates; every cycle
  deletes what it inserted, so each pass sees a table of the same size.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass
from typing import Callable

import duckdb
import pandas as pd

from datagen import TABLES

# Pinned by name (not by tag), so retagging the registry cannot change
# what the benchmark measures.
OLAP_QUERIES = (
    "agg_dqa_multi", "fts_match_rank", "tpch_q1_pricing_summary",
    "tpch_q18_large_volume_customer", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume", "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items", "tpch_q9_product_type_profit",
    "window_running_sum", "window_topn_per_group", "events_sessionize",
    "ts_asof_join", "dedup_exact", "dedup_minhash_lsh",
    "dedup_cluster_components", "sim_topk_bruteforce", "text_quality_score",
    "pipeline_training_data_prep",
)

# Every query tagged `dialect` when the benchmark was written.
PGSQL_QUERIES = (
    "pgsql_catalog_introspection", "pgsql_cursor_dynexec_proc",
    "pgsql_sqlbody_function", "pgsql_exception_handler",
    "pgsql_plpgsql_function", "pgsql_setof_table_function",
    "pgsql_create_aggregate", "pgsql_combinefunc_aggregate",
    "pgsql_polymorphic_function", "pgsql_prepared_execute",
    "pgsql_domain_check", "pgsql_composite_roundtrip",
    "pgsql_custom_range_type", "pgsql_q1_text",
    "pgsql_distinct_on_latest_order", "pgsql_merge_upsert",
    "pgsql_network_types", "pgsql_quantified_null", "pgsql_format_compose",
    "pgsql_to_number_pictures", "pgsql_xpath_sql_calls",
    "pgsql_xml_construction", "pgsql_jsonpath_filter",
    "pgsql_json_arrow_props", "pgsql_generate_series_from",
    "pgsql_ilike_concat", "pgsql_date_trunc_interval",
    "pgsql_recursive_series", "pgsql_recursive_referral_chain",
    "pgsql_within_group", "pgsql_string_agg", "pgsql_extract_epoch",
    "pgsql_filter_grouping_sets", "pgsql_regex_match_ops",
    "pgsql_like_tilde_ops", "pgsql_array_ctor_ops",
    "pgsql_nulls_default_order", "pgsql_chained_json_arrows",
    "pgsql_named_window_clause", "pgsql_time_bucket_rollup",
    "pgsql_jsonpath_match", "pgsql_is_distinct_from", "pgsql_similar_to",
    "pgsql_overlaps_predicate", "pgsql_fetch_with_ties",
    "pgsql_keyset_pagination", "pgsql_lateral_topn_text",
    "pgsql_exists_correlated_text", "pgsql_values_join", "pgsql_any_array_dow",
    "pgsql_math_operator_spellings", "pgsql_plpgsql_while_select_into",
    "pgsql_misc_fn_spellings", "pgsql_plpgsql_for_query",
    "pgsql_trim_functions", "pgsql_row_null_semantics",
    "pgsql_jsonb_containment", "pgsql_range_ops_text",
    "pgsql_interval_qualifiers", "srf_lockstep_zip", "pgsql_jsonb_path_vars",
    "srf_regexp_matches_g", "pgsql_interval_out", "pgsql_time_arithmetic",
    "pgsql_geometric_ops", "pgsql_enum_order_semantics",
    "pgsql_jsonb_concat_silent", "pgsql_plpgsql_return_next",
    "pgsql_variadic_function", "pgsql_json_arrow_quoting",
)

# Rows the DML cycle inserts get order keys above this, so the cycle can
# find and remove exactly them again.
INSERTED_KEY = 1_000_000_000
_LINEITEM_COLS = (
    "l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
    "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"
)
READ_BACK = (
    "SELECT l_returnflag, count(*) AS n, "
    "sum(l_quantity::numeric(18,2))::float8 AS qty, "
    "sum(l_tax::numeric(18,2))::float8 AS tax, "
    f"count(*) FILTER (WHERE l_orderkey >= {INSERTED_KEY}) AS n_inserted "
    "FROM lineitem GROUP BY l_returnflag"
)


@dataclass
class Statement:
    name: str
    kind: str  # "read" or "write"
    build: Callable  # () -> DataFrame; the rows are fetched by the caller
    text: str = ""
    in_registry: bool = False


def canonical_rows(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Order-insensitive form of a result: sorted column names, every
    column rendered with pandas `astype(str)`, rows sorted. This is the
    channel the registry's oracles were written for."""
    cols = sorted(pdf.columns)
    rows = sorted(map(tuple, pdf[cols].astype(str).itertuples(index=False, name=None)))
    return cols, rows


def mismatch(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> str | None:
    s_cols, s_rows = canonical_rows(spark_pdf)
    d_cols, d_rows = canonical_rows(duck_pdf)
    if s_cols != d_cols:
        return f"columns differ: engine={s_cols} oracle={d_cols}"
    if len(s_rows) != len(d_rows):
        return f"row count differs: engine={len(s_rows)} oracle={len(d_rows)}"
    for s, d in zip(s_rows, d_rows):
        if s != d:
            return f"value differs: engine={s} oracle={d}"
    return None


def duck_views(raw_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        if os.path.exists(f"{raw_dir}/{name}.parquet"):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{raw_dir}/{name}.parquet')"
            )
    return con


class RegistryWorkload:
    """olap / pgsql: registry queries, checked once per run against the
    registry's DuckDB oracles."""

    clear_cache = True

    def __init__(self, names: tuple[str, ...]) -> None:
        self.names = names

    def tables(self) -> list[str]:
        """The tables the queries' oracles read; only these are staged."""
        from warehouse_pg_spark.queries import REGISTRY

        text = " ".join(REGISTRY[n].oracle or "" for n in self.names)
        return [t for t in TABLES if re.search(rf"\b{t}\b", text)]

    def setup(self, spark, staged_dir: str, raw_dir: str, work: str) -> None:
        from warehouse_pg_spark.queries import REGISTRY

        self.spark = spark
        self.raw_dir = raw_dir
        self.queries = {n: REGISTRY[n] for n in self.names}
        self.staged_dir = staged_dir

    def next_pass(self, rng) -> list[Statement]:
        order = list(self.names)
        rng.shuffle(order)
        return [
            Statement(
                n, "read",
                (lambda q=self.queries[n]: q.fn(self.spark, self.staged_dir)),
                in_registry=True,
            )
            for n in order
        ]

    def check_pass(self, results: list[tuple[Statement, object]]) -> dict[str, str]:
        return {}

    def oracle_check(self, results: dict[str, object]) -> dict[str, str]:
        """name -> error text, for every result that does not match."""
        errors = {}
        con = duck_views(self.raw_dir)
        try:
            for name, tbl in results.items():
                oracle = self.queries[name].oracle
                if oracle is None:
                    continue
                err = mismatch(tbl.to_pandas(), con.execute(oracle).df())
                if err:
                    errors[name] = err
        finally:
            con.close()
        return errors

    def table_dirs(self) -> list[str]:
        return [os.path.join(self.staged_dir, f"{n}.parquet") for n in self.tables()]


class DmlWorkload:
    """dml: copy-on-write cycles, every read-back checked against a
    DuckDB replay of the same statements."""

    clear_cache = False
    names = ("insert", "read_after_insert", "update", "read_after_update",
             "delete", "read_after_delete")

    def tables(self) -> list[str]:
        return ["lineitem"]

    def setup(self, spark, staged_dir: str, raw_dir: str, work: str) -> None:
        from warehouse_pg_spark.engine import Engine

        self.table = os.path.join(work, "dml", "lineitem")
        shutil.copytree(os.path.join(staged_dir, "lineitem.parquet"), self.table)
        self.engine = Engine(spark=spark, warehouse_dir=os.path.join(work, "dml", "warehouse"))
        self.engine.attach_fixtures(staged_dir)
        self.engine.attach_parquet("lineitem", self.table)
        self.duck = duckdb.connect()
        self.duck.execute(
            "CREATE TABLE lineitem AS SELECT * FROM "
            f"read_parquet('{raw_dir}/lineitem.parquet')"
        )

    def next_pass(self, rng) -> list[Statement]:
        k = int(rng.integers(0, 50))
        upto = int(rng.integers(2, 8))
        writes = [
            ("insert",
             f"INSERT INTO lineitem SELECT l_orderkey + {INSERTED_KEY}, "
             f"{_LINEITEM_COLS} FROM lineitem WHERE l_orderkey % 50 = {k}"),
            ("update",
             f"UPDATE lineitem SET l_tax = l_tax + 0.01 "
             f"WHERE l_orderkey >= {INSERTED_KEY} AND l_linenumber <= {upto}"),
            ("delete", f"DELETE FROM lineitem WHERE l_orderkey >= {INSERTED_KEY}"),
        ]
        out = []
        for name, text in writes:
            out.append(Statement(name, "write", (lambda t=text: self.engine.sql(t)), text))
            out.append(Statement(f"read_after_{name}", "read",
                                 (lambda: self.engine.sql(READ_BACK)), READ_BACK))
        return out

    def check_pass(self, results: list[tuple[Statement, object]]) -> dict[str, str]:
        """Replays the pass in DuckDB, in order, and compares every
        read-back; a write that failed in the engine is replayed anyway,
        so one failure does not hide the next statement's result."""
        errors = {}
        for stmt, tbl in results:
            if stmt.kind == "write":
                self.duck.execute(stmt.text)
                continue
            if tbl is None:
                continue
            err = mismatch(tbl.to_pandas(), self.duck.execute(stmt.text).df())
            if err:
                errors[stmt.name] = err
        return errors

    def oracle_check(self, results: dict[str, object]) -> dict[str, str]:
        return {}

    def table_dirs(self) -> list[str]:
        return [self.table]


def make(workload: str):
    if workload == "olap":
        return RegistryWorkload(OLAP_QUERIES)
    if workload == "pgsql":
        return RegistryWorkload(PGSQL_QUERIES)
    if workload == "dml":
        return DmlWorkload()
    raise SystemExit(f"unknown workload {workload!r}")
