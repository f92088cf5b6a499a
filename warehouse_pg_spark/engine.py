"""Engine facade: the user-facing API tying together session, catalog,
dialect shim, function registry, DML, and materialized views.

The WHPG surface (SURVEY §3.1 query lifecycle) collapses to:

    eng = Engine()                       # postmaster + GUCs
    eng.attach_fixtures(sf_dir)          # catalog
    eng.sql("SELECT ...")                # parse/plan/execute (Catalyst)
    eng.create_function(...)             # CREATE FUNCTION (§2.11)
    eng.create_table / insert / update / delete   # DDL + ModifyTable
    eng.create_materialized_view / refresh        # matview.c analogue
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession

from warehouse_pg_spark import catalog, sql_dialect
from warehouse_pg_spark.catalog import Catalog
from warehouse_pg_spark.functions.pg import register_pg_functions
from warehouse_pg_spark.operators.dml import ParquetTable
from warehouse_pg_spark.session import SessionConfig, get_spark

_DISTRIBUTED_BY_RE = re.compile(
    r"\s+DISTRIBUTED\s+BY\s*\(([^)]*)\)|\s+DISTRIBUTED\s+(RANDOMLY|REPLICATED)",
    re.IGNORECASE,
)
_PARTITION_RANGE_RE = re.compile(
    r"\s+PARTITION\s+BY\s+RANGE\s*\(\s*(\w+)\s*\)\s*"
    r"\(((?:[^()]|\([^()]*\))*)\)",
    re.IGNORECASE,
)

_INSERT_RE = re.compile(r"^INSERT\s+INTO\s+([\w.]+)\s+(.*)$", re.IGNORECASE | re.DOTALL)
_MULTI_SET_RE = re.compile(
    r"\bSET\s*\(([^)]*)\)\s*=\s*\(((?:[^()]|\([^()]*\))*)\)",
    re.IGNORECASE,
)
_UPDATE_RE = re.compile(
    r"^UPDATE\s+([\w.]+)\s+SET\s+(.*?)(?:\s+WHERE\s+(.*))?$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_FROM_RE = re.compile(
    r"^UPDATE\s+([\w.]+)\s+SET\s+(.*?)\s+FROM\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?"
    r"\s+WHERE\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    r"^DELETE\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.*))?$", re.IGNORECASE | re.DOTALL
)
_DELETE_USING_RE = re.compile(
    r"^DELETE\s+FROM\s+([\w.]+)\s+USING\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?"
    r"\s+WHERE\s+(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_SUBQUERY_RE = re.compile(r"\(\s*SELECT\b", re.IGNORECASE)
_CREATE_INDEX_RE = re.compile(
    r"^CREATE\s+(?:UNIQUE\s+)?INDEX\s+(?:CONCURRENTLY\s+)?(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(\w+)?\s*ON\s+([\w.]+)\s*(?:USING\s+\w+\s*)?\(([^)]*)\)\s*$",
    re.IGNORECASE,
)
_DROP_INDEX_RE = re.compile(
    r"^DROP\s+INDEX\s+(?:CONCURRENTLY\s+)?(?:IF\s+EXISTS\s+)?([\w.]+)\s*$",
    re.IGNORECASE,
)
_TXN_RE = re.compile(
    r"^(BEGIN(?:\s+(?:WORK|TRANSACTION))?|START\s+TRANSACTION|COMMIT(?:\s+WORK)?|END(?:\s+TRANSACTION)?)\s*$",
    re.IGNORECASE,
)
_ROLLBACK_RE = re.compile(r"^ROLLBACK\b", re.IGNORECASE)
_NOOP_DDL_RE = re.compile(
    r"^(COMMENT\s+ON\b|GRANT\b|REVOKE\b|ALTER\s+TABLE\s+[\w.]+\s+OWNER\s+TO\b)",
    re.IGNORECASE,
)
# privilege kinds GRANT ALL expands to (parsenodes.h ACL_ALL_RIGHTS)
_ALL_PRIVS = ("SELECT", "INSERT", "UPDATE", "DELETE", "TRUNCATE",
              "REFERENCES", "TRIGGER", "USAGE", "EXECUTE", "CREATE",
              "CONNECT", "TEMPORARY")
# only the kinds whose 2-/3-arg shapes are (obj, priv) / (user, obj,
# priv) fold; has_column/sequence/function_privilege carry extra
# validation (wrong relkind, per-kind privilege sets) and stay loud
_HAS_PRIV_RE = re.compile(
    r"\bhas_(table|schema|database)_privilege\s*\(\s*"
    r"'([^']*)'\s*,\s*'([^']*)'\s*(?:,\s*'([^']*)'\s*)?\)",
    re.IGNORECASE,
)
# acl.c string_to_privilege: valid names per object kind
_PRIV_NAMES = {
    "table": {"SELECT", "INSERT", "UPDATE", "DELETE", "TRUNCATE",
              "REFERENCES", "TRIGGER", "MAINTAIN", "ALL"},
    "schema": {"CREATE", "USAGE", "ALL"},
    "database": {"CREATE", "CONNECT", "TEMPORARY", "TEMP", "ALL"},
}
_COPY_TO_RE = re.compile(
    r"^COPY\s+(?:\((.+)\)|([\w.]+))\s+TO\s+'([^']+)'"
    r"\s*(?:WITH\s*)?(?:\(([^)]*)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COPY_FROM_RE = re.compile(
    r"^COPY\s+([\w.]+)\s+FROM\s+'([^']+)'"
    r"\s*(?:WITH\s*)?(?:\(([^)]*)\))?\s*$",
    re.IGNORECASE,
)
_CTAS_RE = re.compile(
    r"^CREATE\s+TABLE\s+([\w.]+)\s+AS\s+(SELECT\b.*)$", re.IGNORECASE | re.DOTALL
)
_SELECT_INTO_RE = re.compile(
    r"^(SELECT\b.*?)\sINTO\s+(?:(?:TEMPORARY|TEMP|UNLOGGED)\s+)?"
    r"(?:TABLE\s+)?([\w.]+)\s*(FROM\s.*)?$", re.IGNORECASE | re.DOTALL
)
_ON_CONFLICT_RE = re.compile(
    r"\sON\s+CONFLICT\s*\(([^)]*)\)\s*DO\s+(NOTHING|UPDATE)\s*(?:SET\s+(.*))?$",
    re.IGNORECASE | re.DOTALL,
)
_RETURNING_RE = re.compile(r"\sRETURNING\s+(.*)$", re.IGNORECASE | re.DOTALL)
_EXPLAIN_ANALYZE_RE = re.compile(
    r"^EXPLAIN\s+ANALYZE\s+(.*)$", re.IGNORECASE | re.DOTALL
)
_PREPARE_RE = re.compile(
    r"^PREPARE\s+(\w+)\s*(?:\(([^)]*)\))?\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_EXECUTE_STMT_RE = re.compile(
    r"^EXECUTE\s+(\w+)\s*(?:\((.*)\))?\s*$", re.IGNORECASE | re.DOTALL
)
_DEALLOCATE_RE = re.compile(
    r"^DEALLOCATE\s+(?:PREPARE\s+)?(\w+|ALL)\s*$", re.IGNORECASE
)
# well-known PG GUC defaults (guc_tables.c) answered by SHOW /
from warehouse_pg_spark.gucs import _GUC_DEFAULTS  # noqa: E402

_RESET_RE = re.compile(r"^RESET\s+(ALL|[\w.]+(?:\s+\w+)?)\s*$", re.IGNORECASE)
_CREATE_MV_RE = re.compile(
    r"^CREATE\s+MATERIALIZED\s+VIEW\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s+AS\s+(.+)$",
    re.IGNORECASE | re.DOTALL,
)
_REFRESH_MV_RE = re.compile(
    r"^REFRESH\s+MATERIALIZED\s+VIEW\s+(?:CONCURRENTLY\s+)?([\w.]+)\s*$",
    re.IGNORECASE,
)
_DROP_MV_RE = re.compile(
    r"^DROP\s+MATERIALIZED\s+VIEW\s+(IF\s+EXISTS\s+)?([\w.]+)\s*$",
    re.IGNORECASE,
)
_CLUSTER_RE = re.compile(
    r"^CLUSTER(?:\s+VERBOSE)?(?:\s+([\w.]+)(?:\s+USING\s+\w+)?)?\s*$",
    re.IGNORECASE,
)
_REINDEX_RE = re.compile(
    r"^REINDEX\s+(?:INDEX|TABLE|SCHEMA|DATABASE|SYSTEM)\b", re.IGNORECASE
)
_DISCARD_RE = re.compile(r"^DISCARD\s+(ALL|PLANS|SEQUENCES|TEMP|TEMPORARY)\s*$", re.IGNORECASE)
_VACUUM_RE = re.compile(
    r"^VACUUM(?:\s+(FULL|FREEZE|ANALYZE|VERBOSE))*(?:\s+([\w.]+))?\s*$",
    re.IGNORECASE,
)
_ANALYZE_RE = re.compile(
    r"^ANALYZE(?:\s+VERBOSE)?(?:\s+([\w.]+)(?:\s*\(([^)]*)\))?)?\s*$",
    re.IGNORECASE,
)
_CREATE_FUNC_HEAD_RE = re.compile(
    r"^CREATE\s+(?:OR\s+REPLACE\s+)?FUNCTION\s+"
    r'([\w.]+|"[^"]+"|[\w.]+\."[^"]+")\s*\(',
    re.IGNORECASE,
)
_RETURNS_CLAUSE_RE = re.compile(
    r"^\s*RETURNS\s+((?:SETOF\s+)?\w+(?:\s+precision|\s+varying)?"
    r"(?:\(\s*\d+(?:\s*,\s*\d+)?\s*\))?(?:\s*\[\s*\])*)\s*(.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_FUNC_RE = re.compile(
    r"^DROP\s+FUNCTION\s+(IF\s+EXISTS\s+)?([\w.]+)\s*(?:\([^)]*\))?\s*$",
    re.IGNORECASE,
)
_CALL_RE = re.compile(
    r"^\s*CALL\s+([\w.]+)\s*\((.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _lower_procedure_ddl(text: str) -> str:
    """CREATE/DROP PROCEDURE (functioncmds.c, PG 11 procedures) lower
    onto the function machinery: a procedure is a RETURNS VOID
    function here (transaction control inside bodies stays out of
    scope — such bodies reject downstream, loudly)."""
    m = re.match(
        r"(?is)^(\s*CREATE\s+(?:OR\s+REPLACE\s+)?)PROCEDURE\b(.*)$",
        text)
    if m:
        rest = m.group(2)
        pm = re.match(r'(?s)^(\s*[\w."]+\s*)\(', rest)
        if pm:
            depth, i = 1, pm.end()
            while i < len(rest) and depth:
                if rest[i] == "(":
                    depth += 1
                elif rest[i] == ")":
                    depth -= 1
                i += 1
            return (f"{m.group(1)}FUNCTION{rest[:i]} RETURNS VOID"
                    f"{rest[i:]}")
    dm = re.match(r"(?is)^\s*DROP\s+PROCEDURE\b(.*)$", text)
    if dm:
        return f"DROP FUNCTION{dm.group(1)}"
    return text
_SET_GUC_RE = re.compile(
    r"^SET\s+(?:SESSION\s+|LOCAL\s+)?([\w.]+)\s*(?:=|\bTO\b)\s*(.+)$",
    re.IGNORECASE,
)
_SHOW_GUC_RE = re.compile(
    r"^SHOW\s+(TIME\s+ZONE|[\w.]+|ALL)\s*$", re.IGNORECASE
)
_SET_TIME_ZONE_RE = re.compile(
    r"^SET\s+(?:SESSION\s+|LOCAL\s+)?TIME\s+ZONE\s+(.+)$", re.IGNORECASE
)
_TRUNCATE_RE = re.compile(
    r"^TRUNCATE\s+(?:TABLE\s+)?(?:ONLY\s+)?([\w.]+(?:\s*,\s*[\w.]+)*)"
    r"(?:\s+(?:RESTART|CONTINUE)\s+IDENTITY)?(?:\s+(?:CASCADE|RESTRICT))?\s*$",
    re.IGNORECASE,
)
_TEMP_CTAS_RE = re.compile(
    r"^CREATE\s+(?:TEMP|TEMPORARY)\s+TABLE\s+([\w.]+)\s+AS\s*"
    r"\(?\s*((?:SELECT|WITH|VALUES)\b.*)$",
    re.IGNORECASE | re.DOTALL,
)
_CTAS_DIST_TAIL_RE = re.compile(
    r"\s+DISTRIBUTED\s+(?:BY\s*\([^)]*\)|RANDOMLY|REPLICATED)\s*;?\s*$",
    re.IGNORECASE,
)


def _paren_balance(text: str) -> int:
    """Net ( vs ) count outside single-quoted spans."""
    bal, in_q = 0, False
    for ch in text:
        if ch == "'":
            in_q = not in_q
        elif not in_q:
            bal += ch == "(" and 1 or (ch == ")" and -1 or 0)
    return bal


def _toplevel_from(text: str) -> bool:
    """True when a statement has a FROM clause at paren depth 0 —
    `extract(epoch FROM x)` / substring(... FROM ...) sit inside
    parens and a literal's FROM sits inside quotes, so neither
    counts."""
    depth, in_q = 0, False
    for m in re.finditer(r"'|\(|\)|\bFROM\b", text, re.IGNORECASE):
        t = m.group(0)
        if t == "'":
            in_q = not in_q
        elif in_q:
            continue
        elif t == "(":
            depth += 1
        elif t == ")":
            depth -= 1
        elif depth == 0:
            return True
    return False
_CATALOG_VIEW_RE = re.compile(
    r"\b(pg_catalog\.pg_tables|pg_tables|information_schema\.columns)\b",
    re.IGNORECASE,
)
_PG_STAT_RE = re.compile(r"\bpg_stat_user_tables\b", re.IGNORECASE)


def _split_exprs(s: str) -> list[str]:
    """Split an expression list on top-level commas (paren/quote aware)."""
    parts, depth, buf, quote = [], 0, [], None
    for ch in s:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
            continue
        buf.append(ch)
    parts.append("".join(buf).strip())
    return [p for p in parts if p]


def _split_assignments(s: str) -> list[tuple[str, str]]:
    """Split `a = e1, b = e2` on top-level commas (paren/quote aware)."""
    parts, depth, buf, quote = [], 0, [], None
    for ch in s:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
            continue
        buf.append(ch)
    parts.append("".join(buf))
    out = []
    for p in parts:
        col, _, expr = p.partition("=")
        out.append((col.strip(), expr.strip()))
    return out


@dataclass
class MaterializedView:
    name: str
    sql: str
    path: str


from warehouse_pg_spark.engine_catalog import CatalogViewsMixin  # noqa: E402
from warehouse_pg_spark.engine_fn_ddl import FunctionDDLMixin  # noqa: E402
from warehouse_pg_spark.engine_maint import MaintenanceMixin
from warehouse_pg_spark.engine_proc import ProcedureMixin
from warehouse_pg_spark.engine_seq import SequenceMixin  # noqa: E402


class Engine(FunctionDDLMixin, MaintenanceMixin, SequenceMixin,
             ProcedureMixin, CatalogViewsMixin):
    """PySpark-native warehouse engine with a PG-flavored front-end."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        config: SessionConfig | None = None,
        warehouse_dir: str | None = None,
    ):
        self.spark = spark or get_spark(config)
        self.catalog = Catalog(self.spark)
        self.warehouse_dir = warehouse_dir or os.path.join(
            os.getcwd(), "spark-warehouse-data"
        )
        self._matviews: dict[str, MaterializedView] = {}
        # sequence name -> {"next": next value to hand out, "start": origin}.
        # Like GP, sequence state lives on the coordinator (reference
        # commands/sequence.c; GP routes segment nextval calls to the
        # master's seqserver) — here: driver-side, since executors never
        # call nextval directly (bulk assignment goes through
        # assign_sequence_ids' block allocation instead).
        self._sequences: dict[str, dict[str, int]] = {}
        # table -> list of column tuples from advisory CREATE INDEX
        # statements (candidate Z-order / sort keys).
        self._index_hints: dict[str, list[tuple[str, ...]]] = {}
        # PREPARE name AS <body with $n params> (commands/prepare.c) —
        # (raw body, declared param count or None); EXECUTE substitutes
        # and re-enters sql().
        self._prepared: dict[str, tuple[str, int | None]] = {}
        # session GUCs (SET/SHOW, guc.c): stored verbatim; timezone maps
        # onto the live Spark session conf.
        # a few well-known PG GUCs pre-seeded so current_setting()/SHOW
        # answer for them (guc_tables.c defaults); everything else is
        # loud until SET, matching PG's unrecognized-parameter error.
        # RESET [ALL] restores these defaults, never an empty table.
        self._gucs: dict[str, str] = dict(_GUC_DEFAULTS)
        # ACL ledger (aclchk.c): GRANT/REVOKE record (who, object,
        # priv) revocations; has_*_privilege() folds from it.
        # All-granted at start — the session user owns everything.
        self._acl_revoked: set[tuple[str, str, str]] = set()
        # role bookkeeping (commands/user.c): names for the ACL
        # ledger / SET ROLE, with PG's existence errors
        self._roles: set[str] = set()
        # snapshot for SET TIME ZONE DEFAULT/LOCAL (gram.y zone_value
        # resets to the session's startup default)
        self._default_timezone = self.spark.conf.get(
            "spark.sql.session.timeZone"
        )
        # CREATE DOMAIN / composite CREATE TYPE / CREATE TYPE AS ENUM
        # (commands/typecmds.c) — session registry + plan-time rewriter
        from warehouse_pg_spark.user_types import UserTypes

        self._user_types = UserTypes()
        # set-returning SQL functions registered as Spark SQL table
        # functions: name -> result column names (for the PG
        # SRF-in-select-list lowering)
        self._table_functions: dict[str, list[str]] = {}
        # VARIADIC user functions: name -> 0-based index of the
        # variadic (array-typed) parameter; call sites pack spread
        # arguments / strip the VARIADIC keyword before Spark sees them
        self._variadic_functions: dict[str, int] = {}
        # CREATE AGGREGATE definitions (aggregatecmds.c): name ->
        # {sfunc, stype, finalfunc, initcond}; call sites lower to a
        # fold over collect_list (see _substitute_aggregate_calls)
        self._sql_aggregates: dict[str, dict[str, str | None]] = {}
        # scalar SQL-function bodies kept for manual inlining where
        # Spark's own SQL-UDF inliner can't go (inside HOF lambdas in
        # aggregate position — the CREATE AGGREGATE fold needs it)
        self._scalar_fn_exprs: dict[str, tuple[list[str], str]] = {}
        # polymorphic SQL-function templates (anyarray/anyelement):
        # name -> {params, body, setof}; calls inline by substitution
        self._poly_functions: dict[str, dict] = {}
        # user functions that shadow Spark builtins (namespace.c:
        # search_path puts user schemas before pg_catalog, so the user
        # "decode" wins) — registered under a prefix, call sites with
        # a matching arity rewrite to it
        self._shadowed_fns: dict[str, int] = {}
        # RETURNS VOID functions whose bodies are DML statements:
        # calling one executes the statements (functions.c SQL-function
        # execution) and yields the void (NULL) result
        self._void_procs: dict[str, tuple[list[str], list[str]]] = {}
        register_pg_functions(self.spark)

    # ---------------------------------------------------------------- query
    def sql(self, text: str, **named_args) -> DataFrame:
        """Execute SQL through the PG→Spark dialect shim."""
        if re.search(r"(?i)\bPROCEDURE\b", text):
            text = _lower_procedure_ddl(text)
        cm_ = _CALL_RE.match(text)
        if cm_ is not None:
            # CALL proc(args) (functioncmds.c ExecuteCallStmt): the
            # void-function invocation path runs the stored body
            return self.sql(f"SELECT {cm_.group(1)}({cm_.group(2)})")
        seq = self._maybe_sequence(text)
        if seq is not None:
            return seq
        sess = self._maybe_session_stmt(text)
        if sess is not None:
            return sess
        # pg_catalog views must exist before function DDL analyzes a
        # body that scans them (Spark validates SQL-UDF bodies at
        # CREATE time); the hook is a no-op otherwise
        text = self._maybe_pg_catalog(text)
        fn = self._maybe_create_function(text)
        if fn is not None:
            return fn
        agg = self._maybe_create_aggregate(text)
        if agg is not None:
            return agg
        if self._user_types.maybe_ddl(text):
            return self._tag(0)
        self._maybe_register_rowtype(text)
        vp = self._maybe_call_void_proc(text)
        if vp is not None:
            return vp
        text = self._substitute_interpreted_calls(text)
        text = self._substitute_shadowed_calls(text)
        text = self._substitute_aggregate_calls(text)
        text = self._substitute_polymorphic_calls(text)
        text = self._lower_typed_table(text)
        text = self._user_types.rewrite(text)
        text = self._lower_srf_select(text)
        text = self._substitute_variadic_calls(text)
        ea = _EXPLAIN_ANALYZE_RE.match(text.strip().rstrip(";"))
        if ea:
            return self._explain_analyze(ea.group(1))
        text = self._substitute_sequence_calls(text)
        text = self._substitute_setting_calls(text)
        text = self._substitute_privilege_calls(text)
        if _PG_STAT_RE.search(text):
            # pg_stat_user_tables (system_views.sql; the DBA's row-count
            # dashboard): relname + n_live_tup from the engine's
            # metrics() introspection. Gated on its own regex because it
            # runs a count per registered table.
            import pyspark.sql.functions as F

            self.metrics().select(
                F.lit("public").alias("schemaname"),
                F.col("table_name").alias("relname"),
                F.col("n_rows").alias("n_live_tup"),
                F.col("n_bytes"),
                F.col("n_files"),
            ).createOrReplaceTempView("pg_stat_user_tables")
        text = self._maybe_pg_catalog(text)
        if _CATALOG_VIEW_RE.search(text):
            self._ensure_catalog_views()
            text = re.sub(
                r"\bpg_catalog\.pg_tables\b", "pg_tables", text, flags=re.IGNORECASE
            )
            text = re.sub(
                r"\binformation_schema\.columns\b",
                "information_schema_columns",
                text,
                flags=re.IGNORECASE,
            )
        lowered = sql_dialect.rewrite(text)
        ddl = self._maybe_ddl(lowered)
        if ddl is not None:
            return ddl
        dml = self._maybe_dml(lowered)
        if dml is not None:
            return dml
        from warehouse_pg_spark.functions.interval_out import present_intervals

        if named_args:
            return present_intervals(self.spark.sql(lowered, args=named_args))
        # Calendar/YM interval result columns render as PG interval text
        # (interval_out) — PySpark cannot collect() those types at all
        return present_intervals(self._sql_autoschema(lowered))

    def _sql_autoschema(self, lowered: str) -> DataFrame:
        """spark.sql with on-demand namespace creation: PG contexts
        CREATE SCHEMA in sessions the replay doesn't see; a Spark
        namespace is a directory, so creating it at the first
        qualified CREATE is the catalog-equivalent of that DDL."""
        try:
            return self.spark.sql(lowered)
        except Exception as e:  # noqa: BLE001
            if not re.match(r"(?is)\s*CREATE\s", lowered):
                raise
            sm = re.search(
                r"The schema `spark_catalog`\.`(\w+)` cannot be found",
                str(e))
            if sm is not None:
                self.spark.sql(
                    f"CREATE NAMESPACE IF NOT EXISTS {sm.group(1)}")
                return self.spark.sql(lowered)
            # table-rowtype column (parse_type.c: a table name is a
            # type): substitute the table's STRUCT and retry once
            um = re.search(r'Unsupported data type "(\w+)"', str(e))
            if um is not None:
                key = um.group(1).lower()
                tcols = self._table_rowtype_cols(key)
                comp = self._user_types.composites.get(key)
                if tcols is None and comp is not None:
                    tcols = [(f, self._decl_type(t))
                             for f, t in comp.fields]
                if tcols is not None:
                    struct = "STRUCT<" + ", ".join(
                        f"{n}: {ty}" for n, ty in tcols) + ">"
                    fixed = re.sub(
                        rf"(?i)\b{um.group(1)}\b", struct, lowered)
                    return self.spark.sql(fixed)
            # LOCATION_ALREADY_EXISTS with no catalog entry: a stale
            # managed-table directory from a dropped table of the
            # same name (Spark's DROP can leave files when the
            # catalog entry was removed through a different path).
            # Only a path inside a *-warehouse dir is reclaimed —
            # user data locations stay untouched.
            lm = re.search(r"location 'file:([^']+)'", str(e)) if (
                "LOCATION_ALREADY_EXISTS" in str(e)) else None
            if lm is not None:
                import shutil

                p = os.path.abspath(lm.group(1))
                parent = os.path.basename(os.path.dirname(p))
                if parent.endswith("warehouse") or (
                        self.warehouse_dir and p.startswith(
                            os.path.abspath(self.warehouse_dir))):
                    shutil.rmtree(p, ignore_errors=True)
                    return self.spark.sql(lowered)
            raise

    def _lower_srf_select(self, text: str) -> str:
        """PG SRF-in-target-list over a registered set-returning SQL
        function: `SELECT f(args) [AS alias]` (sole target, no FROM)
        becomes `SELECT col AS alias FROM f(args)` — the same
        ProjectSet→FunctionScan flattening the planner does
        (src/backend/optimizer/util/clauses.c). Only the sole-target
        FROM-less shape lowers; anything else passes through to
        Spark's native TVF-in-FROM support."""
        if not self._table_functions:
            return text
        # `SELECT (f(args)).*` (parse_target.c ExpandRowReference over
        # a composite-returning call): every result column expands
        m = re.match(
            r"(?is)^\s*SELECT\s+\(\s*(\w+)\s*\((.*)\)\s*\)\s*\.\s*\*"
            r"\s*;?\s*$",
            text,
        )
        if (
            m
            and m.group(1).lower() in self._table_functions
            and m.group(2).count("(") == m.group(2).count(")")
        ):
            return f"SELECT * FROM {m.group(1)}({m.group(2)})"
        m = re.match(
            r"(?is)^\s*SELECT\s+(\w+)\s*\((.*)\)\s*"
            r"(?:AS\s+(\w+))?\s*;?\s*$",
            text,
        )
        if not m or m.group(1).lower() not in self._table_functions:
            return text
        # args must be balanced (the .* above is greedy past nesting)
        args = m.group(2)
        if args.count("(") != args.count(")"):
            return text
        cols = self._table_functions[m.group(1).lower()]
        if len(cols) == 1:
            out = f"{cols[0]} AS {m.group(3) or cols[0]}"
        else:
            # composite-valued SRF call in a target list yields one
            # record column (PG prints a row value)
            inner = ", ".join(f"'{c}', {c}" for c in cols)
            out = (
                f"named_struct({inner}) AS "
                f"{m.group(3) or m.group(1)}"
            )
        return f"SELECT {out} FROM {m.group(1)}({args})"

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    def explain(self, text: str, mode: str = "formatted") -> str:
        """EXPLAIN (commands/explain.c; psql's main introspection UX):
        return the physical plan for a PG-dialect SQL string without
        executing it. mode: simple|extended|codegen|cost|formatted."""
        df = self.spark.sql(sql_dialect.rewrite(text))
        return df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                mode
            )
        )

    def _explain_analyze(self, body: str) -> DataFrame:
        """PG EXPLAIN ANALYZE (explain.c ExplainOnePlan): execute the
        query, then return the plan annotated with actual row count and
        wall time, one text row per line (PG's `QUERY PLAN` result
        shape). Uses the AQE-final plan — the distributed analogue of
        PG's instrumented actual plan."""
        import time

        df = self.spark.sql(sql_dialect.rewrite(body))
        t0 = time.perf_counter()
        n_rows = df.count()
        elapsed_ms = (time.perf_counter() - t0) * 1000.0
        plan = df._jdf.queryExecution().explainString(
            self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        lines = plan.rstrip().splitlines() + [
            f"Actual Rows: {n_rows}",
            f"Execution Time: {elapsed_ms:.3f} ms",
        ]
        return self.spark.createDataFrame(
            [(ln,) for ln in lines], "`QUERY PLAN` string"
        )

    # --------------------------------------------------- CREATE FUNCTION
    def _maybe_create_function(self, text: str) -> DataFrame | None:
        """SQL-text CREATE FUNCTION (commands/functioncmds.c;
        pl/plpgsql for LANGUAGE plpgsql bodies). Runs BEFORE the dialect
        rewrite so dollar-quoted bodies survive intact; the compiled
        expression is then itself dialect-rewritten, so PG-isms inside
        the body (::casts, ||, SIMILAR TO, ...) lower normally.

        Both LANGUAGE sql and LANGUAGE plpgsql register a Spark
        TEMPORARY SQL FUNCTION whose body is ONE Catalyst expression —
        calls inline into whole-stage codegen with no Python boundary.
        plpgsql bodies are compiled (plpgsql.py), not interpreted:
        assignments become substitutions, IF becomes CASE, constant
        FOR loops unroll. STRICT / RETURNS NULL ON NULL INPUT wraps the
        expression in a null-gate, matching fmgr's strict-call
        short-circuit."""
        s = text.strip().rstrip(";").strip()
        m = _DROP_FUNC_RE.match(s)
        if m:
            fname = m.group(2).split(".")[-1]
            self.spark.sql(
                f"DROP TEMPORARY FUNCTION IF EXISTS {fname}"
            )
            self._table_functions.pop(fname.lower(), None)
            self._variadic_functions.pop(fname.lower(), None)
            return self._tag(0)
        m = _CREATE_FUNC_HEAD_RE.match(s)
        if m is None:
            return None
        from warehouse_pg_spark import sql_dialect
        from warehouse_pg_spark.plpgsql import compile_plpgsql

        map_decl_type = self._decl_type
        name = m.group(1).split(".")[-1].strip('"')
        # arg list ends at the MATCHING close paren (types like
        # numeric(10,2) nest)
        depth, i, quote = 1, m.end(), None
        while i < len(s) and depth:
            ch = s[i]
            if quote:
                if ch == quote:
                    quote = None
            elif ch == "'":
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            i += 1
        if depth:
            raise ValueError("CREATE FUNCTION: unbalanced parameter list")
        rawargs = s[m.end(): i - 1]
        rm = _RETURNS_CLAUSE_RE.match(s[i:])
        if rm is None:
            # OUT-parameter functions may omit RETURNS — PG infers a
            # record of the OUT columns (functioncmds.c)
            if not re.search(
                r"(?i)(?:^|,)\s*(?:(?:IN)?OUT\s+\w+"
                r"|\w+\s+(?:IN)?OUT\s+\w+)", rawargs
            ):
                raise NotImplementedError(
                    "CREATE FUNCTION requires an explicit RETURNS type"
                )
            rettype, tail = "record", s[i:]
        else:
            rettype, tail = rm.group(1).strip(), rm.group(2)
        if rettype.lower() in ("trigger", "event_trigger"):
            # trigger functions (trigger.c) are never directly
            # callable — the DDL succeeds and registers nothing (the
            # engine has no trigger execution surface; README)
            return self._tag(0)
        if re.search(
            r"(?i)\bany(?:array|element|nonarray|enum|range"
            r"|compatible(?:array|nonarray)?)\b",
            rawargs + " " + rettype,
        ):
            return self._register_polymorphic(
                name, rawargs, rettype, tail
            )
        # RETURNS SETOF <type> / RETURNS TABLE (cols): set-returning
        # SQL functions (functioncmds.c; PG treats RETURNS TABLE as
        # SETOF record with OUT columns). Spark-first lowering: a
        # native Spark SQL *table function* (CREATE TEMPORARY FUNCTION
        # ... RETURNS TABLE ... RETURN <query>) — calls in FROM plan
        # as an inline subquery, fully Catalyst-optimized.
        setof_m = re.match(r"(?is)^SETOF\s+(.+)$", rettype)
        table_cols_raw: str | None = None
        if rettype.upper() == "TABLE":
            tm = re.match(r"(?s)\s*\(", tail)
            if tm:
                depth2, j = 1, tm.end()
                while j < len(tail) and depth2:
                    if tail[j] == "(":
                        depth2 += 1
                    elif tail[j] == ")":
                        depth2 -= 1
                    j += 1
                table_cols_raw = tail[tm.end(): j - 1]
                tail = tail[j:]
        params: list[tuple[str, str]] = []
        out_params: list[tuple[str, str]] = []
        # multiword type spellings that make a name-less parameter
        # (functioncmds.c: parameter names are optional — $n refers)
        _UNNAMED_MULTI = {
            "double precision", "character varying", "time zone",
            "timestamp with time zone", "timestamp without time zone",
            "time with time zone", "time without time zone",
        }
        defaults: dict[str, str] = {}
        variadic_at: int | None = None
        for i, a in enumerate(
            (x.strip() for x in _split_exprs(rawargs) if x.strip()),
            start=1,
        ):
            dm = re.match(
                r"(?is)^(.*?)\s+(?:DEFAULT\s+|=\s*)(.+)$", a
            )
            default_expr: str | None = None
            if dm and not re.search(r"(?i)\bDEFAULT\b|=",
                                    dm.group(1)):
                # `b int DEFAULT 1` / `b int = 2` (functioncmds.c):
                # Spark's SQL UDFs take DEFAULT natively. Keyed by the
                # RESOLVED parameter name after the loop body runs —
                # `IN b int DEFAULT 1` and unnamed `int DEFAULT 1`
                # both carry their default.
                a = dm.group(1).strip()
                default_expr = sql_dialect.rewrite(dm.group(2).strip())
            toks = a.split()
            # gram.y func_arg also allows param_name BEFORE the mode
            # (`a inout int`, `a variadic int[]`): normalize to
            # mode-first so one path handles both spellings
            if len(toks) >= 3 and toks[0].upper() not in (
                "IN", "OUT", "INOUT", "VARIADIC"
            ) and toks[1].upper() in ("IN", "OUT", "INOUT", "VARIADIC"):
                toks = [toks[1], toks[0]] + toks[2:]
            if toks[0].upper() in ("IN", "OUT", "INOUT", "VARIADIC"):
                if toks[0].upper() == "OUT":
                    # OUT parameters ARE the result shape
                    # (functioncmds.c: they define a record return) —
                    # collected as output columns, not arguments
                    toks = toks[1:]

                    def _out_type(t: str) -> str:
                        # the OUT-record shape is a Spark table schema
                        # — text-modeled families collapse to STRING,
                        # real/decimal spell concretely (typemap
                        # map_col_type), user types resolve first
                        from warehouse_pg_spark.dialect.typemap import (
                            map_col_type,
                        )

                        ut = self._decl_type(t)
                        return ut if ut != map_decl_type(t) \
                            else map_col_type(t)

                    if len(toks) >= 2:
                        out_params.append(
                            (toks[0], _out_type(" ".join(toks[1:])))
                        )
                    else:
                        out_params.append(
                            (f"column{len(out_params) + 1}",
                             _out_type(toks[0]))
                        )
                    continue
                if toks[0].upper() == "VARIADIC":
                    # functioncmds.c variadic: the parameter IS the
                    # declared array type; callers' spread arguments
                    # are packed by _substitute_variadic_calls
                    variadic_at = len(params)
                elif toks[0].upper() == "INOUT":
                    # INOUT: an argument AND a result column
                    # (functioncmds.c: both lists)
                    tname = (toks[1] if len(toks) >= 3
                             else f"column{len(out_params) + 1}")
                    ttyp = " ".join(toks[2:] if len(toks) >= 3
                                    else toks[1:])
                    out_params.append((tname, map_decl_type(ttyp)))
                elif toks[0].upper() != "IN":
                    raise NotImplementedError(
                        f"{toks[0].upper()} parameters are not supported"
                    )
                toks = toks[1:]
            joined = " ".join(toks).lower()
            if len(toks) == 1 or joined in _UNNAMED_MULTI or (
                len(toks) == 2 and toks[1].lower() in ("precision",
                                                       "varying")
            ):
                # unnamed parameter: referenced as $n in the body
                params.append((f"__p{i}", map_decl_type(joined)))
            else:
                params.append(
                    (toks[0], map_decl_type(" ".join(toks[1:])))
                )
            if default_expr is not None:
                defaults[params[-1][0]] = default_expr
        lang_m = re.search(r"\bLANGUAGE\s+'?(\w+)'?", tail, re.IGNORECASE)
        lang = (lang_m.group(1) if lang_m else "sql").lower()
        strict = bool(
            re.search(
                r"\bSTRICT\b|\bRETURNS\s+NULL\s+ON\s+NULL\s+INPUT\b",
                tail,
                re.IGNORECASE,
            )
        )
        # NB: the tag group uses an empty alternative, not `?` — a
        # Python backref to a non-participating group never matches,
        # which would silently skip plain $$ bodies.
        body_m = re.search(
            r"\$([A-Za-z_]\w*|)\$(.*)\$\1\$", tail, re.DOTALL
        ) or re.search(r"\bAS\s+('(?:[^']|'')*')", tail, re.IGNORECASE | re.DOTALL)
        ret_spark = (
            None if (setof_m or table_cols_raw is not None)
            else map_decl_type(rettype)
        )
        fn_config: dict[str, str] = {}
        if body_m:
            body = body_m.group(2 if body_m.re.groups == 2 else 1)
            if body.startswith("'"):  # AS '...' spelling
                body = body[1:-1].replace("''", "'")
            # CREATE FUNCTION ... SET guc = value (functioncmds.c
            # proconfig): an invalid value poisons every CALL — with
            # check_function_bodies off PG defers the error to call
            # time (guc.out func_with_bad_set)
            opts_tail = tail[:body_m.start()] + tail[body_m.end():]
            for sm in re.finditer(
                    r"(?i)\bSET\s+([A-Za-z_][\w.]*)\s*(?:=|\bTO\b)\s*"
                    r"('(?:[^']|'')*'|[\w.-]+)", opts_tail):
                v = sm.group(2)
                if v.startswith("'"):
                    v = v[1:-1].replace("''", "'")
                fn_config[sm.group(1).lower()] = v
            bs = re.search(
                r"(?i)\bSET\s+default_text_search_config\s*"
                r"(?:=|\bTO\b)\s*'?\"?([\w.]+)",
                opts_tail)
            if bs and bs.group(1).split(".")[-1].lower() not in (
                    "english", "simple"):
                body = ("SELECT raise_error('invalid value for "
                        'parameter "default_text_search_config": '
                        f"\"{bs.group(1)}\"')")
                lang = "sql"
        else:
            rb = re.search(r"\bRETURN\b(.*)$", tail, re.IGNORECASE | re.DOTALL)
            if not rb:
                raise ValueError(
                    "CREATE FUNCTION needs AS $$...$$ / AS '...' / RETURN expr"
                )
            body, lang = f"SELECT {rb.group(1).strip()}", "sql"
        # $n positional references resolve to the nth parameter name
        # (functioncmds.c: valid for both named and unnamed params).
        # Substitution runs over the literal-MASKED body: a $n inside
        # a string constant (e.g. a dynamic EXECUTE command with
        # USING placeholders) is query text for a later binding, not
        # a parameter reference of this function.
        def _dollar_ref(m2: re.Match) -> str:
            k = int(m2.group(1))
            return params[k - 1][0] if 1 <= k <= len(params) \
                else m2.group(0)

        from warehouse_pg_spark.sql_dialect import _mask, _unmask

        _masked_b, _lits_b = _mask(body)
        body = _unmask(
            re.sub(r"\$(\d+)\b", _dollar_ref, _masked_b), _lits_b)
        if setof_m or table_cols_raw is not None or out_params:
            res = self._register_table_function(
                name, params, defaults, setof_m.group(1).strip()
                if setof_m else None, table_cols_raw, lang, body, strict,
                out_cols=out_params or None,
            )
            # record ONLY after a successful registration: a regress
            # script's `CREATE FUNCTION concat(text, VARIADIC ...)`
            # (PG overloads the builtin; Spark refuses the shadow)
            # must not leave a stale entry that repacks every builtin
            # concat call afterwards
            if variadic_at is not None:
                self._variadic_functions[name.lower()] = variadic_at
            return res
        if lang == "plpgsql" and rettype.lower() == "void" and re.search(
            r"(?i)\b(INSERT|UPDATE|DELETE|TRUNCATE|EXCEPTION)\b", body
        ) and self._register_plpgsql_proc(name, params, body):
            # DML-bodied void procedure: interpreted at call time
            # (engine_proc.py); nothing compiles
            return self._tag(0)
        if lang == "plpgsql":
            from warehouse_pg_spark.plpgsql import PlpgsqlError

            try:
                expr = compile_plpgsql(
                    params, ret_spark, body,
                    composites=self._user_types.composites,
                    void=rettype.lower() == "void",
                )
            except PlpgsqlError:
                # bodies the expression compiler cannot hold (DML,
                # cursors, dynamic EXECUTE, EXCEPTION handlers) fall
                # back to the driver-side interpreter — callable at
                # top-level SELECT f(args) / CALL only
                if self._register_plpgsql_proc(name, params, body,
                                               rettype=rettype):
                    return self._tag(0)
                raise
        elif lang == "internal" and re.fullmatch(
                r"\w*(?:in|out|send|recv)", body.strip()):
            # LANGUAGE internal I/O functions ('int4in', 'textout', ...;
            # fmgr builtins): with the engine's text-transport model a
            # type I/O conversion is the declared cast itself
            expr = params[0][0] if params else "NULL"
            expr = f"CAST(({expr}) AS {ret_spark})"
        elif lang == "internal":
            # fmgr builtins referenced by symbol (fmgr_builtins:
            # array_agg_transfn &c): the registration is catalog
            # bookkeeping for a later CREATE AGGREGATE — no
            # SQL-callable surface, so a direct call stays loud
            expr = (
                "CAST(raise_error('function "
                f"{body.strip()[:40]} is an fmgr-internal builtin "
                "with no SQL-callable surface here') "
                f"AS {ret_spark})"
            )
        elif lang == "sql":
            # PG SQL functions return the last statement's result; the
            # supported subset is expression-bodied SELECTs.
            all_stmts = [x.strip() for x in body.split(";") if x.strip()]
            last = all_stmts[-1]
            if len(all_stmts) > 1 and any(
                re.match(r"(?is)^(INSERT|UPDATE|DELETE|TRUNCATE|CREATE|"
                         r"DROP|ALTER|COPY)\b", x)
                for x in all_stmts[:-1]
            ) and self._register_sqlbody_proc(
                    name, params, body, rettype, fn_config):
                # earlier statements carry side effects functions.c
                # would run — a Spark SQL UDF holds only the last
                # expression, so the whole body interprets driver-side
                return self._tag(0)
            if re.match(r"(?is)^SELECT\b", last) and _toplevel_from(last):
                # a FROM-clause body is a whole query; a scalar SQL
                # function returns the FIRST row of its last query
                # (functions.c postquel_get_single_result) — a LIMIT 1
                # scalar subquery in Spark's SQL-UDF surface
                expr = f"(SELECT * FROM ({last}) LIMIT 1)"
            else:
                expr = re.sub(
                    r"^SELECT\b", "", last, flags=re.IGNORECASE).strip()
            # `select 1 AS result` / `select $1 + $2 sum` — the
            # output alias is not part of the expression (functions.c:
            # the column name is ignored for a scalar SQL function);
            # a trailing LIMIT over the one result row is a no-op
            if not re.search(r"(?is)\bFROM\b", expr):
                expr = re.sub(r"(?is)\s+LIMIT\s+\d+\s*$", "", expr)
                expr = re.sub(r"(?is)\s+AS\s+\w+\s*$", "", expr)
                am2 = re.match(
                    r"(?is)^(.+?)\s+([A-Za-z_]\w*)\s*$", expr
                )
                if am2:
                    pre = am2.group(1).rstrip()
                    lastw = re.search(r"([A-Za-z_]\w*)$", pre)
                    _KW = {
                        "and", "or", "not", "like", "ilike",
                        "between", "in", "is", "as", "then", "else",
                        "when", "case", "from", "where", "escape",
                        "similar", "to", "collate", "at", "zone",
                        "interval", "distinct", "operator", "all",
                        "any", "some", "symmetric", "over", "using",
                        "order", "by", "group", "having", "limit",
                        "offset", "on", "join", "select",
                    }
                    if (
                        pre[-1] not in "+-*/%<>=|~!^@#(,.:["
                        and (lastw is None
                             or lastw.group(1).lower() not in _KW)
                        and am2.group(2).lower() not in _KW | {
                            "null", "true", "false", "end"}
                    ):
                        # the trailing identifier follows a complete
                        # operand: it is the bare column alias
                        expr = pre
            if rettype.lower() == "void" and re.match(
                    r"(?is)\s*(INSERT|UPDATE|DELETE|TRUNCATE)\b", last):
                # DML-bodied void function: store the statements; a
                # call executes them (functions.c runs every statement
                # of a SQL function, returning the last — void keeps
                # side effects only). RETURNING clauses are discarded.
                stmts = [x.strip() for x in body.split(";") if x.strip()]
                stmts = [re.sub(r"(?is)\s+RETURNING\s+.*$", "", x)
                         for x in stmts]
                self._void_procs[name.lower()] = (
                    [p for p, _t in params], stmts)
                return self._tag(0)
            if rettype.lower() == "void":
                # functions.c: a void SQL function evaluates its body
                # and discards the result (SELECT f(x) shows empty)
                ret_spark = "STRING"
                expr = (
                    f"IF(({expr}) IS NULL, CAST(NULL AS STRING), "
                    "CAST(NULL AS STRING))"
                )
            else:
                expr = f"CAST(({expr}) AS {ret_spark})"
        else:
            raise NotImplementedError(f"LANGUAGE {lang} is not supported")
        expr = self._user_types.rewrite(expr)
        expr = sql_dialect.rewrite(expr)
        if strict and params:
            null_any = " OR ".join(f"{p} IS NULL" for p, _t in params)
            expr = (
                f"CASE WHEN {null_any} THEN CAST(NULL AS {ret_spark}) "
                f"ELSE {expr} END"
            )
        arglist = ", ".join(
            f"{p} {t}"
            + (f" DEFAULT ({defaults[p]})" if p in defaults else "")
            for p, t in params
        )
        try:
            self.spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({arglist}) "
                f"RETURNS {ret_spark} RETURN {expr}"
            )
        except Exception as e:  # noqa: BLE001
            if "CANNOT_REPLACE_NON_SQL_UDF" in str(e):
                # the name is a Spark builtin Spark refuses to
                # replace: register under a prefix; same-arity call
                # sites rewrite to it (PG search_path semantics put
                # the user fn first)
                self.spark.sql(
                    f"CREATE OR REPLACE TEMPORARY FUNCTION __pgudf_{name}"
                    f"({arglist}) RETURNS {ret_spark} RETURN {expr}"
                )
                self._shadowed_fns[name.lower()] = len(params)
            elif lang == "sql" and self._register_sqlbody_proc(
                    name, params, body, rettype, fn_config):
                # bodies Spark's SQL-UDF surface cannot hold (a
                # recursive CTE over a parameter, DML followed by a
                # result, current_setting over a runtime key):
                # interpreted driver-side at top-level call sites
                # (engine_proc.py), per functions.c run-every-
                # statement semantics
                return self._tag(0)
            else:
                raise
        if variadic_at is not None:  # only after Spark accepted it
            self._variadic_functions[name.lower()] = variadic_at
        self._scalar_fn_exprs[name.lower()] = (
            [p for p, _t in params], expr
        )
        return self._tag(0)

    def _register_table_function(
        self,
        name: str,
        params: list[tuple[str, str]],
        defaults: dict[str, str],
        setof_elem: str | None,
        table_cols_raw: str | None,
        lang: str,
        body: str,
        strict: bool,
        out_cols: list[tuple[str, str]] | None = None,
    ) -> DataFrame:
        """RETURNS SETOF / RETURNS TABLE for LANGUAGE sql bodies
        (functioncmds.c set-returning functions; regress
        sql/rangefuncs.sql): lowered to a native Spark SQL table
        function. A call in FROM inlines as a Catalyst subquery — at
        100 TB this is exactly a view expansion, no function-call
        runtime at all. PL/pgSQL RETURN NEXT stays descoped (README).
        PG STRICT on an SRF yields ZERO rows for a NULL argument
        (fmgr strict short-circuit + empty SRF protocol) — compiled
        as a WHERE gate over the body."""
        from warehouse_pg_spark import sql_dialect
        from warehouse_pg_spark.sql_dialect import map_decl_type

        cols: list[tuple[str, str]]
        if out_cols:
            # OUT parameters define the record shape (functioncmds.c);
            # the body's result columns map positionally
            cols = list(out_cols)
        elif table_cols_raw is not None:
            cols = []
            for item in _split_exprs(table_cols_raw):
                toks = item.strip().split()
                if len(toks) < 2:
                    raise ValueError(
                        f"RETURNS TABLE column needs name + type: {item!r}"
                    )
                cols.append(
                    (toks[0], self._decl_type(" ".join(toks[1:]))))
        else:
            elem = setof_elem.strip()
            comp = self._user_types.composites.get(elem.lower())
            if comp is not None:
                # user-type-aware per-field resolution (composite
                # fields may themselves be domains/base-type aliases)
                cols = [(f, self._decl_type(t)) for f, t in comp.fields]
            elif elem.lower() in ("record",):
                raise NotImplementedError(
                    "RETURNS SETOF record needs an explicit column "
                    "list — use RETURNS TABLE (...) or a composite type"
                )
            else:
                # SETOF table-rowtype (functioncmds.c: a table name is
                # a rowtype): the function returns the table's columns
                tcols = self._table_rowtype_cols(elem)
                if tcols is not None:
                    cols = tcols
                else:
                    # PG names the single result column after the fn
                    cols = [(name, self._decl_type(elem))]
        q: str | None = None
        if lang == "plpgsql":
            # the single-RETURN-QUERY body (pl_exec.c
            # exec_stmt_return_query) IS a SQL table function —
            # fully inlined, preserves the query's own ordering
            qm = re.match(
                r"(?is)^\s*BEGIN\s+RETURN\s+QUERY\s+([^;]*?);?\s*"
                r"END\s*;?\s*$",
                body,
            )
            if qm is not None:
                body, lang = qm.group(1), "sql"
            elif setof_elem is None and table_cols_raw is None:
                # OUT params without SETOF: exactly one result row of
                # the OUT variables' final values (pl_exec.c
                # exec_stmt_return's out-param row build)
                from warehouse_pg_spark.plpgsql import (
                    compile_plpgsql_outrow,
                )

                expr = sql_dialect.rewrite(
                    compile_plpgsql_outrow(
                        params, cols, body,
                        composites=self._user_types.composites,
                    )
                )
                if len(cols) == 1:
                    q = f"SELECT {expr} AS {cols[0][0]}"
                else:
                    q = f"SELECT inline(array({expr}))"
            else:
                # general bodies (RETURN NEXT accumulation, loops,
                # mixed RETURN QUERY): compile to ONE array-valued
                # SQL expression and explode it (pl_exec.c
                # exec_stmt_return_next's tuplestore as an array)
                from warehouse_pg_spark.plpgsql import (
                    compile_plpgsql_setof,
                )

                arr = sql_dialect.rewrite(
                    compile_plpgsql_setof(
                        params, cols, body,
                        bare_next=bool(
                            out_cols or table_cols_raw is not None
                        ),
                        composites=self._user_types.composites,
                    )
                )
                if len(cols) == 1:
                    q = f"SELECT explode({arr}) AS {cols[0][0]}"
                else:
                    q = f"SELECT inline({arr})"
        if q is None:
            if lang not in ("sql", "internal"):
                raise NotImplementedError(
                    "RETURNS SETOF is supported for LANGUAGE sql and "
                    "plpgsql bodies"
                )
            last = [x for x in body.split(";") if x.strip()][-1].strip()
            if not re.match(
                r"(?is)^\s*(SELECT|WITH|VALUES|TABLE)\b", last
            ):
                raise NotImplementedError(
                    "SETOF SQL function bodies must end in a query"
                )
            q = sql_dialect.rewrite(last)
        if strict and params:
            null_any = " OR ".join(f"{p} IS NULL" for p, _t in params)
            q = f"SELECT * FROM ({q}) WHERE NOT coalesce({null_any}, false)"
        arglist = ", ".join(
            f"{p} {t}"
            + (f" DEFAULT ({defaults[p]})" if p in defaults else "")
            for p, t in params
        )
        collist = ", ".join(f"{c} {t}" for c, t in cols)
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({arglist}) "
            f"RETURNS TABLE ({collist}) RETURN {q}"
        )
        self._table_functions[name.lower()] = [c for c, _t in cols]
        return self._tag(0)

    # ------------------------------------------- prepared statements / GUCs
    def _maybe_session_stmt(self, text: str) -> DataFrame | None:
        """PREPARE/EXECUTE/DEALLOCATE (commands/prepare.c), SET/SHOW/
        RESET session GUCs (utils/misc/guc.c), DISCARD (commands/
        discard.c), and the maintenance statements VACUUM/ANALYZE
        (commands/vacuum.c, analyze.c) — the session-protocol surface
        every PG client and pg_dump script drives."""
        s = text.strip().rstrip(";").strip()
        m = re.match(
            r"(?is)^SET\s+(?:(?:SESSION|LOCAL)\s+)?"
            r"(ROLE|SESSION\s+AUTHORIZATION)\s+(\w+|'[^']*')$", s)
        if m:
            # SET ROLE / SESSION AUTHORIZATION (guc.c assign_role):
            # single-user engine — the identity records so the ACL
            # ledger and current_setting('role') answer consistently
            who = m.group(2).strip("'")
            key = ("role" if m.group(1).upper() == "ROLE"
                   else "session_authorization")
            self._gucs[key] = ("none" if who.upper() in
                               ("NONE", "DEFAULT") else who.lower())
            return self._tag(0)
        m = _RESET_RE.match(s)
        if m:
            key = m.group(1).lower()
            if key == "all":
                self._gucs.clear()
                self._gucs.update(_GUC_DEFAULTS)
                self.spark.conf.set(
                    "spark.sql.session.timeZone", self._default_timezone
                )
                self.spark.conf.set("spark.sql.ansi.enabled", "false")
                from warehouse_pg_spark.dialect.fts import (
                    set_default_config,
                )
                set_default_config("english")
            else:
                self._gucs.pop(key, None)
                if key in _GUC_DEFAULTS:
                    self._gucs[key] = _GUC_DEFAULTS[key]
                if key in ("timezone", "time zone"):
                    self.spark.conf.set(
                        "spark.sql.session.timeZone", self._default_timezone
                    )
                elif key == "strict_errors":
                    self.spark.conf.set("spark.sql.ansi.enabled", "false")
                elif key == "xmlbinary":
                    sql_dialect.set_xmlbinary("base64")
                elif key == "default_text_search_config":
                    from warehouse_pg_spark.dialect.fts import (
                        set_default_config,
                    )
                    set_default_config("english")
            return self._tag(0)
        dm_ = _DISCARD_RE.match(s)
        if dm_:
            # DISCARD ALL/SEQUENCES (commands/discard.c): sequence
            # session state (currval's "last value") resets — a
            # following currval errors as unset, as in PG
            if dm_.group(1).upper() in ("ALL", "SEQUENCES"):
                for _sq in self._sequences.values():
                    _sq.pop("last", None)
            if dm_.group(1).upper() != "ALL":
                return self._tag(0)
            # DISCARD ALL: session back to pristine
            self._prepared.clear()
            self._gucs.clear()
            self._gucs.update(_GUC_DEFAULTS)
            sql_dialect.set_xmlbinary("base64")
            self.spark.conf.set(
                "spark.sql.session.timeZone", self._default_timezone
            )
            self.spark.conf.set("spark.sql.ansi.enabled", "false")
            return self._tag(0)
        m = _VACUUM_RE.match(s)
        if m:
            name = (m.group(2) or "").split(".")[-1]
            # table-less VACUUM (whole database) and VACUUM on
            # non-writable relations are advisory no-ops here
            if name and self._writable_by_name(name) is not None:
                self.vacuum(name)
            return self._tag(0)
        m = _ANALYZE_RE.match(s)
        if m:
            name = (m.group(1) or "").split(".")[-1]
            cols = tuple(
                c.strip() for c in (m.group(2) or "").split(",") if c.strip()
            )
            if name:
                try:
                    self.analyze(name, cols)
                except Exception:
                    # stats are advisory: temp views / attached parquet
                    # have no catalog entry for Spark's ANALYZE TABLE
                    pass
            return self._tag(0)
        m = _CREATE_MV_RE.match(s)
        if m:
            # CREATE MATERIALIZED VIEW ... AS SELECT (commands/matview.c)
            if m.group(1) and m.group(2).split(".")[-1] in self._matviews:
                return self._tag(0)  # IF NOT EXISTS
            self.create_materialized_view(m.group(2).split(".")[-1], m.group(3))
            return self._tag(0)
        m = _REFRESH_MV_RE.match(s)
        if m:
            # REFRESH MATERIALIZED VIEW [CONCURRENTLY] — re-runs the
            # stored query; CONCURRENTLY is moot (temp-view swap is
            # atomic to readers of the name)
            self.refresh_materialized_view(m.group(1).split(".")[-1])
            return self._tag(0)
        m = _DROP_MV_RE.match(s)
        if m:
            name = m.group(2).split(".")[-1]
            mv = self._matviews.pop(name, None)
            if mv is None and not m.group(1):
                raise KeyError(f'materialized view "{name}" does not exist')
            if mv is not None:
                self.spark.catalog.dropTempView(name)
                import shutil

                shutil.rmtree(mv.path, ignore_errors=True)
            return self._tag(0)
        m = _CLUSTER_RE.match(s)
        if m:
            # CLUSTER tbl [USING idx] (commands/cluster.c): physically
            # reorder by the advisory index (CREATE INDEX records its
            # columns); our layout analogue is the Z-order rewrite.
            # No recorded index, or a non-writable relation → no-op.
            name = (m.group(1) or "").split(".")[-1]
            hints = self._index_hints.get(name, [])
            if name and hints and self._writable_by_name(name) is not None:
                self.cluster_zorder(name, hints[-1])
            return self._tag(0)
        if _REINDEX_RE.match(s):
            # REINDEX (indexcmds.c): indexes are advisory scan hints
            # here, nothing to rebuild
            return self._tag(0)
        m = _PREPARE_RE.match(s)
        if m:
            name = m.group(1).lower()
            # PG: re-PREPARE of a live name is an error (prepare.c)
            if name in self._prepared:
                raise ValueError(f'prepared statement "{name}" already exists')
            declared = m.group(2)
            nparams = (
                len([p for p in declared.split(",") if p.strip()])
                if declared is not None
                else None
            )
            self._prepared[name] = (m.group(3).strip(), nparams)
            return self._tag(0)
        m = _DEALLOCATE_RE.match(s)
        if m:
            name = m.group(1).lower()
            if name == "all":
                self._prepared.clear()
            else:
                self._prepared.pop(name, None)
            return self._tag(0)
        m = _EXECUTE_STMT_RE.match(s)
        if m:
            name = m.group(1).lower()
            if name not in self._prepared:
                # EXECUTE of an unknown name may be Spark's own EXECUTE
                # IMMEDIATE etc. — only claim names we prepared.
                if m.group(2) is None:
                    return None
                raise KeyError(f'prepared statement "{name}" does not exist')
            body, nparams = self._prepared[name]
            args = self._split_args(m.group(2) or "")
            # Single-pass \$(\d+) substitution over the literal-masked
            # body: $12 never half-matches as $1, $n inside string
            # literals is untouched, and out-of-range indexes error as
            # PG does (prepare.c EvaluateParams).
            from warehouse_pg_spark.sql_dialect import _mask, _unmask

            masked, lits = _mask(body)
            # EvaluateParams (prepare.c): supplied count must equal the
            # declared count (or, when PREPARE declared no types, the
            # highest $n the body references).
            refs = [int(x) for x in re.findall(r"\$(\d+)", masked)]
            expected = nparams if nparams is not None else (
                max(refs) if refs else 0
            )
            if len(args) != expected:
                raise ValueError(
                    "wrong number of parameters for prepared statement "
                    f'"{name}": expected {expected}, got {len(args)}'
                )

            def _param(pm: re.Match) -> str:
                idx = int(pm.group(1))
                if not 1 <= idx <= len(args):
                    raise IndexError(
                        f"there is no parameter ${idx} "
                        f"(statement has {len(args)} arguments)"
                    )
                return args[idx - 1]

            body = _unmask(re.sub(r"\$(\d+)", _param, masked), lits)
            return self.sql(body)
        m = _SET_GUC_RE.match(s)
        if m and not m.group(1).lower().startswith("spark."):
            # spark.* keys fall through to Spark's own SET statement
            key, val = m.group(1).lower(), m.group(2).strip().rstrip(";")
            if key == "timezone" and val.upper() in ("DEFAULT", "LOCAL"):
                val = self._default_timezone
            else:
                val = val.strip("'\"")
            self._gucs[key] = val
            if key == "timezone":
                self.spark.conf.set("spark.sql.session.timeZone", val)
            elif key == "xmlbinary":
                sql_dialect.set_xmlbinary(val)
            elif key == "default_text_search_config":
                from warehouse_pg_spark.dialect.fts import set_default_config
                set_default_config(val)
            elif key == "strict_errors":
                # PG raises where the default posture returns NULL or
                # wraps (division by zero, int overflow, bad casts,
                # out-of-range element_at). Spark's ANSI mode IS that
                # posture — one switch makes the silent class loud
                # (README "Known deviations"; regress should_error).
                self.spark.conf.set(
                    "spark.sql.ansi.enabled",
                    "true" if val.lower() in ("on", "true", "1") else "false",
                )
            return self._tag(0)
        m = _SET_TIME_ZONE_RE.match(s)
        if m:
            # SET TIME ZONE 'x' (gram.y zone_value) — the two-word
            # spelling _SET_GUC_RE's [\w.]+ key cannot match.
            # DEFAULT/LOCAL (unquoted) reset to the session's startup
            # timezone rather than storing the literal word.
            raw = m.group(1).strip()
            if raw.upper() in ("DEFAULT", "LOCAL"):
                val = self._default_timezone
            else:
                val = raw.strip("'\"")
            self._gucs["timezone"] = val
            self.spark.conf.set("spark.sql.session.timeZone", val)
            return self._tag(0)
        m = _SHOW_GUC_RE.match(s)
        if m and m.group(1).upper() not in (
            "TABLES", "DATABASES", "SCHEMAS", "NAMESPACES", "CATALOGS",
            "VIEWS", "FUNCTIONS", "PARTITIONS", "COLUMNS", "TBLPROPERTIES",
        ) and not m.group(1).lower().startswith("spark."):
            key = re.sub(r"\s+", " ", m.group(1).lower())
            if key == "all":
                return self.spark.createDataFrame(
                    sorted(self._gucs.items()), "name STRING, setting STRING"
                )
            if key in ("timezone", "time zone"):
                val = self.spark.conf.get("spark.sql.session.timeZone")
                key = "timezone"
            else:
                val = self._gucs.get(key)
                if val is None:
                    raise KeyError(f'unrecognized configuration parameter "{key}"')
            return self.spark.createDataFrame([(val,)], f"{key} STRING")
        return None

    @staticmethod
    def _split_args(raw: str) -> list[str]:
        """Split EXECUTE argument list on top-level commas (quote- and
        paren-aware)."""
        args, buf, depth, q = [], [], 0, False
        i, n = 0, len(raw)
        while i < n:
            ch = raw[i]
            if q:
                buf.append(ch)
                if ch == "'":
                    if i + 1 < n and raw[i + 1] == "'":
                        buf.append("'")
                        i += 1
                    else:
                        q = False
            elif ch == "'":
                q = True
                buf.append(ch)
            elif ch == "(":
                depth += 1
                buf.append(ch)
            elif ch == ")":
                depth -= 1
                buf.append(ch)
            elif ch == "," and depth == 0:
                args.append("".join(buf).strip())
                buf = []
            else:
                buf.append(ch)
            i += 1
        tail = "".join(buf).strip()
        if tail:
            args.append(tail)
        return args


    def assign_sequence_ids(self, df: DataFrame, col: str, seq_name: str) -> DataFrame:
        """Assign one sequence value per row of `df`, distributed.

        The scale path for `SELECT nextval('s') FROM big_table`: a block
        allocation (GP's per-segment sequence value cache, sequence.c
        cache_value) done as two passes — count rows per Spark partition
        (tiny collect: one long per partition), hand each partition a
        contiguous offset range, then number rows partition-locally
        (`row_number` partitioned by partition id — no global sort, no
        single-partition exchange). Values are unique and dense; like PG,
        assignment order across partitions is not a correctness contract.
        """
        import pyspark.sql.functions as F
        from pyspark.sql.window import Window

        seq = self._seq(seq_name)
        tagged = df.withColumn("__pid", F.spark_partition_id()).withColumn(
            "__mid", F.monotonically_increasing_id()
        )
        counts = {
            r["__pid"]: r["cnt"]
            for r in tagged.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
        }
        run = seq["next"]
        offsets = []
        for pid in sorted(counts):
            offsets.extend([F.lit(pid), F.lit(run)])
            run += counts[pid]
        omap = F.create_map(*offsets) if offsets else F.create_map()
        w = Window.partitionBy("__pid").orderBy("__mid")
        out = (
            tagged.withColumn(
                col,
                (omap[F.col("__pid")] + F.row_number().over(w) - 1).cast("long"),
            )
            .drop("__pid", "__mid")
        )
        seq["next"] = run
        seq["last"] = run - 1
        return out

    def _ensure_catalog_views(self) -> None:
        """System-catalog shims (pg_tables from system_views.sql,
        information_schema.columns — the two introspection relations a
        PG user's first `\\d`-ish query touches). Rebuilt lazily per
        statement from the engine catalog + Spark schemas; dotted
        `information_schema.columns` is rewritten to a flat temp-view
        name since temp views can't live inside a Spark database."""
        trows = [
            ("public", name, "spark", None, False, False, False)
            for name in sorted(self.catalog.tables)
        ]
        self.spark.createDataFrame(
            trows,
            "schemaname string, tablename string, tableowner string, "
            "tablespace string, hasindexes boolean, hasrules boolean, "
            "hastriggers boolean",
        ).createOrReplaceTempView("pg_tables")
        crows = []
        for name in sorted(self.catalog.tables):
            try:
                schema = self.spark.table(name).schema
            except Exception:
                continue
            for i, f in enumerate(schema.fields, start=1):
                crows.append(
                    (
                        "spark",
                        "public",
                        name,
                        f.name,
                        i,
                        f.dataType.simpleString(),
                        "YES" if f.nullable else "NO",
                    )
                )
        self.spark.createDataFrame(
            crows,
            "table_catalog string, table_schema string, table_name string, "
            "column_name string, ordinal_position int, data_type string, "
            "is_nullable string",
        ).createOrReplaceTempView("information_schema_columns")

    # ----------------------------------------------------------------- DDL
    def _lower_typed_table(self, text: str) -> str:
        """CREATE TABLE name OF composite_type (typed tables,
        parse_utilcmd.c transformOfType): the type's fields become the
        column list; PARTITION BY/WITH tails drop with the clause."""
        m = re.match(
            r"(?is)^(\s*CREATE\s+(?:(?:GLOBAL\s+|LOCAL\s+)?"
            r"TEMP(?:ORARY)?\s+|UNLOGGED\s+)?TABLE\s+"
            r"(?:IF\s+NOT\s+EXISTS\s+)?[\w.\"]+)\s+OF\s+"
            r"([\w.\"]+)\b[^;]*$", text.strip().rstrip(";"))
        if m is None:
            return text
        key = m.group(2).strip('"').split(".")[-1].lower()
        comp = self._user_types.composites.get(key)
        if comp is None:
            return text
        cols = ", ".join(
            f"{f} {self._decl_type(t)}" for f, t in comp.fields)
        return f"{m.group(1)} ({cols})"

    def _maybe_ddl(self, text: str) -> DataFrame | None:
        """Handle GP DDL Spark's parser rejects: DISTRIBUTED BY and
        PARTITION BY RANGE (col) (START .. [END ..] EVERY ..) clauses.

        `CREATE TABLE ... DISTRIBUTED BY (k)` (reference parser
        gram.y:5597-5605, gp_distribution_policy.h) — distribution is a
        perf hint under Spark (SURVEY §1.1): recorded in the catalog,
        stripped from the DDL. The GP partition spec (gram.y
        OptTabPartitionSpec; partition child creation in tablecmds.c)
        maps onto directory partitioning: a CTAS with the clause
        materializes with a derived range-partition id column, so
        partition pruning works exactly as GP's Dynamic*Scan would."""
        if _TEMP_CTAS_RE.match(text.strip()) and not \
                _PARTITION_RANGE_RE.search(text):
            # TEMP CTAS materializes as a session temp view further
            # down the chain (its handler strips the DISTRIBUTED tail
            # itself); Spark rejects CREATE TEMPORARY TABLE AS
            return None
        pm = _PARTITION_RANGE_RE.search(text)
        if pm is not None:
            return self._partitioned_ctas(text, pm)
        m = _DISTRIBUTED_BY_RE.search(text)
        if m is None:
            return None
        keys: tuple[str, ...] = ()
        policy = "random"
        if m.group(1):
            policy = "hash"
            keys = tuple(k.strip() for k in m.group(1).split(","))
        elif m.group(2):
            policy = m.group(2).lower()  # randomly | replicated
            policy = {"randomly": "random", "replicated": "replicated"}[policy]
        stripped = _DISTRIBUTED_BY_RE.sub("", text)
        out = self._sql_autoschema(stripped)
        name_m = re.search(r"CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)", text, re.IGNORECASE)
        if name_m:
            from warehouse_pg_spark.catalog import TableInfo

            tname = name_m.group(1).split(".")[-1]
            self.catalog.tables[tname] = TableInfo(
                name=tname, path="", distribution=(policy, keys)
            )
        return out

    def _partitioned_ctas(self, text: str, pm: re.Match) -> DataFrame:
        """CTAS with a GP range-partition spec → directory-partitioned
        parquet. Numeric EVERY buckets by width; INTERVAL EVERY buckets
        by year/month/day counted from START (sources/partitioned.py
        range_partition_expr — the EVERY child-partition rule)."""
        from warehouse_pg_spark.sources.partitioned import (
            range_partition_expr,
        )

        col = pm.group(1)
        spec = pm.group(2)
        stripped = (
            text[: pm.start()] + text[pm.end():]
        ).strip().rstrip(";")
        stripped = _DISTRIBUTED_BY_RE.sub("", stripped)
        cm = _CTAS_RE.match(stripped.strip())
        if cm is None:
            if re.match(r"(?is)^CREATE\s+(?:TEMP(?:ORARY)?\s+)?TABLE"
                        r"\s+[\w.]+\s*\(", stripped.strip()):
                # plain partitioned CREATE (gram.y OptTabPartitionSpec
                # without AS): the GP partition spec is physical
                # layout, not semantics — the empty table creates
                # normally and the spec stays a layout hint (a later
                # CTAS through this path materializes directories;
                # parquet row-group pruning covers the scan side)
                return self.sql(stripped)
            raise NotImplementedError(
                "PARTITION BY RANGE is supported on CREATE TABLE ... AS "
                "SELECT (directory-partitioned materialization)"
            )
        name, select = cm.group(1).split(".")[-1], cm.group(2)
        sm = re.search(
            r"START\s*\(\s*'?([^')]+?)'?\s*\)", spec, re.IGNORECASE
        )
        em = re.search(
            r"EVERY\s*\(\s*(?:INTERVAL\s+'(\d+)\s+(\w+?)s?'|(\d+(?:\.\d+)?))\s*\)",
            spec,
            re.IGNORECASE,
        )
        if sm is None or em is None:
            raise ValueError(
                f"cannot parse partition spec (need START/EVERY): {spec!r}"
            )
        start = sm.group(1).strip()
        df = self.spark.sql(select)
        def _num(s: str) -> float | int:
            return float(s) if "." in s else int(s)

        if em.group(3) is not None:  # numeric width
            expr = range_partition_expr(col, _num(start), _num(em.group(3)))
        else:
            expr = range_partition_expr(
                col, start, int(em.group(1)), em.group(2).lower()
            )
        path = os.path.join(self.warehouse_dir, name)
        df.withColumn("__part", expr).write.mode("overwrite").partitionBy(
            "__part"
        ).parquet(path)
        catalog.invalidate(path)
        self.catalog.register_parquet(
            name, path, partition_cols=("__part",)
        )
        n = catalog.read_parquet_table(self.spark, path).count()
        return self._tag(n)

    # ----------------------------------------------------------- SQL DML
    def _maybe_dml(self, text: str) -> DataFrame | None:
        """SQL-statement DML against engine-managed parquet tables —
        the ModifyTable front-end (reference executor/nodeModifyTable.c,
        commands/copy.c §3.3): INSERT INTO .. VALUES/SELECT, UPDATE ..
        SET .. WHERE, DELETE FROM .. WHERE, CREATE TABLE .. AS SELECT.
        Statements over names not registered as writable parquet tables
        fall through to Spark (which raises its own errors). Returns a
        1-row `rows_affected` DataFrame (the PG command tag), or — with
        a RETURNING clause (returning.sql) — the affected rows
        themselves, projected through the RETURNING select list."""
        import pyspark.sql.functions as F

        s = text.strip().rstrip(";").strip()
        returning: str | None = None
        rm = _RETURNING_RE.search(s)
        if rm and re.match(r"^(INSERT|UPDATE|DELETE)\b", s, re.IGNORECASE):
            returning = rm.group(1).strip()
            s = s[: rm.start()].strip()

        def _ret(image: DataFrame) -> DataFrame:
            """Project the affected-row image through the RETURNING list,
            materialized (localCheckpoint) before the copy-on-write swap
            invalidates the files it was computed from."""
            if returning == "*":
                out = image
            else:
                out = image.selectExpr(*_split_exprs(returning))
            return out.localCheckpoint(eager=True)

        mm = _MULTI_SET_RE.search(s)
        if mm and re.match(r"^UPDATE\b", s, re.IGNORECASE):
            # PG multi-column assignment `SET (a, b) = (e1, e2)`
            # (gram.y set_clause multiple_set_clause) → column-wise form
            cols = [c.strip() for c in mm.group(1).split(",")]
            vals = _split_exprs(mm.group(2))
            if len(cols) != len(vals):
                raise ValueError(
                    "number of columns does not match number of values"
                )
            s = (
                s[: mm.start()]
                + "SET "
                + ", ".join(f"{c} = {v}" for c, v in zip(cols, vals))
                + s[mm.end():]
            )

        rl = re.match(
            r"(?is)^(CREATE|DROP|ALTER)\s+(?:ROLE|USER|GROUP)\s+(.*)$",
            s)
        if rl:
            # role DDL (commands/user.c): single-user engine — roles
            # are bookkeeping names for the ACL ledger and
            # SET ROLE, with PG's existence errors
            verb, rest = rl.group(1).upper(), rl.group(2).strip()
            if verb == "DROP":
                ifex = False
                mex = re.match(r"(?is)^IF\s+EXISTS\s+(.*)$", rest)
                if mex:
                    ifex, rest = True, mex.group(1)
                for nm in rest.split(","):
                    nm = nm.strip().strip('"').lower()
                    if nm in self._roles:
                        self._roles.discard(nm)
                    elif nm and not ifex:
                        raise ValueError(
                            f'role "{nm}" does not exist')
            else:
                nm_m = re.match(r'("[^"]+"|[\w$]+)', rest)
                name = (nm_m.group(1).strip('"').lower()
                        if nm_m else "")
                if verb == "CREATE":
                    if name in self._roles:
                        raise ValueError(
                            f'role "{name}" already exists')
                    self._roles.add(name)
                elif name not in self._roles and name not in (
                        "current_user", "session_user", "public",
                        "all"):
                    raise ValueError(f'role "{name}" does not exist')
            return self._tag(0)
        if re.match(r"(?is)^(REASSIGN\s+OWNED|DROP\s+OWNED)\b", s):
            # ownership bookkeeping over the single user: no-op
            return self._tag(0)
        if _NOOP_DDL_RE.match(s):
            # COMMENT ON / GRANT / REVOKE / OWNER TO: metadata-only in
            # PG (commands/comment.c, aclchk.c) — there is no second
            # user to enforce against, but GRANT/REVOKE record into the
            # ACL ledger so has_*_privilege() answers match (aclchk.c
            # pg_class_aclcheck; the ledger starts all-granted).
            gm = re.match(
                r"(?is)^(GRANT|REVOKE)\s+(?:GRANT\s+OPTION\s+FOR\s+)?"
                r"(.+?)\s+ON\s+(?:TABLE\s+|SEQUENCE\s+|SCHEMA\s+|"
                r"DATABASE\s+|FUNCTION\s+)?(.+?)\s+(?:TO|FROM)\s+"
                r"(?:GROUP\s+)?([\w\",.\s]+?)(?:\s+WITH\s+GRANT\s+"
                r"OPTION|\s+CASCADE|\s+RESTRICT)?\s*$", s)
            if gm is not None:
                revoke = gm.group(1).upper() == "REVOKE"
                privs = [p.strip().upper().split()[0]
                         for p in gm.group(2).split(",") if p.strip()]
                objs = [re.sub(r"\(.*\)", "", o).strip().strip('"')
                        .split(".")[-1].lower()
                        for o in gm.group(3).split(",") if o.strip()]
                whos = [w.strip().strip('"').lower()
                        for w in gm.group(4).split(",") if w.strip()]
                for ob in objs:
                    for who in whos:
                        for pr in privs:
                            keys = ([(who, ob, pr)] if pr != "ALL"
                                    else [(who, ob, p) for p in
                                          _ALL_PRIVS])
                            for k in keys:
                                if revoke:
                                    self._acl_revoked.add(k)
                                else:
                                    self._acl_revoked.discard(k)
            return self._tag(0)

        if _TXN_RE.match(s):
            # BEGIN/COMMIT accepted as no-ops: the engine is
            # auto-commit (each DML's copy-on-write swap is the atomic
            # unit — SURVEY §1.1; there is no multi-statement snapshot),
            # so scripts wrapped in transactions run unchanged.
            return self._tag(0)
        if _ROLLBACK_RE.match(s):
            raise NotImplementedError(
                "ROLLBACK: no multi-statement transactions — each DML "
                "commits atomically via its copy-on-write table swap"
            )

        m = _CREATE_INDEX_RE.match(s)
        if m:
            # CREATE INDEX (indexcmds.c) is advisory here: Spark scans
            # prune via parquet min/max + Z-order layout instead of
            # b-trees. Record the indexed columns as a clustering hint
            # so DDL scripts run unchanged.
            tname = m.group(2).split(".")[-1]
            cols = tuple(
                c.strip().split()[0] for c in m.group(3).split(",") if c.strip()
            )
            self._index_hints.setdefault(tname, []).append(cols)
            return self._tag(0)
        if _DROP_INDEX_RE.match(s):
            return self._tag(0)

        m = _COPY_TO_RE.match(s)
        if m:
            return self._copy_to(m.group(1), m.group(2), m.group(3), m.group(4))

        m = _COPY_FROM_RE.match(s)
        if m:
            return self._copy_from(m.group(1), m.group(2), m.group(3))

        m = _TEMP_CTAS_RE.match(s)
        if m:
            # PG CREATE TEMP TABLE ... AS (temp.sql): session-scoped, never
            # durable — a Spark temp view over the materialized select.
            # The query may be parenthesized and carry a DISTRIBUTED
            # clause (gram.y CreateAsStmt + GP distribution suffix).
            name, select = m.group(1).split(".")[-1], m.group(2).strip()
            select = _CTAS_DIST_TAIL_RE.sub("", select).strip()
            if select.endswith(")") and _paren_balance(select) < 0:
                select = select[:-1].rstrip()
            df = self.spark.sql(select).localCheckpoint(eager=True)
            df.createOrReplaceTempView(name)
            return self._tag(df.count())

        m = _TRUNCATE_RE.match(s)
        if m:
            # PG TRUNCATE (tablecmds.c ExecuteTruncate): empty the
            # relation(s), keep the schema. RESTART/CONTINUE IDENTITY
            # and CASCADE/RESTRICT are accepted (sequences restart via
            # ALTER SEQUENCE; there are no FK cascades to chase).
            names = [r.strip().split(".")[-1] for r in m.group(1).split(",")]
            resolved = [(n, self._writable_by_name(n)) for n in names]
            if all(t is None for _, t in resolved):
                return None  # nothing engine-managed: not ours to handle
            # PG errors on ANY missing relation (tablecmds.c
            # ExecuteTruncate → RangeVarGetRelid), same as single-table
            # DML — no partial truncate-and-report-success.
            missing = [n for n, t in resolved if t is None]
            if missing:
                raise KeyError(
                    f"TRUNCATE: relation(s) do not exist: "
                    f"{', '.join(missing)}"
                )
            total = 0
            for name, t in resolved:
                total += t.delete(F.lit(True))
                self._refresh_view(name, t)
            return self._tag(total)

        m = _SELECT_INTO_RE.match(s)
        if m:
            # PG SELECT ... INTO [TEMP] tbl [FROM ...] (gram.y
            # into_clause — the pre-CTAS spelling): same
            # materialization as CTAS; the FROM-less form holds one
            # computed row. Like CREATE TABLE AS, an existing target
            # errors (execMain.c CreateIntoRelDestReceiver).
            tgt = m.group(2).split(".")[-1].lower()
            exists = tgt in self.catalog.tables
            if not exists:
                try:
                    exists = self.spark.catalog.tableExists(tgt)
                except Exception:  # noqa: BLE001
                    exists = False
            if exists:
                raise ValueError(
                    f'relation "{tgt}" already exists')
            s = (f"CREATE TABLE {m.group(2)} AS {m.group(1)} "
                 f"{m.group(3) or ''}").strip()

        m = _CTAS_RE.match(s)
        if m:
            name, select = m.group(1).split(".")[-1], m.group(2)
            df = self.spark.sql(select)
            t = self.create_table_from(name, df)
            n = t.read().count()
            return self._tag(n)

        if re.match(r"^MERGE\s+INTO\b", s, re.IGNORECASE):
            out = self._merge_stmt(s)
            if out is not None:
                return out

        m = _INSERT_RE.match(s)
        if m:
            name, rest = m.group(1).split(".")[-1], m.group(2).strip()
            t = self._writable_by_name(name)
            if t is None:
                return None
            # PG INSERT ... ON CONFLICT (k) DO NOTHING | DO UPDATE SET ...
            # (insert_conflict.sql; speculative-insert upsert) — lowered
            # onto the MERGE machinery.
            conflict = _ON_CONFLICT_RE.search(rest)
            if conflict:
                rest = rest[: conflict.start()].strip()
            cols: list[str] | None = None
            cm = re.match(r"^\(([^)]*)\)\s*(.*)$", rest, re.DOTALL)
            if cm:
                cols = [c.strip() for c in cm.group(1).split(",")]
                rest = cm.group(2).strip()
            if re.match(r"^DEFAULT\s+VALUES$", rest, re.IGNORECASE):
                # PG INSERT ... DEFAULT VALUES (gram.y insert_rest):
                # one row of all defaults — NULLs here (no stored
                # column defaults)
                target0 = t.read()
                df = self.spark.sql(
                    "SELECT "
                    + ", ".join(
                        f"CAST(NULL AS {f.dataType.simpleString()}) AS {f.name}"
                        for f in target0.schema.fields
                    )
                )
                cols = None
            elif re.match(r"^VALUES\b", rest, re.IGNORECASE):
                df = self.spark.sql(f"SELECT * FROM {rest}")
            else:
                df = self.spark.sql(rest)
            target = t.read()
            names = cols or target.columns
            df = df.toDF(*names)
            for c in target.columns:  # missing cols → NULL, PG default-less
                if c not in names:
                    df = df.withColumn(
                        c, F.lit(None).cast(target.schema[c].dataType)
                    )
            df = df.select(
                *[
                    F.col(c).cast(target.schema[c].dataType).alias(c)
                    for c in target.columns
                ]
            )
            if conflict:
                keys = [k.strip() for k in conflict.group(1).split(",")]
                if conflict.group(2).upper() == "NOTHING":
                    update: dict[str, Column] | None = {}  # matched rows untouched
                else:
                    # EXCLUDED.col (the proposed row) → the merge source side
                    update = {
                        col: F.expr(
                            re.sub(r"\bEXCLUDED\.", "s.", expr, flags=re.IGNORECASE)
                        )
                        for col, expr in _split_assignments(conflict.group(3))
                    }
                pre = None
                if returning:
                    # PG returns post-image rows: inserted ones for DO
                    # NOTHING, inserted+updated for DO UPDATE
                    # (insert_conflict.sql RETURNING cases).
                    pre = (
                        t.read().select(*keys).distinct()
                        .localCheckpoint(eager=True)
                    )
                stats = t.merge(df, on=keys, update=update)
                self._refresh_view(name, t)
                if returning:
                    src_keys = df.select(*keys).distinct()
                    if conflict.group(2).upper() == "NOTHING":
                        src_keys = src_keys.join(pre, keys, "left_anti")
                    image = t.read().join(
                        F.broadcast(src_keys), keys, "left_semi"
                    )
                    return _ret(image)
                return self._tag(stats["updated"] + stats["inserted"])
            ret = _ret(df) if returning else None
            n = df.count()
            t.insert(df)
            self._refresh_view(name, t)
            return ret if ret is not None else self._tag(n)

        m = _UPDATE_FROM_RE.match(s)
        if m:
            return self._update_from(*m.groups(), returning=returning, _ret=_ret)

        m = _DELETE_USING_RE.match(s)
        if m:
            # PG `DELETE FROM t USING s WHERE cond` (gram.y DeleteStmt
            # using_clause): delete target rows with a join partner.
            name = m.group(1).split(".")[-1]
            t = self._writable_by_name(name)
            if t is None:
                return None
            src = m.group(2)
            alias = f" AS {m.group(3)}" if m.group(3) else ""
            base = self._rid_view(t, name)
            matched = self.spark.sql(
                f"SELECT DISTINCT {name}.__rid FROM __dml_target AS {name} "
                f"JOIN {src}{alias} ON ({m.group(4)})"
            )
            ret = (
                _ret(base.join(matched, "__rid", "left_semi").drop("__rid"))
                if returning
                else None
            )
            n = matched.count()
            t._swap_in(base.join(matched, "__rid", "left_anti").drop("__rid"))
            self._refresh_view(name, t)
            return ret if ret is not None else self._tag(n)

        m = _UPDATE_RE.match(s)
        if m:
            name = m.group(1).split(".")[-1]
            t = self._writable_by_name(name)
            if t is None:
                return None
            if m.group(3) and _SUBQUERY_RE.search(m.group(3)):
                return self._update_subquery(
                    name, t, m.group(2), m.group(3), returning, _ret
                )
            assigns = {
                col: F.expr(expr)
                for col, expr in _split_assignments(m.group(2))
            }
            where = F.expr(m.group(3)) if m.group(3) else F.lit(True)
            ret = None
            if returning:
                tgt = t.read()
                image = tgt.filter(where).select(
                    *[
                        (assigns[c].cast(tgt.schema[c].dataType) if c in assigns else F.col(c)).alias(c)
                        for c in tgt.columns
                    ]
                )
                ret = _ret(image)
            n = t.update(assigns, where)
            self._refresh_view(name, t)
            return ret if ret is not None else self._tag(n)

        m = _DELETE_RE.match(s)
        if m:
            name = m.group(1).split(".")[-1]
            t = self._writable_by_name(name)
            if t is None:
                return None
            if m.group(2) and _SUBQUERY_RE.search(m.group(2)):
                # IN/EXISTS/scalar subqueries are only legal in a filter
                # context — resolve matches through spark.sql over a
                # rowid-tagged snapshot, then anti-join.
                base = self._rid_view(t, name)
                matched = self.spark.sql(
                    f"SELECT __rid FROM __dml_target WHERE {m.group(2)}"
                )
                ret = (
                    _ret(base.join(matched, "__rid", "left_semi").drop("__rid"))
                    if returning
                    else None
                )
                n = matched.count()
                t._swap_in(base.join(matched, "__rid", "left_anti").drop("__rid"))
                self._refresh_view(name, t)
                return ret if ret is not None else self._tag(n)
            where = F.expr(m.group(2)) if m.group(2) else F.lit(True)
            ret = _ret(t.read().filter(where)) if returning else None
            n = t.delete(where)
            self._refresh_view(name, t)
            return ret if ret is not None else self._tag(n)
        return None

    @staticmethod
    def _copy_options(opts: str | None) -> dict[str, str]:
        """Parse `(FORMAT CSV, HEADER true, DELIMITER '|')`-style COPY
        options (commands/copy.c ProcessCopyOptions). Defaults mirror
        PG text format: tab delimiter, no header."""
        out = {"format": "csv", "header": "false", "sep": "\t"}
        for item in _split_exprs(opts or ""):
            kv = item.strip().split(None, 1)
            key = kv[0].lower()
            val = kv[1].strip().strip("'") if len(kv) > 1 else "true"
            if key == "format":
                out["format"] = val.lower()
            elif key == "header":
                out["header"] = "true" if val.lower() in ("true", "on", "") else "false"
            elif key == "delimiter":
                out["sep"] = val
        return out

    def _copy_to(
        self, select: str | None, name: str | None, path: str, opts: str | None
    ) -> DataFrame:
        """COPY table|(query) TO 'path' (commands/copy.c DoCopyTo).
        Writes a *directory* of per-partition files — GP's
        `COPY ... TO '<file>' ON SEGMENT` semantics (each segment
        unloads its slice), which is the only shape that scales; a
        single-file unload would serialize 100 TB through one writer."""
        df = (
            self.spark.sql(sql_dialect.rewrite(select))
            if select
            else self.spark.table(name.split(".")[-1])
        )
        o = self._copy_options(opts)
        n = df.count()
        w = df.write.mode("overwrite")
        if o["format"] == "parquet":
            w.parquet(path)
            catalog.invalidate(path)
        else:
            w.option("header", o["header"]).option("sep", o["sep"]).csv(path)
        return self._tag(n)

    def _copy_from(self, name: str, path: str, opts: str | None) -> DataFrame:
        """COPY table FROM 'path' (commands/copy.c DoCopyFrom): read
        with the target's schema (PG casts input text through each
        column's input function), append via the table's insert path."""
        name = name.split(".")[-1]
        t = self._writable_by_name(name)
        if t is None:
            raise KeyError(f"{name!r} is not a writable parquet table")
        o = self._copy_options(opts)
        schema = t.read().schema
        if o["format"] == "parquet":
            df = catalog.read_parquet_table(self.spark, path)
            df = df.select(
                *[df[f.name].cast(f.dataType).alias(f.name) for f in schema.fields]
            )
        else:
            df = (
                self.spark.read.schema(schema)
                .option("header", o["header"])
                .option("sep", o["sep"])
                .csv(path)
            )
        n = df.count()
        t.insert(df)
        self._refresh_view(name, t)
        return self._tag(n)

    def _merge_stmt(self, s: str) -> DataFrame | None:
        """SQL-text MERGE (PG 15; reference parser/parse_merge.c,
        executor/nodeModifyTable.c ExecMerge):

            MERGE INTO tgt [AS t] USING src|(subquery) [AS s] ON cond
              WHEN MATCHED [AND c] THEN UPDATE SET ... | DELETE
              WHEN NOT MATCHED [AND c] THEN
                  INSERT [(cols)] VALUES (exprs) | DO NOTHING

        Lowered to ONE full-outer join on the merge condition plus an
        action column: WHEN clauses are evaluated in order (first
        passing clause wins, PG's semantics), actions select the output
        image per row, DELETE/skip rows are filtered, and the result
        swaps in copy-on-write. One shuffle on the join keys — the same
        cost envelope as SplitUpdate redistributing affected rows.

        Deviation (documented): PG errors when one target row matches
        multiple source rows ('MERGE command cannot affect row a second
        time'); here each (target, source) pair is merged independently.
        """
        import pyspark.sql.functions as F

        from warehouse_pg_spark.sql_dialect import _mask, _unmask

        masked, lits = _mask(s)
        parts = re.split(
            r"\bWHEN\s+(?=MATCHED\b|NOT\s+MATCHED\b)", masked,
            flags=re.IGNORECASE,
        )
        if len(parts) < 2:
            raise ValueError("MERGE requires at least one WHEN clause")
        header, clause_texts = parts[0], parts[1:]
        hm = re.match(
            r"^MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s+USING\s+",
            header,
            re.IGNORECASE,
        )
        if hm is None:
            raise ValueError(f"cannot parse MERGE header: {header[:80]!r}")
        name = hm.group(1).split(".")[-1]
        t = self._writable_by_name(name)
        if t is None:
            return None
        ta = hm.group(2) or name
        rest = header[hm.end():].strip()
        if rest.startswith("("):
            depth, i = 1, 1
            while i < len(rest) and depth:
                depth += {"(": 1, ")": -1}.get(rest[i], 0)
                i += 1
            src_sql, rest = _unmask(rest[1: i - 1], lits), rest[i:].strip()
            src_df = self.spark.sql(src_sql)
            sa = None
        else:
            sm = re.match(r"^([\w.]+)", rest)
            src_name = sm.group(1).split(".")[-1]
            src_df = self.spark.table(src_name)
            sa, rest = src_name, rest[sm.end():].strip()
        am = re.match(r"^(?:AS\s+)?(\w+)\s+", rest, re.IGNORECASE)
        if am and am.group(1).upper() != "ON":
            sa, rest = am.group(1), rest[am.end():].strip()
        if sa is None:
            raise ValueError("MERGE subquery source needs an alias")
        om = re.match(r"^ON\s+(.*)$", rest, re.IGNORECASE | re.DOTALL)
        if om is None:
            raise ValueError("MERGE requires ON <condition>")
        on_cond = _unmask(om.group(1).strip(), lits)

        # parse WHEN clauses: (is_matched, cond|None, kind, payload)
        clauses: list[tuple] = []
        for cl in clause_texts:
            cm = re.match(
                r"^(NOT\s+)?MATCHED\s*(?:AND\s+(.*?))?\s*THEN\s+(.*)$",
                cl.strip(),
                re.IGNORECASE | re.DOTALL,
            )
            if cm is None:
                raise ValueError(f"cannot parse MERGE WHEN clause: {cl[:80]!r}")
            is_matched = cm.group(1) is None
            cond = _unmask(cm.group(2), lits) if cm.group(2) else None
            action = cm.group(3).strip()
            um = re.match(r"^UPDATE\s+SET\s+(.*)$", action, re.IGNORECASE | re.DOTALL)
            im = re.match(
                r"^INSERT\s*(?:\(([^)]*)\))?\s*VALUES\s*\((.*)\)\s*$",
                action,
                re.IGNORECASE | re.DOTALL,
            )
            if um:
                if not is_matched:
                    raise ValueError("WHEN NOT MATCHED cannot UPDATE")
                assigns = {
                    c: _unmask(e, lits)
                    for c, e in _split_assignments(um.group(1))
                }
                clauses.append((is_matched, cond, "update", assigns))
            elif re.match(r"^DELETE\s*$", action, re.IGNORECASE):
                if not is_matched:
                    raise ValueError("WHEN NOT MATCHED cannot DELETE")
                clauses.append((is_matched, cond, "delete", None))
            elif im:
                if is_matched:
                    raise ValueError("WHEN MATCHED cannot INSERT")
                target_cols = (
                    [c.strip() for c in im.group(1).split(",")]
                    if im.group(1)
                    else None
                )
                vals = [_unmask(v, lits) for v in _split_exprs(im.group(2))]
                clauses.append((is_matched, cond, "insert", (target_cols, vals)))
            elif re.match(r"^DO\s+NOTHING\s*$", action, re.IGNORECASE):
                clauses.append((is_matched, cond, "nothing", None))
            else:
                raise ValueError(f"unsupported MERGE action: {action[:60]!r}")

        target = t.read()
        tj = target.withColumn("__t", F.lit(1)).alias(ta)
        sj = src_df.withColumn("__s", F.lit(1)).alias(sa)
        joined = tj.join(sj, F.expr(on_cond), "full_outer")
        matched = (
            F.col(f"{ta}.__t").isNotNull() & F.col(f"{sa}.__s").isNotNull()
        )
        src_only = F.col(f"{ta}.__t").isNull()

        act = None
        for i, (is_m, cond, kind, _p) in enumerate(clauses):
            c = matched if is_m else src_only
            if cond:
                c = c & F.expr(cond)
            act = (act.when if act is not None else F.when)(c, F.lit(f"a{i}"))
        act = act.when(F.col(f"{ta}.__t").isNotNull(), F.lit("keep")).otherwise(
            F.lit("skip")
        )
        staged = joined.withColumn("__act", act).localCheckpoint(eager=True)

        # DELETE drops its target row; DO NOTHING drops only when the
        # row is source-only (a matched DO NOTHING keeps the target row
        # untouched — it merely stops later clauses from firing)
        drop_ids = ["skip"] + [
            f"a{i}"
            for i, cl in enumerate(clauses)
            if cl[2] == "delete" or (cl[2] == "nothing" and not cl[0])
        ]
        out = staged.filter(~F.col("__act").isin(drop_ids))
        cols = []
        for c in target.columns:
            dt = target.schema[c].dataType
            w = None
            for i, (_is_m, _cond, kind, payload) in enumerate(clauses):
                if kind == "update":
                    v = (
                        F.expr(payload[c]).cast(dt)
                        if c in payload
                        else F.col(f"{ta}.{c}")
                    )
                elif kind == "insert":
                    tcols, vals = payload
                    order = tcols if tcols is not None else target.columns
                    v = (
                        F.expr(vals[order.index(c)]).cast(dt)
                        if c in order and order.index(c) < len(vals)
                        else F.lit(None).cast(dt)
                    )
                else:
                    continue
                w = (w.when if w is not None else F.when)(
                    F.col("__act") == f"a{i}", v
                )
            base_col = F.col(f"{ta}.{c}")
            cols.append((w.otherwise(base_col) if w is not None else base_col).alias(c))
        result = out.select(*cols)
        n = staged.filter(
            F.col("__act").isin([
                f"a{i}" for i, cl in enumerate(clauses) if cl[2] != "nothing"
            ])
        ).count()
        t._swap_in(result)
        self._refresh_view(name, t)
        return self._tag(n)

    def _rid_view(self, t: ParquetTable, name: str) -> DataFrame:
        """Snapshot the target with a stable rowid and expose it as
        `__dml_target` (plus the table's own name, so WHERE text that
        qualifies columns keeps resolving). localCheckpoint pins the
        snapshot — the copy-on-write swap would otherwise invalidate
        the files mid-plan. The COW rewrite materializes the full table
        anyway, so the checkpoint adds no asymptotic cost."""
        import pyspark.sql.functions as F

        base = (
            t.read()
            .withColumn("__rid", F.monotonically_increasing_id())
            .localCheckpoint(eager=True)
        )
        base.createOrReplaceTempView("__dml_target")
        return base

    def _update_subquery(
        self,
        name: str,
        t: ParquetTable,
        set_clause: str,
        where: str,
        returning: str | None,
        _ret,
    ) -> DataFrame:
        """UPDATE whose WHERE carries a subquery (IN/EXISTS/scalar —
        regress update.sql): match rowids via spark.sql, apply SET to
        the semi-joined half, union the anti-joined rest, swap."""
        import pyspark.sql.functions as F

        base = self._rid_view(t, name)
        matched = self.spark.sql(
            f"SELECT __rid FROM __dml_target WHERE {where}"
        )
        assigns = dict(_split_assignments(set_clause))
        schema = t.read().schema
        hit = base.join(matched, "__rid", "left_semi")
        updated = hit.select(
            "__rid",
            *[
                (
                    F.expr(assigns[c]).cast(schema[c].dataType)
                    if c in assigns
                    else F.col(c)
                ).alias(c)
                for c in schema.fieldNames()
            ],
        )
        ret = _ret(updated.drop("__rid")) if returning else None
        n = matched.count()
        rest = base.join(matched, "__rid", "left_anti")
        t._swap_in(updated.unionByName(rest).drop("__rid"))
        self._refresh_view(name, t)
        return ret if ret is not None else self._tag(n)

    def _update_from(
        self,
        tname: str,
        set_clause: str,
        src_name: str,
        src_alias: str | None,
        where: str,
        returning: str | None = None,
        _ret=None,
    ) -> DataFrame | None:
        """PG `UPDATE t SET c = expr FROM s WHERE join_cond` (gram.y
        UpdateStmt from_clause; planner turns it into a join whose inner
        is the target — same plan here): left-join the target onto the
        source on the WHERE condition, apply SET expressions to matched
        rows, pass unmatched rows through, rewrite copy-on-write.

        PG picks an arbitrary source row when several match one target
        row; we pick deterministically (first by the source's column
        ordering) so the statement stays a function.
        """
        import pyspark.sql.functions as F
        from pyspark.sql.window import Window

        tname = tname.split(".")[-1]
        t = self._writable_by_name(tname)
        if t is None:
            return None
        salias = src_alias or src_name.split(".")[-1]
        target = t.read()
        src = self.spark.table(src_name).withColumn("__s", F.lit(1)).alias(salias)
        tagged = target.withColumn(
            "__tid", F.monotonically_increasing_id()
        ).alias(tname)

        joined = tagged.join(src, F.expr(where), "left")
        pick_w = Window.partitionBy("__tid").orderBy(
            *[F.col(f"{salias}.{c}") for c in self.spark.table(src_name).columns]
        )
        picked = (
            joined.withColumn("__rn", F.row_number().over(pick_w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )
        assigns = dict(_split_assignments(set_clause))
        matched = F.col("__s").isNotNull()
        out_cols = []
        for c in target.columns:
            if c in assigns:
                out_cols.append(
                    F.when(matched, F.expr(assigns[c]))
                    .otherwise(F.col(f"{tname}.{c}"))
                    .cast(target.schema[c].dataType)
                    .alias(c)
                )
            else:
                out_cols.append(F.col(f"{tname}.{c}").alias(c))
        n = picked.filter(matched).count()
        ret = (
            _ret(picked.filter(matched).select(*out_cols))
            if returning
            else None
        )
        t._swap_in(picked.select(*out_cols))
        self._refresh_view(tname, t)
        return ret if ret is not None else self._tag(n)

    def _writable_by_name(self, name: str) -> ParquetTable | None:
        info = self.catalog.tables.get(name)
        if info is None or not info.path or not os.path.isdir(info.path):
            # a relation living only in the Spark catalog (raw-DDL
            # CREATE, TEMP CTAS view, DISTRIBUTED-hint create):
            # ADOPT it — materialize into the engine warehouse and
            # register, so UPDATE/DELETE/TRUNCATE get the
            # copy-on-write parquet heap they mutate
            # (nodeModifyTable.c needs a table the executor owns);
            # the refreshed temp view shadows the original
            if name.startswith(("pg_", "gp_")) or \
                    name in self._matviews:
                return None
            try:
                df = self.spark.table(name)
                path = os.path.join(self.warehouse_dir, name)
                # eager write: reads the source fully BEFORE the
                # originals drop below
                df.write.mode("overwrite").parquet(path)
                catalog.invalidate(path)
            except Exception:  # noqa: BLE001 — not a relation
                return None
            # adoption takes OWNERSHIP: the Spark-catalog original
            # (managed table or temp view) drops BEFORE the engine
            # view registers — otherwise Spark's DROP TABLE resolves
            # the new shadow view and the orphaned managed table
            # collides with a later re-CREATE
            try:
                self.spark.catalog.dropTempView(name)
            except Exception:  # noqa: BLE001
                pass
            try:
                self.spark.sql(f"DROP TABLE IF EXISTS {name}")
            except Exception:  # noqa: BLE001
                pass
            self.catalog.register_parquet(name, path)
            info = self.catalog.tables.get(name)
            if info is None or not info.path or not os.path.isdir(
                    info.path):
                return None
        return ParquetTable(self.spark, info.path)

    def _refresh_view(self, name: str, t: ParquetTable) -> None:
        t.read().createOrReplaceTempView(name)

    def _tag(self, n: int) -> DataFrame:
        return self.spark.createDataFrame([(n,)], "rows_affected BIGINT")

    # ------------------------------------------------------------- catalog
    def attach_fixtures(self, sf_dir: str) -> None:
        self.catalog.register_fixtures(sf_dir)

    def attach_parquet(self, name: str, path: str, **kw) -> None:
        self.catalog.register_parquet(name, path, **kw)

    # ----------------------------------------------------------------- UDF
    def create_function(
        self, name: str, fn, return_type, volatility: str = "immutable"
    ) -> None:
        """CREATE FUNCTION for Python callables (§2.11). Row-at-a-time —
        the slow path; prefer create_sql_function / pandas UDFs.

        volatility mirrors PG's classes (pg_proc.provolatile,
        CREATE FUNCTION ... IMMUTABLE | STABLE | VOLATILE):
        immutable/stable UDFs stay deterministic (Catalyst may collapse
        duplicate calls, constant-fold, reorder past filters); volatile
        marks the UDF non-deterministic so the optimizer evaluates it
        exactly as written (no dedup, no pushdown past it) — Spark's
        asNondeterministic is precisely PG's volatile contract."""
        from pyspark.sql.functions import udf

        if volatility.lower() == "volatile":
            self.spark.udf.register(
                name, udf(fn, return_type).asNondeterministic()
            )
        else:
            self.spark.udf.register(name, fn, return_type)

    def create_sql_function(self, name: str, signature: str, returns: str, body: str) -> None:
        """CREATE FUNCTION as a pure-SQL expression (fast path: Catalyst
        codegen, no Python boundary)."""
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({signature}) "
            f"RETURNS {returns} RETURN {body}"
        )

    def create_pandas_aggregate(self, name: str, fn, return_type) -> None:
        """CREATE AGGREGATE via vectorized pandas GROUPED_AGG UDF
        (reference commands/aggregatecmds.c; partial-merge caveat
        documented in SURVEY §7.5)."""
        from pyspark.sql.functions import PandasUDFType, pandas_udf

        self.spark.udf.register(
            name, pandas_udf(fn, return_type, PandasUDFType.GROUPED_AGG)
        )

    # ----------------------------------------------------------------- DML
    def writable(self, path: str) -> ParquetTable:
        return ParquetTable(self.spark, path)

    def create_table_from(self, name: str, df: DataFrame, partition_by: tuple[str, ...] = ()) -> ParquetTable:
        """CTAS into the warehouse dir; registers a view."""
        path = os.path.join(self.warehouse_dir, name)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        catalog.invalidate(path)
        self.catalog.register_parquet(name, path, partition_cols=partition_by)
        return ParquetTable(self.spark, path)

    def create_bucketed_table(
        self,
        name: str,
        df: DataFrame,
        keys: tuple[str, ...],
        num_buckets: int = 32,
    ) -> DataFrame:
        """`CREATE TABLE ... DISTRIBUTED BY (keys)` with real data
        placement: bucketed managed table (see
        Catalog.materialize_bucketed)."""
        return self.catalog.materialize_bucketed(name, df, keys, num_buckets)

    def analyze(self, name: str, columns: tuple[str, ...] = ()) -> None:
        """ANALYZE (commands/analyze.c): compute table + column stats
        feeding Catalyst CBO join reordering (ORCA's statistics
        derivation analogue, SURVEY §4.1). Works on catalog tables
        (bucketed/CTAS), not temp views."""
        stmt = f"ANALYZE TABLE {name} COMPUTE STATISTICS"
        self.spark.sql(stmt)
        if columns:
            self.spark.sql(
                f"ANALYZE TABLE {name} COMPUTE STATISTICS FOR COLUMNS "
                + ", ".join(columns)
            )

    # ------------------------------------------------------------ matviews
    def create_materialized_view(self, name: str, sql: str) -> DataFrame:
        """CREATE MATERIALIZED VIEW (commands/matview.c analogue):
        results persisted as parquet + registered; refresh re-runs."""
        path = os.path.join(self.warehouse_dir, f"_mv_{name}")
        df = self.sql(sql)
        df.write.mode("overwrite").parquet(path)
        catalog.invalidate(path)
        self._matviews[name] = MaterializedView(name, sql, path)
        catalog.read_parquet_table(self.spark, path).createOrReplaceTempView(name)
        return self.spark.table(name)

    def refresh_materialized_view(self, name: str) -> DataFrame:
        mv = self._matviews[name]
        return self.create_materialized_view(mv.name, mv.sql)

    # -------------------------------------------------------- introspection
    def metrics(self) -> DataFrame:
        """Cluster/table introspection (gp_toolkit / gp_size_of_* and
        pg_relation_size analogues, SURVEY §2.9 misc): one row per
        registered table with row count, on-disk bytes, file count, and
        the distribution hint. Sizes come from the filesystem (the
        storage layer a DBA actually bills), row counts from a
        metadata-only parquet count."""
        rows = []
        for name, info in sorted(self.catalog.tables.items()):
            # Pathless entries are bucketed managed tables
            # (materialize_bucketed stores path=""): resolve through the
            # Spark catalog and size the warehouse directory instead.
            path = info.path
            if not path:
                warehouse = self.spark.conf.get(
                    "spark.sql.warehouse.dir", "spark-warehouse"
                )
                path = os.path.join(warehouse.removeprefix("file:"), name)
            n_bytes, n_files = 0, 0
            if os.path.isdir(path):
                for root, _dirs, files in os.walk(path):
                    for f in files:
                        if not f.startswith(("_", ".")):
                            n_files += 1
                            n_bytes += os.path.getsize(os.path.join(root, f))
            elif os.path.exists(path):
                n_files, n_bytes = 1, os.path.getsize(path)
            try:
                n_rows = (
                    self.catalog.load(name) if info.path else self.spark.table(name)
                ).count()
            except Exception:
                # Catalog entries can outlive their backing relation
                # (DDL-registered names dropped mid-session, stale temp
                # views): report them absent rather than failing the
                # whole introspection sweep — pg_stat rows for dropped
                # relations simply disappear in PG too.
                continue
            policy, keys = info.distribution
            rows.append((name, n_rows, n_bytes, n_files, policy, list(keys)))
        return self.spark.createDataFrame(
            rows,
            "table_name string, n_rows long, n_bytes long, n_files long, "
            "distribution string, dist_keys array<string>",
        )
