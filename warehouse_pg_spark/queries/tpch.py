"""TPC-H-shaped headline queries over the fixture star schema.

These mirror the reference's own planner benchmark workload
(reference: src/test/regress/sql/tpch500GB.sql) adapted to the fixture
columns. Each exercises a SURVEY §2 operator cluster:

  q1  — scan → filter → hash agg (8 aggregates, partial/final) → sort
        (reference executor: nodeAgg.c multi-stage, cdbgroupingpaths.c:258)
  q3  — 3-way join → agg → top-K (TakeOrderedAndProject)
  q5  — 6-way star join with broadcast dims → agg
  q6  — scan-dominant filter → scalar agg
  q10 — outer fact join + group by many keys → top-K

Scale notes: lineitem is the only big table. Broadcast policy:
F.broadcast() is FORCED only for dims whose size is scale-invariant
(nation, region: 25/5 rows at any SF) or provably tiny (scalar
subquery results). Linear-growth tables (customer, supplier, part)
carry no hint — the static planner / AQE broadcasts them while their
actual size is under spark.sql.autoBroadcastJoinThreshold and falls
back to shuffle joins at 100 TB, where forcing the broadcast would
OOM the driver. At 100 TB, lineitem joins shuffle-hash on
l_orderkey = o_orderkey — the catalog's hash distribution hints keep
those co-partitioned if tables are bucketed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from warehouse_pg_spark.queries.registry import (
    MONEY,
    davg,
    dec,
    dsum,
    oracle_davg,
    register,
    table,
)
from warehouse_pg_spark.queries.registry import table_bytes as _table_bytes

# Reused expressions: exact decimal arithmetic (parity rule 1).
_DISC_PRICE = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
_CHARGE = f"{_DISC_PRICE} * (1 + CAST(l_tax AS DECIMAL(18,2)))"


def _disc_price() -> F.Column:
    return dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))


def _charge() -> F.Column:
    return _disc_price() * (F.lit(1) + dec("l_tax"))


@register(
    "tpch_q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS sum_base_price,
           CAST(SUM({_DISC_PRICE}) AS DECIMAL(38,4)) AS sum_disc_price,
           CAST(SUM({_CHARGE}) AS DECIMAL(38,6)) AS sum_charge,
           {oracle_davg('l_quantity')} AS avg_qty,
           {oracle_davg('l_extendedprice')} AS avg_price,
           {oracle_davg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "scan", "bench"),
)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1: multi-aggregate pricing summary (flagship query)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(dec("l_quantity")).alias("sum_qty"),
            dsum(dec("l_extendedprice")).alias("sum_base_price"),
            dsum(_disc_price(), 4).alias("sum_disc_price"),
            dsum(_charge(), 6).alias("sum_charge"),
            davg(dec("l_quantity")).alias("avg_qty"),
            davg(dec("l_extendedprice")).alias("avg_price"),
            davg(dec("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           CAST(SUM({_DISC_PRICE}) AS DECIMAL(38,4)) AS revenue,
           CAST(o_orderdate AS DATE) AS o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1996-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk", "bench"),
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: join-agg-topK. Dims broadcast; fact join on orderkey.

    Join order: orders ⋈ customer FIRST (dim ⋈ dim — CBO would need
    stats to find this; r17 measured it), so the fact side sees ONE
    join against a side pre-reduced by the segment filter (~5x smaller
    than orders alone) instead of two joins; at 100 TB the same order
    halves the passes over lineitem and, if the broadcast ever falls
    back to shuffle, shuffles lineitem against the reduced side.

    The reduced side (oc) is explicitly broadcast while the orders
    input is small enough that oc provably fits: the join output has
    no size estimate, so the static planner would otherwise broadcast
    the *estimable filtered fact* — fine at sf0.1, but a measured
    cliff at sf1 (fact BuildLeft: 3.3 s vs 0.95 s broadcast-oc, r18
    final-plan A/B) and fatal at 100 TB. r17's SHUFFLE_HASH hint
    avoided the cliff but paid a fact-side shuffle write AQE cannot
    undo (r18: 1.46 s at sf1, 0.88 vs 0.84 broadcast-oc at sf0.1).
    Broadcasting oc keeps the fact streaming with zero exchanges on
    it at every measured scale; past the size guard (orders on disk >
    2 GiB ⇒ oc in the hundreds of MB), or with broadcasts disabled by
    autoBroadcastJoinThreshold=-1, it degrades to the co-shuffled hash
    join (guide §3.1)."""
    cust = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-03-15").cast("timestamp")
    )
    oc = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "o_orderdate"
    )
    # an explicit broadcast ignores the threshold, so honour its -1 here
    bcast_off = spark.conf.get("spark.sql.autoBroadcastJoinThreshold").startswith("-")
    if not bcast_off and _table_bytes(sf_dir, "orders") < 2 << 30:
        oc = F.broadcast(oc)
    else:
        oc = oc.hint("shuffle_hash")
    return (
        li.join(oc, li.l_orderkey == oc.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(dsum(_disc_price(), 4).alias("revenue"))
        .select(
            "l_orderkey", "revenue", F.col("o_orderdate").cast("date").alias("o_orderdate")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           CAST(SUM({_DISC_PRICE}) AS DECIMAL(38,4)) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
    tags=("join", "agg", "broadcast", "bench"),
)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way star join; every dim side is broadcastable."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(_disc_price(), 4).alias("revenue"))
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle=f"""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
    tags=("scan", "filter", "bench"),
)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pushdown-heavy filter → scalar agg (no grouping)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(dsum(dec("l_extendedprice") * dec("l_discount"), 4).alias("revenue"))
    )


@register(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(SUM({_DISC_PRICE}) AS DECIMAL(38,4)) AS revenue,
           CAST(c_acctbal AS DECIMAL(18,2)) AS c_acctbal,
           n_name
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "agg", "topk", "bench"),
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: returned-item revenue by customer, top 20 — via LATE
    MATERIALIZATION: revenue needs only lineitem ⋈ orders, and
    c_custkey determines (c_name, c_acctbal, n_name), so aggregate by
    the bare custkey (narrow bigint shuffle rows), take the top 20 on
    the aggregate, and only then join the 20-row result (broadcast, the
    scale-invariant side) to customer/nation for the display columns.
    At 100 TB this removes an entire fact-side customer join and
    shrinks the agg shuffle from 4 wide key columns to one bigint."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = table(spark, sf_dir, "nation")
    top = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(dsum(_disc_price(), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_custkey"))
        .limit(20)
    )
    return (
        F.broadcast(top)
        .join(cust, top.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            dec("c_acctbal").alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
    )
