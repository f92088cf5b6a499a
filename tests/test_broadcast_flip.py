"""Broadcast→shuffle flip under AQE — the sf100 what-if, tested.

SCALING.md's claim is that linear-growth dims (customer, supplier,
part) broadcast only while under spark.sql.autoBroadcastJoinThreshold
and flip to shuffle joins when they outgrow it (~sf100 on default
10 MB), with no correctness change. Simulate the outgrowing cheaply by
disabling the threshold: the static planner and AQE must re-plan those
joins as SortMergeJoin/ShuffledHashJoin, scale-invariant dims (nation,
region: 25/5 rows at EVERY SF) may keep their explicit broadcast hint,
and results must still match the DuckDB oracle bit-for-bit.
"""

from __future__ import annotations

import pytest

from tests.parity import compare
from tests.test_plans import plan_of
from warehouse_pg_spark.queries import REGISTRY


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


@pytest.mark.parametrize(
    "name",
    ["tpch_q3_shipping_priority", "tpch_q9_product_type_profit"],
)
def test_flip_replans_to_shuffle_join_with_same_results(
    spark, sf_dir, name, no_broadcast
):
    # q3's explicit broadcast of the orders⋈customer join output must
    # honour the disabled threshold too
    plan = plan_of(spark, sf_dir, name)
    # the un-hinted (linear-growth) joins must no longer broadcast
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    # only hinted scale-invariant dims may still broadcast; q3 joins
    # customer (no hint) so its plan must carry zero broadcasts
    if name == "tpch_q3_shipping_priority":
        assert "BroadcastHashJoin" not in plan, plan
    q = REGISTRY[name]
    compare(q.fn(spark, sf_dir), q.oracle, sf_dir, name=f"{name}[no-bcast]")


def test_default_plan_still_broadcasts_small_dims(spark, sf_dir):
    """Sanity inverse: with the default threshold the same joins DO
    broadcast at test SF — proving the flip test actually flipped."""
    plan = plan_of(spark, sf_dir, "tpch_q3_shipping_priority")
    assert "BroadcastHashJoin" in plan, plan
