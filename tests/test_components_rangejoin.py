"""Connected components + bucketed range join (operators/components.py,
operators/rangejoin.py).

Components: a path graph has diameter > 1, so min-label propagation must
actually iterate (clique fixtures would converge in one round and hide
propagation bugs). Range join: the physical plan must contain NO
BroadcastNestedLoopJoin / CartesianProduct — avoiding the nested loop is
the operator's entire reason to exist — and its output must equal the
naive inequality join.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hridaya_steam_market_tracker_spark.operators.components import (
    connected_components,
)
from hridaya_steam_market_tracker_spark.operators.rangejoin import (
    interval_join_trailing,
)
from hridaya_steam_market_tracker_spark.tables import table

SF_DIR = "/root/testdata/sf0.01"


def test_components_path_graph_and_singleton(spark):
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], ["doc_id"])
    # chain 1-2-3-4-5-6 (diameter 5) + isolated 7
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], ["i", "j"]
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 7: 7}


def test_components_raises_without_fixpoint(spark):
    # chain 0-1-...-19 (diameter 19) needs 20 rounds, beyond the default
    # 15: the labels of nodes 16-19 would still be 1-4, not 0.
    nodes = spark.range(20).select(F.col("id").alias("doc_id"))
    edges = spark.createDataFrame(
        [(k, k + 1) for k in range(19)], "i long, j long"
    )
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(nodes, edges)


def test_components_two_cliques_bridge(spark):
    nodes = spark.createDataFrame([(i,) for i in range(10, 17)], ["doc_id"])
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (10, 12), (14, 15), (15, 16), (12, 14)],
        ["i", "j"],
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {10: 10, 11: 10, 12: 10, 13: 13, 14: 10, 15: 10, 16: 10}


def test_interval_join_no_nested_loop_and_matches_naive(spark):
    events = table(spark, SF_DIR, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    views = events.filter(F.col("event_type") == "view").select(
        "event_id", "ts", "user_id"
    )
    bucketed = interval_join_trailing(
        purchases, views, key="user_id", window_sec=3600
    ).select("event_id", "r_event_id")

    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    naive = (
        purchases.alias("p")
        .join(
            views.alias("v"),
            (F.col("p.user_id") == F.col("v.user_id"))
            & (F.col("v.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("v.ts") < F.col("p.ts")),
        )
        .select(F.col("p.event_id").alias("event_id"), F.col("v.event_id").alias("r_event_id"))
    )
    assert bucketed.count() == naive.count() > 0
    assert bucketed.exceptAll(naive).isEmpty()
    assert naive.exceptAll(bucketed).isEmpty()
