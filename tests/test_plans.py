"""Physical-plan regression guards.

PLANS.md documents the plans we shipped; these tests FAIL the suite if a
future change silently loses a pushed filter, upgrades a broadcast join
to a shuffle, or introduces a cartesian product — the three plan
regressions that stay invisible at sf0.001 and explode at 100 TB.
The graph fixture is parquet-backed (same loader the driver uses), so
scan-level assertions see real PushedFilters.
"""

import contextlib
import io
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def pg(spark):
    """Parquet-backed graph snapshot (scan assertions need real files)."""
    import __spark_entry__ as entrymod

    old = os.environ.pop("SPARK_GRAFT_SNAPSHOT_ROOT", None)
    try:
        return entrymod._g(spark, SF)
    finally:
        if old is not None:
            os.environ["SPARK_GRAFT_SNAPSHOT_ROOT"] = old


def test_promoted_column_predicate_reaches_parquet(spark, pg):
    from akka_graph_db_spark.operators import scan

    plan = formatted_plan(
        scan.get_nodes(pg, "customer", {"mktsegment": "BUILDING"})
    )
    # the property equality must ride the promoted column into the scan
    assert "PushedFilters" in plan
    assert "mktsegment" in plan.split("PushedFilters")[1][:400]


def test_point_lookup_pushes_id(spark, pg):
    from akka_graph_db_spark.operators import scan

    plan = formatted_plan(scan.get_node(pg, 2_000_007))
    pushed = plan.split("PushedFilters")[1][:200]
    assert "id" in pushed


def test_edge_hydration_uses_broadcast_join(spark, pg):
    from akka_graph_db_spark.operators import scan

    plan = formatted_plan(scan.get_edge(pg, 130_000_001))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_find_pattern_no_cartesian_and_anti_join(spark, pg):
    from akka_graph_db_spark.operators import analytics

    df = analytics.find_pattern(
        pg,
        "(c)-[:placed]->(o); (o)-[:contains]->(p); !(p)-[:supplied_by]->(s)",
    )
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan  # negation compiles to anti-join, not NOT IN


def test_bloom_prune_stays_broadcast(spark):
    from akka_graph_db_spark.functions import bloom

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    cust = spark.read.parquet(f"{SF}/customer.parquet")
    bits = bloom.bloom_build(orders, "o_custkey", m_bits=2048, k=2)
    plan = formatted_plan(bloom.bloom_prune(cust, "c_custkey", bits, 2048, 2))
    # k probe joins must all be broadcast semi-joins: the probe side
    # never shuffles
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning(c_custkey" not in plan


def test_tpch_q6_predicates_pushed(spark):
    import __spark_entry__ as entrymod

    plan = formatted_plan(entrymod.q_tpch_q6(spark, SF))
    pushed = plan.split("PushedFilters")[1][:400]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, col


def test_scan_prunes_columns(spark):
    # a 2-column projection must not read the whole documents schema
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = formatted_plan(docs.select("doc_id", "lang"))
    sched = plan.split("ReadSchema")[1][:200]
    assert "doc_id" in sched and "lang" in sched
    assert "text" not in sched  # the wide column stays unread


def _facade_writes(db, n):
    """``n`` single-row facade writes cycling through the four write kinds
    (sf0.001 ids: customers 2_000_001.., orders 5_000_001..)."""
    for i in range(n):
        kind = i % 4
        if kind == 0:
            db.add_node("customer", {"name": f"new{i}"}, node_id=2_900_000 + i)
        elif kind == 1:
            db.add_edge("placed", 2_900_000 + i - 1, 5_000_001,
                        edge_id=139_000_000 + i)
        elif kind == 2:
            db.update_node(2_000_001 + i, {"acctbal": i})
        else:
            db.remove_node(2_000_100 + i)


def _analyzed_lines(df) -> int:
    return len(df._jdf.queryExecution().analyzed().toString().splitlines())


def test_facade_writes_keep_plan_shape(spark, pg, monkeypatch):
    """A read after N facade writes plans the same frames as after two:
    the write overlay composes one fixed-shape plan, it does not stack a
    join per write; the id still reaches the parquet scan; and folding
    the overlay into a checkpoint leaves every answer unchanged."""
    from akka_graph_db_spark import api
    from akka_graph_db_spark.operators import scan

    two, twelve = api.GraphDB(pg), api.GraphDB(pg)
    _facade_writes(two, 2)
    _facade_writes(twelve, 12)
    for frame in ("nodes", "edges"):
        assert _analyzed_lines(getattr(two.graph, frame)) == _analyzed_lines(
            getattr(twelve.graph, frame))

    plan = formatted_plan(scan.get_node(twelve.graph, 2_000_007))
    assert "id" in plan.split("PushedFilters")[1][:200]
    assert twelve.get_node(2_000_007)["props"]["mktsegment"] == '"HOUSEHOLD"'

    monkeypatch.setattr(api, "_OVERLAY_MAX_ROWS", 4)
    folded = api.GraphDB(pg)
    _facade_writes(folded, 12)
    assert "LogicalRDD" in folded.graph.nodes._jdf.queryExecution().analyzed().toString()
    for nid in (2_900_000, 2_900_008, 2_000_003, 2_000_011, 2_000_103):
        assert folded.get_node(nid) == twelve.get_node(nid)
    for eid in (139_000_001, 139_000_005, 139_000_009):
        assert folded.get_edge(eid) == twelve.get_edge(eid)
    for frame in ("nodes", "edges"):
        assert getattr(folded.graph, frame).count() == getattr(
            twelve.graph, frame).count()
