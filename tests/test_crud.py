"""Canonical mutation semantics (SURVEY.md §2.1, §5.1): cascades,
null-deletes-key, merge-update, endpoint validation, typed equality."""

import pyspark.sql.functions as F

from akka_graph_db_spark.model import prop_double, prop_str
from akka_graph_db_spark.operators import crud, scan
from conftest import ids


def test_remove_node_cascades(micro):
    g2 = crud.remove_nodes_by_id(micro, [1])
    assert 1 not in ids(g2.nodes)
    # every edge touching node 1 is gone (incl. self-loop + parallel pair)
    remaining = ids(g2.edges)
    for eid in (100, 101, 102, 103, 104, 105, 107):
        assert eid not in remaining
    assert 106 in remaining and 114 in remaining


def test_remove_nodes_label_none_matches_all(micro):
    # age==30 matches alice (person) and dave (person) — here nodes 1 and 8;
    # with label=None the filter must span ALL labels (remote semantics,
    # NOT the embedded 'DEFAULT' bug)
    g2 = crud.remove_nodes(micro, None, {"age": 30})
    assert ids(g2.nodes) == [2, 3, 4, 5, 6, 7, 9, 10]


def test_update_null_deletes_key(micro):
    g2 = crud.update_nodes(micro, {1: {"age": None, "level": 9}})
    row = scan.get_node(g2, 1).select(
        prop_str("props", "age").alias("age"),
        prop_double("props", "level").alias("level"),
        prop_str("props", "name").alias("name"),
    ).collect()[0]
    assert row["age"] is None  # deleted
    assert row["level"] == 9.0  # added
    assert row["name"] == "alice"  # untouched


def test_update_merge_on_null_props(spark, micro):
    g = micro.with_nodes(
        micro.nodes.withColumn(
            "props",
            F.when(F.col("id") == 9, F.lit(None)).otherwise(F.col("props")),
        )
    )
    g2 = crud.update_nodes(g, {9: {"k": "v"}})
    row = scan.get_node(g2, 9).select(
        prop_str("props", "k").alias("k")
    ).collect()[0]
    assert row["k"] == "v"


def test_add_edges_validates_endpoints(micro):
    g2 = crud.add_edges(
        micro,
        [(200, "e", 1, 2, {}), (201, "e", 1, 999, {}), (202, "e", 998, 2, {})],
    )
    assert ids(scan.get_edges(g2, "e")) == [200]


def test_update_edge_merge(micro):
    g2 = crud.update_edges(micro, {100: {"since": 2021, "why": "work"}})
    row = (
        g2.edges.where(F.col("id") == 100)
        .select(
            prop_double("props", "since").alias("since"),
            prop_str("props", "why").alias("why"),
        )
        .collect()[0]
    )
    assert row["since"] == 2021.0 and row["why"] == "work"


def test_typed_equality_string_vs_number(micro):
    # node 10 has name="12" (a STRING) — numeric query must NOT match
    assert ids(scan.get_nodes(micro, None, {"name": 12})) == []
    assert ids(scan.get_nodes(micro, None, {"name": "12"})) == [10]


def test_typed_equality_bool(micro):
    assert ids(scan.get_nodes(micro, None, {"vip": True})) == [1]
    # stored true must not match the string "true"
    assert ids(scan.get_nodes(micro, None, {"vip": "true"})) == []


def test_number_precision_roundtrip(micro):
    row = (
        micro.edges.where(F.col("id") == 114)
        .select(prop_double("props", "km").alias("km"))
        .collect()[0]
    )
    assert row["km"] == 9727.5


def test_duplicate_id_dataframe_update_keeps_unique_rows(spark, micro):
    changes = spark.createDataFrame(
        [(1, {"a": '"x"'}), (1, {"b": '"y"'})],
        "id bigint, changes map<string,string>",
    )
    g2 = crud.update_nodes(micro, changes)
    rows = g2.nodes.where("id = 1").collect()
    assert len(rows) == 1
    assert rows[0]["props"]["a"] == '"x"' and rows[0]["props"]["b"] == '"y"'


def test_timestamp_string_query_consistent_across_tiers(spark):
    from akka_graph_db_spark.sources.tpch import graph_from_tpch

    g = graph_from_tpch(spark, "/root/testdata/sf0.001", promote=True)
    ts = (
        g.edges.where("label = 'placed'")
        .select("orderdate")
        .first()["orderdate"]
    )
    q = ts.strftime("%Y-%m-%d %H:%M:%S.%f")
    promoted = scan.get_edges(g, "placed", {"orderdate": q}).count()
    props_tier = scan.get_edges(g.core(), "placed", {"orderdate": q}).count()
    assert promoted == props_tier > 0


def test_update_after_promotion_falls_back_to_props(spark):
    # the promoted graph loses its typed columns after a mutation (they'd be
    # stale) — subsequent predicates must still work via the props tier
    from akka_graph_db_spark.sources.tpch import graph_from_tpch

    g = graph_from_tpch(spark, "/root/testdata/sf0.001", promote=True)
    before = scan.get_nodes(g, "customer", {"mktsegment": "BUILDING"}).count()
    g2 = crud.update_nodes(g, {2_000_001: {"note": "x"}})
    assert "mktsegment" not in g2.nodes.columns
    after = scan.get_nodes(g2, "customer", {"mktsegment": "BUILDING"}).count()
    assert after == before


def test_remove_edges_by_predicate(micro):
    g2 = crud.remove_edges(micro, "knows", {"w": 1})
    assert 104 not in ids(g2.edges)
    assert 103 in ids(g2.edges)  # the parallel twin without w survives


def test_generator_ids_materialized_once(spark, micro):
    # ADVICE r2: a one-shot iterable must not be exhausted by the size probe.
    g = crud.remove_nodes_by_id(micro, (i for i in [7]))
    assert 7 not in ids(g.nodes)
    g2 = crud.remove_edges_by_id(micro, (i for i in [114]))
    assert 114 not in ids(g2.edges)


def test_non_finite_float_props_raise(micro):
    import pytest

    from akka_graph_db_spark.api import GraphDB
    from akka_graph_db_spark.model import encode_py_value

    for bad in (float("nan"), float("inf"), float("-inf")):
        with pytest.raises(ValueError):
            encode_py_value(bad)
        with pytest.raises(ValueError):
            crud.add_nodes(micro, [(50, "t", {"x": bad})])
        db = GraphDB(micro)
        with pytest.raises(ValueError):
            db.add_node("t", {"x": bad}, node_id=50)
        with pytest.raises(ValueError):
            db.update_node(1, {"x": bad})
        assert db.graph is micro  # nothing was written
