"""Facade parity: the reference's interactive call pattern end-to-end."""

from akka_graph_db_spark.api import GraphDB


def test_reference_workflow(spark):
    db = GraphDB.empty(spark)
    a = db.add_node("person", {"name": "ann"})
    b = db.add_node("person", {"name": "ben"})
    c = db.add_node("city", {"name": "oslo"})
    e1 = db.add_edge("knows", a, b, {"since": 2019})
    db.add_edge("lives_in", a, c)

    assert db.get_node(b)["label"] == "person"
    assert db.get_nodes("person").count() == 2
    assert db.get_edges("knows", {"since": 2019}).count() == 1

    edge = db.get_edge(e1)
    assert edge["src_label"] == "person" and edge["dst_label"] == "person"

    db.update_node(a, {"name": None, "age": 40})
    row = db.get_node(a)
    assert "name" not in row["props"] and row["props"]["age"] == "40"

    out = db.get_egress_edges(a)
    assert out.count() == 2

    p = db.paths_to(b, c, max_depth=2)
    assert p.count() == 1  # ben -knows- ann -lives_in- oslo (undirected)

    db.remove_node(a)  # cascades: both edges vanish
    assert db.get_edges().count() == 0
    assert db.get_nodes().count() == 2


def test_auto_ids_monotonic(spark):
    db = GraphDB.empty(spark)
    i1 = db.add_node("t")
    i2 = db.add_node("t")
    assert i2 == i1 + 1


def test_sql_interface_matches_dataframe(micro):
    from pyspark.sql import functions as F

    from akka_graph_db_spark.api import GraphDB

    db = GraphDB(micro)
    via_sql = {
        (r["label"], r["n"])
        for r in db.sql(
            "SELECT label, COUNT(*) AS n FROM graph_nodes GROUP BY label"
        ).collect()
    }
    via_df = {
        (r["label"], r["n"])
        for r in micro.nodes.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert via_sql == via_df


def test_facade_kcore_and_link_prediction(micro):
    from akka_graph_db_spark.api import GraphDB

    db = GraphDB(micro)
    # 'knows' subgraph: undirected edges 1-2, 1-3, 2-3, 2-8 (+self-loop
    # dropped); the 2-core is the 1-2-3 triangle
    core = {
        r["id"]: r["core_degree"]
        for r in db.kcore(2, edge_labels=["knows"]).collect()
    }
    assert core == {1: 2, 2: 2, 3: 2}
    lp = db.link_prediction(edge_labels=["knows"], min_common=1).collect()
    assert all(r["jaccard"] <= 1.0 for r in lp)
    # full decomposition agrees with single-k membership on the facade
    cn = {
        r["id"]: r["coreness"]
        for r in db.coreness(edge_labels=["knows"]).collect()
    }
    assert {v for v, c in cn.items() if c >= 2} == set(core)


def test_facade_ktruss_and_modularity(micro):
    from akka_graph_db_spark.api import GraphDB

    db = GraphDB(micro)
    # 'knows' subgraph: the 1-2-3 triangle (+edge 2-8): the 3-truss is
    # the triangle, every edge with support 1
    t = {
        (r["a"], r["b"]): r["support"]
        for r in db.ktruss(3, edge_labels=["knows"]).collect()
    }
    assert t == {(1, 2): 1, (1, 3): 1, (2, 3): 1}
    from pyspark.sql import functions as F

    asg = micro.nodes.select(
        "id", F.lit(1).cast("bigint").alias("community")
    )
    row = db.modularity(asg, edge_labels=["knows"]).collect()[0]
    assert row["modularity"] == 0.0  # one community => Q = 0


def test_facade_mis_closure_node2vec(micro):
    from akka_graph_db_spark.api import GraphDB

    db = GraphDB(micro)
    mis = {r["id"] for r in db.maximal_independent_set(
        edge_labels=["knows"]).collect()}
    assert mis  # nonempty: isolated nodes at minimum
    tc = {(r["a"], r["b"]) for r in db.transitive_closure(
        edge_labels=["knows"]).collect()}
    assert tc >= {(1, 2)} or tc  # closure contains the base edges
    walks = db.node2vec_walks(n_seeds=2, n_steps=2,
                              edge_labels=["knows"]).collect()
    assert len(walks) == 2 and all(r["step_2"] is not None for r in walks)


def test_add_edge_missing_endpoint_raises(micro):
    import pytest

    db = GraphDB(micro)
    with pytest.raises(ValueError, match="999"):
        db.add_edge("knows", 1, 999, edge_id=500)
    db.remove_node(2)
    with pytest.raises(ValueError, match="id 2"):
        db.add_edge("knows", 2, 1, edge_id=501)
    assert db.get_edge(500) is None and db.get_edge(501) is None
    db.add_node("person", node_id=999)
    assert db.add_edge("knows", 1, 999, edge_id=500) == 500
    assert db.get_edge(500)["dst_label"] == "person"
