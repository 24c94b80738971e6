"""Property-based tests (SURVEY.md §5.3) — randomized small graphs, seeded
by hypothesis; few examples because every example is a Spark job."""

import pytest
from hypothesis import example, given, settings, strategies as st

from akka_graph_db_spark.model import (
    EDGE_CORE_COLS,
    NODE_CORE_COLS,
    PropertyGraph,
    prop_str,
)
from akka_graph_db_spark.operators import crud, scan, traverse

NODE_IDS = list(range(1, 7))

edges_strategy = st.lists(
    st.tuples(
        st.sampled_from(NODE_IDS), st.sampled_from(NODE_IDS)
    ),
    min_size=0,
    max_size=10,
    unique=True,
)

_SPARK = {}


@pytest.fixture(scope="module", autouse=True)
def _bind_session(spark):
    _SPARK["s"] = spark


def build(spark, edge_pairs):
    g = PropertyGraph(
        nodes=spark.createDataFrame(
            [], "id bigint, label string, props map<string,string>"
        ),
        edges=spark.createDataFrame(
            [],
            "id bigint, label string, src bigint, dst bigint,"
            " props map<string,string>",
        ),
    )
    g = crud.add_nodes(g, [(i, "n", {"k": f"v{i}"}) for i in NODE_IDS])
    g = crud.add_edges(
        g,
        [
            (100 + i, "e", a, b, {})
            for i, (a, b) in enumerate(edge_pairs)
        ],
    )
    return PropertyGraph(
        g.nodes.localCheckpoint(eager=True),
        g.edges.localCheckpoint(eager=True),
    )


@settings(max_examples=8, deadline=None)
@given(edge_pairs=edges_strategy)
def test_add_then_remove_roundtrip(edge_pairs):
    spark = _SPARK["s"]
    g = build(spark, edge_pairs)
    g2 = crud.add_nodes(g, [(99, "tmp", {})])
    g2 = crud.add_edges(g2, [(999, "tmp_e", 99, 1, {})])
    g3 = crud.remove_nodes_by_id(g2, [99])  # cascades to 999
    assert sorted(r["id"] for r in g3.nodes.collect()) == sorted(
        r["id"] for r in g.nodes.collect()
    )
    assert sorted(r["id"] for r in g3.edges.collect()) == sorted(
        r["id"] for r in g.edges.collect()
    )


@settings(max_examples=8, deadline=None)
@given(edge_pairs=edges_strategy)
def test_paths_shape_invariants(edge_pairs):
    spark = _SPARK["s"]
    g = build(spark, edge_pairs)
    adj = {}
    for a, b in edge_pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rows = traverse.paths_to(g, 1, 5, max_depth=3).collect()
    for r in rows:
        p = r["node_path"]
        assert p[0] == 1 and p[-1] == 5
        assert len(set(p)) == len(p)  # vertex-unique
        assert len(p) - 1 == r["depth"] <= 3
        for x, y in zip(p, p[1:]):  # edge-connected (undirected)
            assert y in adj.get(x, set())


@settings(max_examples=6, deadline=None)
@given(
    key=st.sampled_from(["k", "new"]),
    value=st.one_of(st.none(), st.integers(-5, 5), st.text("ab", max_size=3)),
)
def test_update_none_never_leaves_key(key, value):
    spark = _SPARK["s"]
    g = build(spark, [(1, 2)])
    g2 = crud.update_nodes(g, {1: {key: value}})
    props = scan.get_node(g2, 1).collect()[0]["props"]
    if value is None:
        assert key not in props
    else:
        assert key in props




@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 10**6)),
        min_size=0,
        max_size=40,
        unique_by=lambda t: t[1],
    )
)
def test_global_rank_equals_single_partition_row_number(rows):
    """global_rank's distributed range-partition + offset construction
    must equal ROW_NUMBER over the same total order, for any data —
    including empty input, heavy ties on the first key, and more
    requested partitions than rows."""
    from akka_graph_db_spark.functions.ranking import global_rank
    from pyspark.sql import functions as F

    spark = _SPARK["s"]
    df = spark.createDataFrame(rows or [], "k int, uid long")
    got = {
        r["uid"]: r["rank"]
        for r in global_rank(
            df, [F.col("k").desc(), "uid"], n_partitions=7
        ).collect()
    }
    expected_order = sorted(rows, key=lambda t: (-t[0], t[1]))
    expected = {uid: i + 1 for i, (_, uid) in enumerate(expected_order)}
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 10**6)),
        min_size=0,
        max_size=40,
        unique_by=lambda t: t[1],
    ),
    st.integers(1, 7),
)
def test_ntile_distributed_matches_sql_semantics(rows, k):
    """ntile_distributed must reproduce SQL-standard NTILE for any data
    and tile count: the first n%k tiles get ceil(n/k) rows, the rest
    floor(n/k) — including n < k (one row per tile) and empty input."""
    from akka_graph_db_spark.functions.ranking import ntile_distributed
    from pyspark.sql import functions as F

    spark = _SPARK["s"]
    df = spark.createDataFrame(rows or [], "k int, uid long")
    got = {
        r["uid"]: r["tile"]
        for r in ntile_distributed(
            df, k, [F.col("k").desc(), "uid"]
        ).collect()
    }
    order = sorted(rows, key=lambda t: (-t[0], t[1]))
    n = len(order)
    q, r = divmod(n, k)
    expected = {}
    pos = 0
    for tile in range(1, k + 1):
        size = q + (1 if tile <= r else 0)
        for _ in range(size):
            if pos < n:
                expected[order[pos][1]] = tile
                pos += 1
    assert got == expected


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(1, 12), st.integers(1, 12)),
        min_size=0,
        max_size=30,
    )
)
def test_ktruss_invariant_every_edge_supported(edges):
    """For any random graph, every edge surviving the 3-truss must have
    >= 1 triangle among SURVIVORS, and the survivor set is identical
    across partitionings (fixpoint self-consistency)."""
    from akka_graph_db_spark.operators import analytics

    spark = _SPARK["s"]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b] or [(1, 2)],
        "a bigint, b bigint",
    )
    surv = [
        (r["a"], r["b"], r["support"])
        for r in analytics.ktruss(pairs, k=3).collect()
    ]
    eset = {(a, b) for a, b, _ in surv}
    nbrs = {}
    for a, b in eset:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    for a, b, sup in surv:
        tri = len(nbrs[a] & nbrs[b])
        assert tri == sup and sup >= 1
    again = {
        (r["a"], r["b"])
        for r in analytics.ktruss(pairs.repartition(5), k=3).collect()
    }
    assert again == eset


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(1, 15), st.integers(1, 15)),
        min_size=0,
        max_size=30,
    )
)
def test_mis_invariant_independent_and_maximal(edges):
    """For any random graph, the Luby MIS is independent and maximal."""
    from akka_graph_db_spark.operators import analytics

    spark = _SPARK["s"]
    clean = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(
        clean or [(1, 2)], "a bigint, b bigint"
    )
    mis = {
        r["id"]
        for r in analytics.maximal_independent_set(pairs).collect()
    }
    adj = {}
    for a, b in clean or [(1, 2)]:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    for v in mis:
        assert not (adj.get(v, set()) & mis)
    for v in set(adj) - mis:
        assert adj[v] & mis


docs_strategy = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f"]),
        min_size=1,
        max_size=8,
    ),
    min_size=2,
    max_size=7,
)


@settings(max_examples=8, deadline=None)
@given(token_lists=docs_strategy, t=st.sampled_from([0.5, 0.75, 0.9]))
def test_containment_join_lossless(token_lists, t):
    """The containment prefix filter must be LOSSLESS for any corpus and
    threshold: containment_join == brute-force over all ordered pairs of
    distinct-token sets."""
    from akka_graph_db_spark.functions import dedup

    spark = _SPARK["s"]
    rows = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = sorted(
        (r["a_id"], r["b_id"], r["n_a"], r["n_b"], r["n_common"])
        for r in dedup.containment_join(df, threshold=t).collect()
    )
    sets = {i: set(toks) for i, toks in enumerate(token_lists)}
    want = sorted(
        (a, b, len(sets[a]), len(sets[b]), len(sets[a] & sets[b]))
        for a in sets
        for b in sets
        if a != b and len(sets[a] & sets[b]) / len(sets[a]) >= t
    )
    assert got == want


# -- GraphDB write overlay vs the operators.crud chain ----------------------

_OV_NODES = st.sampled_from([1, 2, 3, 6, 8, 11, 12])  # 11, 12 start absent
_OV_EDGES = st.sampled_from([100, 102, 105, 107, 113, 200, 201])
_OV_PROPS = st.dictionaries(
    st.sampled_from(["age", "name", "x"]),
    st.one_of(st.none(), st.integers(0, 3), st.sampled_from(["s", "t"])),
    max_size=2,
)
overlay_ops_strategy = st.lists(
    st.one_of(
        st.tuples(st.just("add_node"), _OV_NODES,
                  st.sampled_from(["person", "city"]), _OV_PROPS),
        st.tuples(st.just("add_edge"), _OV_EDGES, _OV_NODES, _OV_NODES,
                  _OV_PROPS),
        st.tuples(st.just("update_node"), _OV_NODES, _OV_PROPS),
        st.tuples(st.just("update_edge"), _OV_EDGES, _OV_PROPS),
        st.tuples(st.just("remove_node"), _OV_NODES),
        st.tuples(st.just("remove_edge"), _OV_EDGES),
    ),
    min_size=1,
    max_size=6,
)


def _rows(df, cols):
    """Sorted rows; ``props`` (the last core column) as sorted items,
    with NULL kept apart from an empty map."""
    return sorted(
        (*(r[c] for c in cols[:-1]), r["props"] is None,
         sorted((r["props"] or {}).items()))
        for r in df.select(*cols).collect()
    )


@settings(max_examples=3, deadline=None)
@given(ops=overlay_ops_strategy)
@example(ops=[
    ("add_node", 11, "person", {"x": None}),  # stored JSON null, new id
    ("add_node", 2, "person", {"age": 1}),  # duplicate id: second row
    ("update_node", 2, {"name": None, "age": 3}),  # merges into both rows
    ("update_node", 11, {"age": 1}),  # overlay row; drops the stored null
    ("add_edge", 200, 11, 3, {"w": 1}),
    ("update_edge", 200, {"w": None}),  # overlay edge, None deletes
    ("update_edge", 100, {"since": 1}),  # base edge moves to the overlay
    ("remove_node", 1),  # cascades base and overlay edges
    ("update_edge", 105, {"x": 1}),  # cascaded edge: no-op
    ("add_node", 1, "person", {}),  # re-added id, without its old edges
    ("add_edge", 201, 1, 12, {}),  # endpoint 12 missing
    ("add_edge", 201, 1, 2, {}),
    ("remove_edge", 113),
    ("remove_node", 11),  # cascades overlay edge 200
])
def test_facade_overlay_matches_crud_chain(micro, ops):
    """Every facade write sequence leaves ``db.graph`` equal, row for
    row, to the same calls folded through ``operators.crud``; an edge
    the crud chain drops for a missing endpoint raises instead."""
    from akka_graph_db_spark.api import GraphDB

    db, ref = GraphDB(micro), micro
    for op in ops:
        kind, args = op[0], op[1:]
        if kind == "add_node":
            ref = crud.add_nodes(ref, [(args[0], args[1], args[2])])
            db.add_node(args[1], args[2], node_id=args[0])
        elif kind == "add_edge":
            eid, src, dst, props = args
            ref_ids = {r["id"] for r in ref.nodes.select("id").collect()}
            ref = crud.add_edges(ref, [(eid, "e", src, dst, props)])
            if {src, dst} <= ref_ids:
                db.add_edge("e", src, dst, props, edge_id=eid)
            else:
                with pytest.raises(ValueError):
                    db.add_edge("e", src, dst, props, edge_id=eid)
        elif kind == "update_node":
            ref = crud.update_nodes(ref, {args[0]: args[1]})
            db.update_node(args[0], args[1])
        elif kind == "update_edge":
            ref = crud.update_edges(ref, {args[0]: args[1]})
            db.update_edge(args[0], args[1])
        elif kind == "remove_node":
            ref = crud.remove_nodes_by_id(ref, [args[0]])
            db.remove_node(args[0])
        else:
            ref = crud.remove_edges_by_id(ref, [args[0]])
            db.remove_edge(args[0])
        assert _rows(db.graph.nodes, NODE_CORE_COLS) == _rows(
            ref.nodes, NODE_CORE_COLS), op
        assert _rows(db.graph.edges, EDGE_CORE_COLS) == _rows(
            ref.edges, EDGE_CORE_COLS), op
