"""User-facing facade: the reference's 14-method Graph API, Spark-native.

The reference's trait (inferred from its adapter's overrides, SURVEY.md §2;
`/root/reference/src/main/scala/neo4j/Neo4jGraph.scala`) is a single-object
CRUD/traversal API. This facade keeps those ergonomics — a reference user
can switch method-for-method — while every call delegates to the batch-first
operators, so the single-object form is just a one-row batch and large-batch
forms stay available (``*_batch`` / the operators module) for real
pipelines.

Mutation model: a driver-side write overlay on an immutable base
snapshot. Single-row writes record their effects in Python — the full
live rows of added or updated nodes and edges, the base ids those rows
hide, and the removed node ids whose incident base edges the cascade
hides — instead of stacking one crud join per write onto the plan.
``graph`` composes them into one fixed-shape plan per frame,
``base.where(NOT id IN hidden [AND NOT src/dst IN removed]) UNION live``,
with the live rows as an inline VALUES table that Catalyst evaluates at
planning time: a read after N writes runs the same jobs as a read on the
fresh snapshot, and ``id = x`` still reaches a file-backed base's
``PushedFilters``. ``add_node`` given an id, ``remove_node`` and
``remove_edge`` run no Spark job; ``add_edge`` checks its endpoints and
``update_*`` fetch the current base row with one id-pushed point read. Past
``_OVERLAY_MAX_ROWS`` entries the composed graph is localCheckpointed
into a new base. Batch and predicate mutations (``*_batch``,
``remove_nodes``) run ``operators.crud`` on the composed graph, and the
result becomes the new base. The crud chain is the semantic reference
(the reference mutates Neo4j in place; here the base never changes and
the handle advances). A non-empty overlay exposes the core columns only.

Id allocation: ``add_node``/``add_edge`` auto-assign ``max(id)+1`` when no
id is given — a driver-side max() action, fine for interactive use;
batch ingest should bring its own ids (deterministic, shuffle-free —
see sources/tpch.py).
"""

from __future__ import annotations

import json
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from akka_graph_db_spark.model import (
    EDGE_CORE_COLS,
    NODE_CORE_COLS,
    PropertyGraph,
)
from akka_graph_db_spark.operators import analytics, crud, scan, traverse

# Overlay entries (live rows plus hidden and removed ids) past which the
# composed graph is folded into a localCheckpoint base — the cadence idea
# of StreamingGraphFold.checkpoint_every: the per-read cost of planning
# the inline rows and NOT IN lists stays bounded.
_OVERLAY_MAX_ROWS = 1000


def _sql_value(col: str, v) -> str:
    """One core-column value as a SQL literal. Strings travel as hex
    binary literals cast to STRING, so there is no quoting to get wrong;
    the props map travels as JSON text."""
    if col == "props":
        text = json.dumps(v).encode().hex()
        return f"from_json(CAST(X'{text}' AS STRING), 'map<string,string>')"
    typ = "STRING" if col == "label" else "BIGINT"
    if v is None:
        return f"CAST(NULL AS {typ})"
    if typ == "STRING":
        return f"CAST(X'{str(v).encode().hex()}' AS STRING)"
    return f"CAST({int(v)} AS BIGINT)"


def _local_rows(spark: SparkSession, cols: Sequence[str], rows) -> DataFrame:
    """``rows`` (values in ``cols`` order) as an inline VALUES table.

    The analyzer turns it into a LocalRelation, so Catalyst evaluates a
    read's filters over it at planning time and drops the branch when no
    row matches — ``createDataFrame`` would be an RDD scan that runs tasks
    on every read. A trailing all-NULL row, filtered out, keeps the plan's
    shape the same for any number of rows, none included.
    """
    tuples = (
        f"({', '.join(_sql_value(c, v) for c, v in zip(cols, row))})"
        for row in [*rows, [None] * len(cols)]
    )
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(tuples)} AS t({', '.join(cols)})"
        " WHERE id IS NOT NULL"
    )


def _merge(current, changes: Mapping) -> dict:
    """``crud._merge_props`` on a driver-side row: the change wins, a NULL
    map merges as empty, and every ``"null"`` fragment (a delete marker or
    a stored JSON null) drops its key."""
    merged = {**(current or {}), **changes}
    return {k: v for k, v in merged.items() if v is not None and v != "null"}


class GraphDB:
    """A handle over an evolving PropertyGraph: an immutable base snapshot
    plus a driver-side overlay of the single-row writes since."""

    def __init__(self, graph: PropertyGraph):
        self._rebase(graph)

    def _rebase(self, graph: PropertyGraph) -> None:
        self._base = graph
        self._composed: PropertyGraph | None = graph
        self._live_nodes: list[list] = []  # [id, label, props]
        self._live_edges: list[list] = []  # [id, label, src, dst, props]
        self._hidden_nodes: set[int] = set()  # base node ids not visible
        self._hidden_edges: set[int] = set()  # base edge ids not visible
        self._removed: set[int] = set()  # node ids whose base edges cascade

    @property
    def graph(self) -> PropertyGraph:
        """The current snapshot: the base untouched while the overlay is
        empty, else base and overlay composed (built once per write)."""
        if self._composed is None:
            self._composed = self._compose()
        return self._composed

    def _compose(self) -> PropertyGraph:
        spark = self._base.nodes.sparkSession
        removed = sorted(self._removed)
        nodes = self._base.nodes.select(*NODE_CORE_COLS).where(
            ~F.col("id").isin(sorted(self._hidden_nodes))
        )
        edges = self._base.edges.select(*EDGE_CORE_COLS).where(
            ~F.col("id").isin(sorted(self._hidden_edges))
            & ~F.col("src").isin(removed)
            & ~F.col("dst").isin(removed)
        )
        return PropertyGraph(
            nodes=nodes.unionByName(
                _local_rows(spark, NODE_CORE_COLS, self._live_nodes)
            ),
            edges=edges.unionByName(
                _local_rows(spark, EDGE_CORE_COLS, self._live_edges)
            ),
        )

    def _wrote(self) -> None:
        self._composed = None
        size = (
            len(self._live_nodes) + len(self._live_edges)
            + len(self._hidden_nodes) + len(self._hidden_edges)
            + len(self._removed)
        )
        if size > _OVERLAY_MAX_ROWS:
            g = self.graph
            self._rebase(PropertyGraph(
                g.nodes.localCheckpoint(eager=True),
                g.edges.localCheckpoint(eager=True),
            ))

    # -- construction -------------------------------------------------------

    @classmethod
    def empty(cls, spark: SparkSession) -> "GraphDB":
        return cls(
            PropertyGraph(
                nodes=spark.createDataFrame(
                    [], "id bigint, label string, props map<string,string>"
                ),
                edges=spark.createDataFrame(
                    [],
                    "id bigint, label string, src bigint, dst bigint,"
                    " props map<string,string>",
                ),
            )
        )

    @classmethod
    def from_tpch(cls, spark: SparkSession, sf_dir: str) -> "GraphDB":
        from akka_graph_db_spark.sources.tpch import graph_from_tpch

        return cls(graph_from_tpch(spark, sf_dir))

    @classmethod
    def load(cls, spark: SparkSession, root: str, version=None) -> "GraphDB":
        from akka_graph_db_spark import store

        return cls(store.load_snapshot(spark, root, version))

    def save(self, root: str, version=None) -> int:
        from akka_graph_db_spark import store

        return store.save_snapshot(self.graph, root, version)

    # -- id allocation ------------------------------------------------------

    def _next_id(self, df: DataFrame) -> int:
        row = df.agg(F.max("id").alias("m")).collect()[0]
        return (row["m"] or 0) + 1

    # -- mutations (reference §2.1) -----------------------------------------

    def add_node(
        self, label: str, data: Mapping | None = None, node_id: int | None = None
    ) -> int:
        """addNode (Neo4jGraph.scala:156-176). Returns the node id; an
        existing id gets a second row, as the crud union does."""
        props = dict(crud._py_props_to_map(data))
        nid = self._next_id(self.graph.nodes) if node_id is None else int(node_id)
        self._live_nodes.append([nid, label, props])
        self._wrote()
        return nid

    def add_edge(
        self,
        label: str,
        src: int,
        dst: int,
        data: Mapping | None = None,
        edge_id: int | None = None,
    ) -> int:
        """addEdge (Neo4jGraph.scala:178-210): both endpoints must exist
        (the reference MATCHes them before CREATE), else ``ValueError``
        naming the missing id and no edge is added."""
        props = dict(crud._py_props_to_map(data))
        src, dst = int(src), int(dst)
        missing = {src, dst} - {r[0] for r in self._live_nodes}
        probe = sorted(missing - self._hidden_nodes)
        if probe:
            found = self._base.nodes.where(F.col("id").isin(probe))
            missing -= {r["id"] for r in found.select("id").collect()}
        if missing:
            raise ValueError(
                f"add_edge: no node with id {', '.join(map(str, sorted(missing)))}"
            )
        eid = self._next_id(self.graph.edges) if edge_id is None else int(edge_id)
        self._live_edges.append([eid, label, src, dst, props])
        self._wrote()
        return eid

    def update_node(self, node_id: int, changes: Mapping) -> None:
        """updateNode: merge into every row with the id; None value deletes
        the key (:442-467)."""
        self._update(self._base.nodes, NODE_CORE_COLS, int(node_id), changes,
                     self._hidden_nodes, self._live_nodes)

    def update_edge(self, edge_id: int, changes: Mapping) -> None:
        """updateEdge (:469-490); a no-op on an edge a cascade removed."""
        self._update(self._base.edges, EDGE_CORE_COLS, int(edge_id), changes,
                     self._hidden_edges, self._live_edges)

    def _update(self, frame, cols, ident, changes, hidden, live) -> None:
        """Merge ``changes`` into every live row with id ``ident``, first
        moving that id's base rows into the overlay with one id-pushed
        point read; an edge the remove_node cascade hides stays hidden."""
        ch = dict(crud._py_props_to_map(changes, keep_nulls=True))
        if ident not in hidden:
            for r in frame.where(F.col("id") == ident).select(*cols).collect():
                if "src" not in cols or not {r["src"], r["dst"]} & self._removed:
                    live.append(list(r))
            hidden.add(ident)
        for row in live:
            if row[0] == ident:
                row[-1] = _merge(row[-1], ch)
        self._wrote()

    def remove_node(self, node_id: int) -> None:
        """removeNode — CASCADES to incident edges (:406-413)."""
        nid = int(node_id)
        self._hidden_nodes.add(nid)
        self._removed.add(nid)
        self._live_nodes = [r for r in self._live_nodes if r[0] != nid]
        self._live_edges = [
            r for r in self._live_edges if nid not in (r[2], r[3])
        ]
        self._wrote()

    def remove_nodes(
        self, label: str | None = None, data: Mapping | None = None
    ) -> None:
        """removeNodes by predicate; label=None matches ALL labels (:415-431)."""
        self._rebase(crud.remove_nodes(self.graph, label, data))

    def remove_edge(self, edge_id: int) -> None:
        """removeEdge (:433-440)."""
        eid = int(edge_id)
        self._hidden_edges.add(eid)
        self._live_edges = [r for r in self._live_edges if r[0] != eid]
        self._wrote()

    # -- batch mutation passthrough -----------------------------------------

    def add_nodes_batch(self, nodes) -> None:
        self._rebase(crud.add_nodes(self.graph, nodes))

    def add_edges_batch(self, edges, validate_endpoints: bool = True) -> None:
        self._rebase(crud.add_edges(self.graph, edges, validate_endpoints))

    def update_nodes_batch(self, changes) -> None:
        self._rebase(crud.update_nodes(self.graph, changes))

    # -- lookups & scans (reference §2.2-2.3) -------------------------------

    def get_node(self, node_id: int):
        """getNode → Row | None (:212-233)."""
        rows = scan.get_node(self.graph, node_id).collect()
        return rows[0] if rows else None

    def get_edge(self, edge_id: int, hydrate: bool = True):
        """getEdge, endpoints hydrated → Row | None (:259-293)."""
        rows = scan.get_edge(self.graph, edge_id, hydrate).collect()
        return rows[0] if rows else None

    def get_nodes(
        self, label: str | None = None, data: Mapping | None = None
    ) -> DataFrame:
        """getNodes → DataFrame (lazy; the reference's Iterator) (:235-257)."""
        return scan.get_nodes(self.graph, label, data)

    def get_edges(
        self,
        label: str | None = None,
        data: Mapping | None = None,
        hydrate: bool = False,
    ) -> DataFrame:
        """getEdges — property filter APPLIED (canonical) (:295-332)."""
        return scan.get_edges(self.graph, label, data, hydrate)

    # -- traversal (reference §2.4) -----------------------------------------

    def get_egress_edges(
        self,
        node_ids,
        edge_label: str | None = None,
        edge_data: Mapping | None = None,
    ) -> DataFrame:
        """getEgressEdges, frontier-batch (:334-368)."""
        if isinstance(node_ids, int):
            node_ids = [node_ids]
        return traverse.egress_edges(self.graph, node_ids, edge_label, edge_data)

    def get_ingress_edges(
        self,
        node_ids,
        edge_label: str | None = None,
        edge_data: Mapping | None = None,
    ) -> DataFrame:
        """getIngressEdges (:370-404)."""
        if isinstance(node_ids, int):
            node_ids = [node_ids]
        return traverse.ingress_edges(self.graph, node_ids, edge_label, edge_data)

    def paths_to(
        self,
        start_id: int,
        end_id: int,
        node_labels: Sequence[str] = (),
        edge_labels: Sequence[str] = (),
        max_depth: int = 6,
        directed: bool = False,
    ) -> DataFrame:
        """pathsTo — bounded, vertex-unique variant of the reference's
        unbounded undirected enumeration (:492-520)."""
        return traverse.paths_to(
            self.graph, start_id, end_id, node_labels, edge_labels,
            max_depth, directed,
        )

    # -- analytics (§2.8 extension surface) ---------------------------------

    def degrees(self, edge_labels=None) -> DataFrame:
        return analytics.degrees(self.graph, edge_labels)

    def connected_components(self, edge_labels=None, max_iter=50) -> DataFrame:
        return analytics.connected_components(self.graph, edge_labels, max_iter)

    def pagerank(
        self, edge_labels=None, damping=0.85, n_iter=10, weight=None
    ) -> DataFrame:
        return analytics.pagerank(
            self.graph, edge_labels, damping, n_iter, weight
        )

    def landmark_distances(
        self, landmarks=8, max_depth=4, edge_labels=None
    ) -> DataFrame:
        e = self.graph.edges
        if edge_labels:
            e = e.where(F.col("label").isin(list(edge_labels)))
        pairs = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        return analytics.landmark_hop_distances(pairs, landmarks, max_depth)

    def betweenness(
        self, landmarks=8, max_depth=3, edge_labels=None
    ) -> DataFrame:
        e = self.graph.edges
        if edge_labels:
            e = e.where(F.col("label").isin(list(edge_labels)))
        pairs = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        return analytics.betweenness_landmarks(pairs, landmarks, max_depth)

    def match_path(self, edge_labels, directed: bool = True) -> DataFrame:
        return analytics.match_path(self.graph, edge_labels, directed)

    def triangle_count(self, edge_labels=None) -> int:
        e = self.graph.edges
        if edge_labels:
            e = e.where(F.col("label").isin(list(edge_labels)))
        pairs = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        return analytics.triangle_count(pairs).collect()[0]["n_triangles"]

    def hits(self, edge_labels=None, n_iter=8) -> DataFrame:
        return analytics.hits(self.graph, edge_labels, n_iter)

    def personalized_pagerank(
        self, source_ids, edge_labels=None, damping=0.85, n_iter=10
    ) -> DataFrame:
        return analytics.personalized_pagerank(
            self.graph, source_ids, edge_labels, damping, n_iter
        )

    def shortest_paths(
        self, source_ids, weight=None, edge_labels=None,
        directed=True, max_hops=10,
    ) -> DataFrame:
        return analytics.shortest_paths(
            self.graph, source_ids, weight, edge_labels, directed, max_hops
        )

    def khop_neighbors(self, k, edge_labels=None, directed=True) -> DataFrame:
        return analytics.khop_neighbors(self.graph, k, edge_labels, directed)

    def label_propagation(self, edge_labels=None, n_iter=4) -> DataFrame:
        return analytics.label_propagation_communities(
            self.graph, edge_labels, n_iter
        )

    def kcore(self, k, edge_labels=None, max_iter=30) -> DataFrame:
        e = self.graph.edges
        if edge_labels:
            e = e.where(F.col("label").isin(list(edge_labels)))
        pairs = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        return analytics.kcore(pairs, k, max_iter)

    def coreness(self, edge_labels=None, max_iter=30) -> DataFrame:
        """Full core decomposition: (id, coreness) for every vertex with
        an edge — coreness(v) >= k iff v survives :meth:`kcore` at k."""
        e = self.graph.edges
        if edge_labels:
            e = e.where(F.col("label").isin(list(edge_labels)))
        pairs = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        return analytics.coreness(pairs, max_iter)

    def ktruss(self, k, edge_labels=None, max_iter=30) -> DataFrame:
        e = self.graph.edges
        if edge_labels:
            e = e.where(F.col("label").isin(list(edge_labels)))
        pairs = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        return analytics.ktruss(pairs, k, max_iter)

    def modularity(self, assignment, edge_labels=None) -> DataFrame:
        e = self.graph.edges
        if edge_labels:
            e = e.where(F.col("label").isin(list(edge_labels)))
        pairs = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        return analytics.community_modularity(pairs, assignment)

    def link_prediction(
        self, top_k=50, min_common=2, edge_labels=None, max_degree=None
    ) -> DataFrame:
        e = self.graph.edges
        if edge_labels:
            e = e.where(F.col("label").isin(list(edge_labels)))
        pairs = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        return analytics.link_prediction_jaccard(
            pairs, top_k, min_common, max_degree=max_degree
        )

    def assortativity(self, edge_labels=None) -> DataFrame:
        e = self.graph.edges
        if edge_labels:
            e = e.where(F.col("label").isin(list(edge_labels)))
        pairs = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        return analytics.degree_assortativity(pairs)

    def random_walks(
        self, n_seeds=64, n_steps=4, edge_labels=None, salt="w"
    ) -> DataFrame:
        e = self.graph.edges
        if edge_labels:
            e = e.where(F.col("label").isin(list(edge_labels)))
        pairs = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        return analytics.random_walks(pairs, n_seeds, n_steps, salt)

    def walk_skipgrams(
        self,
        n_seeds=64,
        n_steps=4,
        window=2,
        edge_labels=None,
        salt="w",
    ) -> DataFrame:
        walks = self.random_walks(n_seeds, n_steps, edge_labels, salt)
        return analytics.walk_skipgram_pairs(walks, n_steps, window)

    def strongly_connected_components(
        self, edge_labels=None, max_doublings=6
    ) -> DataFrame:
        e = self.graph.edges
        if edge_labels:
            e = e.where(F.col("label").isin(list(edge_labels)))
        pairs = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        return analytics.strongly_connected_components(
            pairs, max_doublings
        )

    def degree_histogram(self, edge_labels=None) -> DataFrame:
        e = self.graph.edges
        if edge_labels:
            e = e.where(F.col("label").isin(list(edge_labels)))
        deg = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        return (
            deg.select(
                (F.length(F.bin("deg")) - 1)
                .cast("int")
                .alias("log2_bucket")
            )
            .groupBy("log2_bucket")
            .agg(F.count(F.lit(1)).alias("n_nodes"))
            .orderBy("log2_bucket")
        )

    def maximal_independent_set(
        self, edge_labels=None, max_rounds=12, salt="mis"
    ) -> DataFrame:
        e = self.graph.edges
        if edge_labels:
            e = e.where(F.col("label").isin(list(edge_labels)))
        pairs = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        verts = self.graph.nodes.select("id")
        return analytics.maximal_independent_set(
            pairs, verts, max_rounds, salt
        )

    def transitive_closure(
        self, edge_labels=None, max_doublings=6
    ) -> DataFrame:
        e = self.graph.edges
        if edge_labels:
            e = e.where(F.col("label").isin(list(edge_labels)))
        pairs = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        return analytics.transitive_closure(pairs, max_doublings)

    def node2vec_walks(
        self,
        n_seeds=64,
        n_steps=4,
        edge_labels=None,
        w_return=2,
        w_common=2,
        w_far=1,
        salt="n2v",
    ) -> DataFrame:
        e = self.graph.edges
        if edge_labels:
            e = e.where(F.col("label").isin(list(edge_labels)))
        pairs = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        return analytics.node2vec_walks(
            pairs, n_seeds, n_steps, w_return, w_common, w_far, salt
        )

    def triplets(self) -> DataFrame:
        return analytics.triplets(self.graph)

    def aggregate_messages(self, agg, to_dst=None, to_src=None) -> DataFrame:
        return analytics.aggregate_messages(self.graph, agg, to_dst, to_src)

    # -- SQL surface ---------------------------------------------------------

    def sql(
        self,
        query: str,
        nodes_view: str = "graph_nodes",
        edges_view: str = "graph_edges",
    ) -> DataFrame:
        """Run a Spark SQL query over the graph: the nodes/edges frames
        are registered as temp views (replacing any previous
        registration) and the query text goes straight to Catalyst —
        the full SQL surface (joins, windows, CTEs, lateral views) over
        the same snapshot-backed plans the DataFrame API reads. The
        reference has no query language of its own (it GENERATES Cypher
        for Neo4j to parse, Neo4jGraph.scala:156-164; SURVEY.md §3) —
        here the parser/planner is Catalyst itself.
        """
        self.graph.nodes.createOrReplaceTempView(nodes_view)
        self.graph.edges.createOrReplaceTempView(edges_view)
        return self.graph.nodes.sparkSession.sql(query)
