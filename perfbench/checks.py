"""Expected answers, computed without Spark.

``GraphModel`` holds the base graph's customers, orders and ``placed``
edges, read with DuckDB straight from the input parquet, plus the
benchmark's own log of the writes it issued. Point-op results are
compared against it. Batch-job results are compared against the entry's
``oracle_sql()`` answers over the same parquet (``batch_oracles``).
"""

from __future__ import annotations

import json
import math
import os
from collections import defaultdict

import duckdb

from akka_graph_db_spark.sources.tpch import (
    CUSTOMER_BASE,
    NATION_BASE,
    ORDER_BASE,
    PLACED_BASE,
    REGION_BASE,
)
from perfbench import datagen

# entry query name -> batch job name in run.BATCH_JOBS
BATCH_ORACLES = {
    "pagerank": "pagerank_top20",
    "connected_components_two_phase": "connected_components_two_phase_geo",
    "triangle_count": "triangles_coorder",
    "kcore": "kcore_parts",
    "minhash_dedup_pairs": "dedup_minhash",
    "topk_bruteforce": "similarity_topk",
}


def duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in datagen.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet").replace("'", "''")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def batch_oracles(data_dir: str) -> dict[str, list[tuple]]:
    """Sorted oracle rows for every batch job (they depend on the input
    files only, so callers may cache them)."""
    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    con = duck(data_dir)
    try:
        return {
            job: sorted(_norm_row(r) for r in con.sql(sql[q]).fetchall())
            for job, q in BATCH_ORACLES.items()
        }
    finally:
        con.close()


def _norm_row(row) -> tuple:
    return tuple(float(v) if isinstance(v, float) else v for v in row)


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Order-insensitive row-set equality, floats to the last rounded digit."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(map(_norm_row, got)), want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                # both sides round to 6 decimals; a rounding flip is 1e-6
                if a is None or b is None or not math.isclose(
                    float(a), float(b), rel_tol=1e-9, abs_tol=2e-6
                ):
                    return False
            elif a != b:
                return False
    return True


def _ts(v) -> str:
    return v.strftime("%Y-%m-%d %H:%M:%S.%f")


class GraphModel:
    """The graph as the benchmark's own writes should have left it.

    ``n_nodes``/``n_edges`` track every write except the ``contains``
    edges a node removal cascades to, so they are exact for mutation logs
    without node removals (log_ingest) only.
    """

    def __init__(self, data_dir: str):
        con = duck(data_dir)
        try:
            region_of = dict(con.sql(
                "SELECT n_nationkey, n_regionkey FROM nation").fetchall())
            self._nodes: dict[int, tuple[str, dict] | None] = {}
            self._base_cust: dict[int, int] = {}
            for k, name, nation, bal, seg in con.sql(
                "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment "
                "FROM customer"
            ).fetchall():
                self._nodes[CUSTOMER_BASE + k] = ("customer", {
                    "name": name, "acctbal": bal, "mktsegment": seg})
                self._base_cust[CUSTOMER_BASE + k] = nation
            self._region_of_nation = region_of
            self._edges: dict[int, tuple[str, int, int] | None] = {}
            for k, cust, status, price, date, prio in con.sql(
                "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                "o_orderdate, o_orderpriority FROM orders"
            ).fetchall():
                self._nodes[ORDER_BASE + k] = ("order", {
                    "status": status, "totalprice": price,
                    "orderdate": _ts(date), "priority": prio})
                self._edges[PLACED_BASE + k] = (
                    "placed", CUSTOMER_BASE + cust, ORDER_BASE + k)
            # in_region + located_in + placed + contains + supplied_by
            self.n_edges = con.sql(
                "SELECT (SELECT count(*) FROM nation) + (SELECT count(*) FROM customer)"
                " + (SELECT count(*) FROM supplier) + (SELECT count(*) FROM orders)"
                " + (SELECT count(*) FROM lineitem) + (SELECT count(*) FROM"
                " (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem))"
            ).fetchone()[0]
        finally:
            con.close()
        self._out: dict[int, set[int]] = defaultdict(set)
        self._in: dict[int, set[int]] = defaultdict(set)
        for eid, (_, s, d) in self._edges.items():
            self._out[s].add(eid)
            self._in[d].add(eid)
        self.n_nodes = datagen.N_CUSTOMER + datagen.N_ORDER + (
            len(datagen.REGIONS) + 25 + datagen.N_SUPPLIER + datagen.N_PART)

    # -- the write log --------------------------------------------------

    def add_node(self, nid: int, label: str, props: dict) -> None:
        self._nodes[nid] = (label, dict(props))
        self.n_nodes += 1

    def add_edge(self, eid: int, label: str, src: int, dst: int) -> None:
        # endpoints are validated: an edge to a missing node is dropped
        if self._nodes.get(src) and self._nodes.get(dst):
            self._edges[eid] = (label, src, dst)
            self._out[src].add(eid)
            self._in[dst].add(eid)
            self.n_edges += 1

    def update_node(self, nid: int, changes: dict) -> None:
        cur = self._nodes.get(nid)
        if cur:
            self._nodes[nid] = (cur[0], {**cur[1], **changes})

    def remove_node(self, nid: int) -> None:
        if self._nodes.get(nid):
            self._nodes[nid] = None
            self.n_nodes -= 1
            for eid in self._out.pop(nid, set()) | self._in.pop(nid, set()):
                self.remove_edge(eid)

    def remove_edge(self, eid: int) -> None:
        e = self._edges.get(eid)
        if e:
            self._edges[eid] = None
            self._out[e[1]].discard(eid)
            self._in[e[2]].discard(eid)
            self.n_edges -= 1

    def apply(self, op: tuple) -> None:
        """Log one facade write op from ``workloads.mixed_ops``."""
        kind = op[0]
        if kind == "add_node":
            self.add_node(op[1], op[2], op[3])
        elif kind == "add_edge":
            self.add_edge(op[1], op[2], op[3], op[4])
        elif kind == "update_node":
            self.update_node(op[1], op[2])
        elif kind == "remove_node":
            self.remove_node(op[1])
        else:
            raise ValueError(f"not a write: {op!r}")

    def apply_command(self, cmd: tuple) -> None:
        """Log one mutation-log command from ``workloads.ingest_batches``."""
        _, op, kind, i, label, src, dst, props = cmd
        decoded = {k: json.loads(v) for k, v in props.items()}
        if (op, kind) == ("add", "node"):
            self.add_node(i, label, decoded)
        elif (op, kind) == ("add", "edge"):
            self.add_edge(i, label, src, dst)
        elif (op, kind) == ("update", "node"):
            self.update_node(i, decoded)
        elif (op, kind) == ("remove", "edge"):
            self.remove_edge(i)
        else:
            raise ValueError(f"unmodelled command: {cmd!r}")

    # -- expected answers -----------------------------------------------

    def node(self, nid: int) -> tuple[str, dict] | None:
        return self._nodes.get(nid)

    def edge_alive(self, eid: int) -> bool:
        return bool(self._edges.get(eid))

    def expect(self, op: tuple):
        """The answer a read op must return, in the form ``run.execute`` gives."""
        kind, key = op[0], op[1]
        if kind == "get_node":
            return self.node(key)
        if kind == "get_edge":
            e = self._edges.get(key)
            if not e:
                return None
            return (e[0], e[1], e[2], self._nodes[e[1]][0], self._nodes[e[2]][0])
        if kind == "get_nodes":
            return sum(
                1 for n in self._nodes.values()
                if n and n[0] == "customer" and n[1].get("mktsegment") == key
            )
        if kind == "egress":
            return sorted(self._out.get(key, ()))
        if kind == "ingress":
            return sorted(self._in.get(key, ()))
        if kind == "paths_to":
            return [self.path_to_region(key)]
        raise ValueError(f"not a read: {op!r}")

    def region_of(self, customer_id: int) -> int:
        return REGION_BASE + self._region_of_nation[self._base_cust[customer_id]]

    def path_to_region(self, customer_id: int) -> list[int]:
        """The only directed path of <= 4 hops: customer -> nation -> region."""
        nation = self._base_cust[customer_id]
        return [customer_id, NATION_BASE + nation, self.region_of(customer_id)]


def same_node(got: tuple[str, dict] | None, want: tuple[str, dict] | None) -> bool:
    """Label and every modelled property equal (numbers to 1e-9)."""
    if got is None or want is None:
        return got is want
    if got[0] != want[0]:
        return False
    for k, v in want[1].items():
        g = got[1].get(k)
        if isinstance(v, float):
            if not isinstance(g, (int, float)) or not math.isclose(g, v, rel_tol=1e-9):
                return False
        elif g != v:
            return False
    return True


def same_answer(op: tuple, got, want) -> bool:
    if op[0] == "get_node":
        return same_node(got, want)
    return got == want
