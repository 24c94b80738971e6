"""Seeded generators for every op sequence and mutation log.

Everything a run issues comes from ``numpy.random.default_rng(seed)``:
the same seed gives the same sequence, another seed a different one. The
generators know the base graph only through its key ranges (``datagen``)
and the id bands of ``akka_graph_db_spark.sources.tpch``; no Spark here.

Ops are plain tuples ``(kind, *args)`` so that a run's sequence can be
compared, hashed and replayed against the answer model in ``checks``.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np

from akka_graph_db_spark.sources.tpch import (
    CUSTOMER_BASE,
    ORDER_BASE,
    PLACED_BASE,
)
from perfbench import datagen

LOOKUPS = ("get_node", "get_edge", "get_nodes")
HOPS = ("egress", "ingress", "paths_to")
READS = LOOKUPS + HOPS
WRITES = ("add_node", "add_edge", "update_node", "remove_node")

# mixed_rw: a segment is every read kind once, in seeded order, then one
# facade write (one op in seven, ~14%); a round holds one segment per
# write kind
WRITE_EVERY = len(READS) + 1
ROUND_OPS = WRITE_EVERY * len(WRITES)
# Zipf exponent of the key popularity: YCSB's zipfian constant (0.99, the
# ZIPFIAN_CONSTANT of its ZipfianGenerator; Cooper et al., "Benchmarking
# Cloud Serving Systems with YCSB", SoCC 2010). Keys repeat under it, so a
# result cache has something to hit.
ZIPF_S = 0.99
# new ids live far above the generated keys, inside their label's id band
NEW_NODE_BASE = CUSTOMER_BASE + 500_000
NEW_EDGE_BASE = PLACED_BASE + 500_000_000

# log_ingest micro-batch shape: commands per batch, in four (op, kind) runs.
# The mix is a choice of this benchmark, not taken from a trace or a
# published workload.
INGEST_RUNS = (("add", "node", 50), ("add", "edge", 50),
               ("update", "node", 60), ("remove", "edge", 40))
INGEST_BATCH = sum(n for _, _, n in INGEST_RUNS)
# post-batch lookups: this many of the batch's added nodes, then as many
# of its updated nodes
LOOKUPS_ADDED, LOOKUPS_UPDATED = 1, 2


class Zipf:
    """Zipf-skewed draws over ``n`` keys; which keys are hot is seeded."""

    def __init__(self, rng: np.random.Generator, n: int):
        w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
        self._p = w / w.sum()
        self._perm = rng.permutation(n)
        self._rng = rng

    def draw(self) -> int:
        return int(self._perm[self._rng.choice(len(self._p), p=self._p)])


class _Keys:
    def __init__(self, rng: np.random.Generator):
        self.customer = Zipf(rng, datagen.N_CUSTOMER)
        self.order = Zipf(rng, datagen.N_ORDER)


def _read(rng: np.random.Generator, keys: _Keys, kind: str) -> tuple:
    if kind == "get_node":
        if rng.random() < 0.5:
            return (kind, CUSTOMER_BASE + keys.customer.draw())
        return (kind, ORDER_BASE + keys.order.draw())
    if kind == "get_edge":
        return (kind, PLACED_BASE + keys.order.draw())
    if kind == "get_nodes":
        return (kind, datagen.SEGMENTS[int(rng.integers(len(datagen.SEGMENTS)))])
    if kind == "egress":
        return (kind, CUSTOMER_BASE + keys.customer.draw())
    if kind == "ingress":
        return (kind, ORDER_BASE + keys.order.draw())
    # paths_to: the customer's region is found by the answer model
    return (kind, CUSTOMER_BASE + keys.customer.draw())


def read_ops(seed: int) -> Iterator[tuple]:
    """point_reads: endless blocks holding each read kind once, shuffled."""
    rng = np.random.default_rng(seed)
    keys = _Keys(rng)
    while True:
        for i in rng.permutation(len(READS)):
            yield _read(rng, keys, READS[i])


def mixed_ops(seed: int) -> Iterator[tuple]:
    """mixed_rw: rounds of ``ROUND_OPS`` ops, one write in every
    ``WRITE_EVERY``, the write kinds in the fixed order of ``WRITES``.

    The reads before each write are every read kind once, so each segment
    between writes holds the same kinds; the seed picks their order, the
    keys and the written values.
    """
    rng = np.random.default_rng(seed)
    keys = _Keys(rng)
    n_added = n_edges = 0
    removed: set[int] = set()
    while True:
        for kind in WRITES:
            for i in rng.permutation(len(READS)):
                yield _read(rng, keys, READS[i])
            if kind == "add_node":
                nid = NEW_NODE_BASE + n_added
                n_added += 1
                yield (kind, nid, "customer", _customer_props(rng, nid))
            elif kind == "add_edge":
                # from the customer this run added last, or a base customer
                src = (
                    NEW_NODE_BASE + n_added - 1
                    if rng.random() < 0.5
                    else CUSTOMER_BASE + keys.customer.draw()
                )
                eid = NEW_EDGE_BASE + n_edges
                n_edges += 1
                dst = ORDER_BASE + keys.order.draw()
                yield (kind, eid, "placed", src, dst,
                       {"totalprice": round(float(rng.uniform(1e3, 5e5)), 2)})
            elif kind == "update_node":
                yield (kind, CUSTOMER_BASE + keys.customer.draw(), _segment_change(rng))
            else:
                order = ORDER_BASE + keys.order.draw()
                while order in removed:
                    order = ORDER_BASE + keys.order.draw()
                removed.add(order)
                yield (kind, order)


def _customer_props(rng: np.random.Generator, nid: int) -> dict:
    return {
        "name": f"Customer#{nid:09d}",
        "mktsegment": datagen.SEGMENTS[int(rng.integers(len(datagen.SEGMENTS)))],
        "acctbal": round(float(rng.uniform(-999.99, 9999.99)), 2),
    }


def _segment_change(rng: np.random.Generator) -> dict:
    return {
        "mktsegment": datagen.SEGMENTS[int(rng.integers(len(datagen.SEGMENTS)))],
        "acctbal": round(float(rng.uniform(-999.99, 9999.99)), 2),
    }


def ingest_batches(seed: int) -> Iterator[tuple[list[tuple], list[int]]]:
    """log_ingest: endless ``(commands, lookup_ids)`` micro-batches.

    A command is a row of ``streaming.fold.MUTATION_SCHEMA``: ``(seq, op,
    kind, id, label, src, dst, props)`` with props as JSON fragments. Each
    batch adds customers, adds ``placed`` edges from customers (some of
    them just added) to orders, updates customers and removes base
    ``placed`` edges, as four runs in that order. ``lookup_ids`` are nodes
    the batch just added (``LOOKUPS_ADDED``) and updated (``LOOKUPS_UPDATED``).
    """
    rng = np.random.default_rng(seed)
    keys = _Keys(rng)
    seq = n_nodes = n_edges = 0
    removed: set[int] = set()
    while True:
        cmds: list[tuple] = []
        added: list[int] = []
        updated: list[int] = []
        for op, kind, n in INGEST_RUNS:
            for _ in range(n):
                row: tuple
                if (op, kind) == ("add", "node"):
                    nid = NEW_NODE_BASE + n_nodes
                    n_nodes += 1
                    added.append(nid)
                    row = (op, kind, nid, "customer", None, None,
                           _fragments(_customer_props(rng, nid)))
                elif (op, kind) == ("add", "edge"):
                    src = (
                        NEW_NODE_BASE + int(rng.integers(n_nodes))
                        if rng.random() < 0.5
                        else CUSTOMER_BASE + keys.customer.draw()
                    )
                    row = (op, kind, NEW_EDGE_BASE + n_edges, "placed", src,
                           ORDER_BASE + keys.order.draw(), {})
                    n_edges += 1
                elif op == "update":
                    nid = (
                        added[int(rng.integers(len(added)))]
                        if rng.random() < 0.25
                        else CUSTOMER_BASE + keys.customer.draw()
                    )
                    updated.append(nid)
                    row = (op, kind, nid, None, None, None,
                           _fragments(_segment_change(rng)))
                else:
                    eid = PLACED_BASE + int(rng.integers(datagen.N_ORDER))
                    while eid in removed:
                        eid = PLACED_BASE + int(rng.integers(datagen.N_ORDER))
                    removed.add(eid)
                    row = (op, kind, eid, None, None, None, {})
                cmds.append((seq, *row))
                seq += 1
        yield cmds, (
            [added[int(i)] for i in rng.choice(len(added), LOOKUPS_ADDED, replace=False)]
            + [updated[int(i)] for i in rng.choice(len(updated), LOOKUPS_UPDATED, replace=False)]
        )


def _fragments(props: dict) -> dict[str, str]:
    return {k: json.dumps(v, separators=(",", ":")) for k, v in props.items()}


def repeated_key_share(ops: list[tuple]) -> float:
    """Share of keyed reads whose (kind, key) came earlier in the run."""
    seen: set[tuple] = set()
    keyed = repeats = 0
    for op in ops:
        if op[0] in READS and op[0] != "get_nodes":
            keyed += 1
            repeats += op[:2] in seen
            seen.add(op[:2])
    return repeats / keyed if keyed else 0.0
