"""akka_graph_db_spark — a PySpark-native labeled-property-graph analytics engine.

A brand-new engine with the query/data-processing capabilities of the
reference graph database (vbmudalige/akka-graph-db, surveyed in SURVEY.md):
labeled nodes + directed labeled edges with dynamic JSON-typed property maps,
CRUD mutations (cascading deletes, merge-updates, null-deletes-key), filtered
scans, point lookups, 1-hop ingress/egress traversal and variable-length path
enumeration — re-expressed Spark-first on DataFrames/Catalyst, plus
GraphX-class analytics (degrees, connected components, PageRank, triangles)
and LLM-data-pipeline operators (dedup, similarity search, text analysis,
windowed event streams).

Design (SURVEY.md §1.4): a graph is a pair of DataFrames
``nodes(id BIGINT, label STRING, props MAP<STRING,STRING>, <promoted cols>)``
and ``edges(id, label, src, dst, props, <promoted cols>)``; property values
are canonical-JSON fragments (two-tier layout: JSON map for full fidelity,
promoted typed columns for pushdown-friendly hot keys). Batch mutations
are copy-on-write snapshots; the ``GraphDB`` facade keeps single-row writes
in a driver-side overlay over an immutable base; traversal is a driver-side
frontier-join loop (Pregel pattern); everything else is a single Catalyst
plan.
"""

from akka_graph_db_spark.api import GraphDB
from akka_graph_db_spark.model import PropertyGraph
from akka_graph_db_spark.session import get_spark

__all__ = ["GraphDB", "PropertyGraph", "get_spark"]
