"""Property-graph data model.

A graph is two DataFrames with reserved column names matching the
reference's field constants (``plugin/src/main/java/org/neo4j/arrow/
Neo4jDefaults.java:7-20``, mirrored in the Python client
``python/neo4j_arrow.py:26-32``):

- nodes: ``(ID long, LABELS array<string>, prop1..propN)``
- relationships: ``(START_ID long, END_ID long, TYPE string, props...)``

The reference's type system (``src/main/java/org/neo4j/arrow/
RowBasedRecord.java:14-41``) maps onto Spark types; see SURVEY.md §1.2.
Fixed-size-list embedding semantics (``GdsActionHandler.java:193-220``)
are enforced by validation, not by type — Spark has only variable
``ArrayType``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class NodeField:
    """Reserved node-table column names (Neo4jDefaults.java:7-20)."""

    ID = "ID"
    LABELS = "LABELS"
    RESERVED = (ID, LABELS)


class RelField:
    """Reserved relationship-table column names (Neo4jDefaults.java:7-20)."""

    START_ID = "START_ID"
    END_ID = "END_ID"
    TYPE = "TYPE"
    #: the stored 64-bit relationship id, numbered once per edge (at
    #: catalog registration, or by the write that creates the edge):
    #: openCypher edge identity for ``id(r)`` and uniqueness predicates,
    #: reserved so property scans/writes never treat it as a property
    REL_ID = "REL_ID"
    RESERVED = (START_ID, END_ID, TYPE, REL_ID)


#: Spark types accepted as graph property types — the translation of the
#: reference's RowBasedRecord.Type enum (RowBasedRecord.java:14-41).
#: Maps/structs/decimals are explicitly unsupported by the reference
#: (DEVELOPING.md:147, README.md:201-205); we accept timestamps/booleans
#: as a documented extension (Spark-native, zero cost).
_SCALAR_PROP_TYPES = (
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.StringType,
    T.BooleanType,
    T.DateType,
    T.TimestampType,
)


def _valid_prop_type(dt: T.DataType) -> bool:
    if isinstance(dt, _SCALAR_PROP_TYPES):
        return True
    if isinstance(dt, T.ArrayType):
        return isinstance(dt.elementType, _SCALAR_PROP_TYPES)
    if isinstance(dt, T.BinaryType):
        return True  # multimodal payload columns (extension)
    return False


class GraphSchemaError(ValueError):
    """Raised when a DataFrame does not satisfy the graph-table contract."""


def validate_nodes(nodes: DataFrame) -> None:
    """Node table must have ID:long and LABELS:array<string>."""
    schema = {f.name: f.dataType for f in nodes.schema.fields}
    if NodeField.ID not in schema:
        raise GraphSchemaError(f"node table missing {NodeField.ID} column")
    if not isinstance(schema[NodeField.ID], (T.LongType, T.IntegerType)):
        raise GraphSchemaError(f"{NodeField.ID} must be integral, got {schema[NodeField.ID]}")
    if NodeField.LABELS not in schema:
        raise GraphSchemaError(f"node table missing {NodeField.LABELS} column")
    lbl = schema[NodeField.LABELS]
    if not (isinstance(lbl, T.ArrayType) and isinstance(lbl.elementType, T.StringType)):
        raise GraphSchemaError(f"{NodeField.LABELS} must be array<string>, got {lbl}")
    for name, dt in schema.items():
        if name in NodeField.RESERVED:
            continue
        if not _valid_prop_type(dt):
            raise GraphSchemaError(f"unsupported node property type {name}: {dt}")


def validate_rels(rels: DataFrame) -> None:
    """Rel table must have START_ID:long, END_ID:long, TYPE:string."""
    schema = {f.name: f.dataType for f in rels.schema.fields}
    for key in (RelField.START_ID, RelField.END_ID):
        if key not in schema:
            raise GraphSchemaError(f"rel table missing {key} column")
        if not isinstance(schema[key], (T.LongType, T.IntegerType)):
            raise GraphSchemaError(f"{key} must be integral, got {schema[key]}")
    if RelField.TYPE not in schema:
        raise GraphSchemaError(f"rel table missing {RelField.TYPE} column")
    if not isinstance(schema[RelField.TYPE], T.StringType):
        raise GraphSchemaError(f"{RelField.TYPE} must be string")
    for name, dt in schema.items():
        if name in RelField.RESERVED:
            continue
        if not _valid_prop_type(dt):
            raise GraphSchemaError(f"unsupported rel property type {name}: {dt}")


@dataclass
class Graph:
    """An in-memory (well, Spark-managed) property graph projection.

    The reference's equivalent is a GDS ``GraphStore`` built by
    ``GdsWriteJob`` (``plugin/.../job/GdsWriteJob.java:356-384``) — a CSR
    adjacency + property columns. In Spark the flat edge DataFrame IS the
    physical format (joins don't need CSR), so a Graph is just the two
    frames, its catalog key and its node and relationship high-water
    marks.
    """

    name: str
    nodes: DataFrame
    #: the one relationship frame; every edge carries its stored
    #: ``REL_ID`` (catalog registration numbers a frame without one)
    rels: DataFrame | None = None
    database: str = "neo4j"
    username: str = "neo4j"
    #: the node-ID high-water mark: no node of this version has a larger
    #: ID, and a Cypher CREATE allocates above it (None: not known; the
    #: first CREATE computes it). Registration or a write's commit sets it.
    max_id: int | None = None
    #: the relationship high-water mark: no edge of this version has a
    #: larger ``REL_ID``, and a CREATE numbers its edges above it (None:
    #: not known; the first relationship CREATE computes it). Registration
    #: or a write's commit sets it.
    max_rel_id: int | None = None

    def node_properties(self) -> list[str]:
        return [c for c in self.nodes.columns if c not in NodeField.RESERVED]

    def rel_properties(self) -> list[str]:
        if self.rels is None:
            return []
        return [c for c in self.rels.columns if c not in RelField.RESERVED]

    def labels(self) -> list[str]:
        """Distinct labels — GraphStore.nodeLabels() equivalent."""
        rows = (
            self.nodes.select(F.explode(NodeField.LABELS).alias("l")).distinct().collect()
        )
        return sorted(r["l"] for r in rows)

    def rel_types(self) -> list[str]:
        if self.rels is None:
            return []
        rows = self.rels.select(RelField.TYPE).distinct().collect()
        return sorted(r[RelField.TYPE] for r in rows)

    def node_count(self) -> int:
        return self.nodes.count()

    def rel_count(self) -> int:
        return 0 if self.rels is None else self.rels.count()


_REL_AGGS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count": lambda c: F.count("*"),
    "single": F.first,  # GDS SINGLE: arbitrary-but-deterministic below
}


def project_rels(
    rels: DataFrame,
    weight: str | None = None,
    aggregation: str = "sum",
    round_to: int = 2,
) -> DataFrame:
    """GDS graph-projection relationship aggregation parity: collapse
    parallel edges per ``(START_ID, END_ID, TYPE)`` with the standard
    SUM / MIN / MAX / COUNT / SINGLE property aggregations
    (gds.graph.project's relationshipProperties aggregation — the
    reference's GDS host projects graphs this way before any
    algorithm). Returns ``(START_ID, END_ID, TYPE, parallel_count[,
    weight])``.

    SINGLE is made deterministic (min value) instead of
    arbitrary-first, so results are a pure function of the data.
    Numeric aggregates are rounded per the cross-engine contract.

    Plan: one map-side-combinable groupBy on the natural join key —
    the projection every downstream algorithm join then reuses as its
    pre-aggregated, skew-reduced edge list (collapsing parallel edges
    BEFORE an algorithm is the first supernode mitigation at 100 TB).
    """
    if aggregation not in _REL_AGGS:
        raise ValueError(
            f"aggregation must be one of {sorted(_REL_AGGS)}, "
            f"got {aggregation!r}"
        )
    aggs = [F.count("*").cast("long").alias("parallel_count")]
    if weight is not None:
        if aggregation == "single":
            col = F.min(weight)
        elif aggregation == "count":
            col = F.count(weight).cast("long")
        else:
            col = _REL_AGGS[aggregation](weight)
        if aggregation in ("sum", "min", "max"):
            col = F.round(col, round_to)
        aggs.append(col.alias(weight))
    return rels.groupBy(
        RelField.START_ID, RelField.END_ID, RelField.TYPE
    ).agg(*aggs)
