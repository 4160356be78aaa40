"""Native MERGE-batch application: Cypher write statements → property graph.

The reference emits nothing past validation — cypher-guard checks MERGE
batches that a live Neo4j then applies (reference `data/ingest.py` ships
statements over bolt; `rust/cypher_guard/src/lib.rs` has no write engine).
This module completes the write side natively: a batch of guard-valid
MERGE statements applies to a property graph with Neo4j MERGE semantics,
entirely as DataFrame ops, and the read-side executor
(`pipeline/executor.py`) queries the result. The round-trip contract
(write-read parity, pytest + oracle gated):

    apply_merge_batches(spark, build_merge_batches(entity_map, triples))
        == graph_frames(canonical_triples)

i.e. parsing our own emitted Cypher and re-applying it reproduces the
directly-materialized graph node-for-node and edge-for-edge.

Statement MULTISET semantics — order-free, which is exactly what a
distributed apply needs and exactly what MERGE provides on this grammar
subset (idempotent, commutative):
- ``MERGE (n:L {props})`` → the node exists afterwards;
- ``MERGE (a:L1 {p})-[:T]->(b:L2 {q})`` → both endpoints exist, one edge
  per distinct (src node, type, dst node) — Neo4j creates the whole
  path when unmatched, and both halves are property-identified here;
- duplicate statements and equal property maps unify into one node, as
  MERGE would on a uniqueness-constrained store.

Typed refusals (honest subset — never silently dropped):
- CREATE: creates a NEW node per execution regardless of existing data;
  a properties-are-identity graph cannot represent two distinct nodes
  with equal property maps. MERGE-only.
- ON CREATE SET / ON MATCH SET: the storage model renders properties
  INSIDE node identity (the codegen writes the full map in the MERGE
  pattern and never emits SET — codegen.py module docstring); a
  post-merge SET would mutate identity under the executor's feet.
- property keys outside the codegen-rendered model
  (`codegen.rendered_keys`): schema-VALID keys
  like Person.age pass the guard but are refused here, matching the
  executor's unmaterialized-property treatment (they are never written,
  so reads see NULL).
- undirected / left-pointing / variable-length relationships in MERGE
  (Neo4j itself refuses undirected MERGE relationships), >1 hop paths,
  and relationship property maps (never emitted, nowhere to store).

Scale shape: statements parse in ONE Arrow-batched pandas UDF (broadcast
DbSchema, stateless → embarrassingly parallel, no shuffle introduced —
`spark/validate_udf.with_schema_udf`); the graph then falls out as
distinct() over id-only columns (`executor.graph_from_edges`). No driver
loops, no collect on data.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
)

from ..guard import api
from ..guard.schema import DbSchema
from ..spark.validate_udf import with_schema_udf
from .codegen import node_id_text, rendered_keys
from .executor import graph_from_edges
from .synth import pipeline_db_schema

logger = logging.getLogger(__name__)

_PARSED_SCHEMA = StructType(
    [
        StructField("kind", StringType()),  # 'node' | 'rel'
        StructField("src", StringType()),  # node identity string
        StructField("rel_type", StringType()),
        StructField("dst", StringType()),
        StructField("err", StringType()),
    ]
)


_MAX_LISTED_REFUSALS = 20


class MergeApplyRefused(Exception):
    """Statements failed validation or fell outside the applier subset.

    ``failures`` lists at most the first 20 (statement, error) pairs;
    ``total`` is the number of refused statements.
    """

    def __init__(self, failures: list, total: int):
        self.failures = failures
        self.total = total
        super().__init__(
            f"{total} statement(s) refused; listing the first {len(failures)}; "
            f"first: {failures[0][1]} [{failures[0][0][:120]}]"
        )


def _node_identity(np) -> str:
    """The node's identity string from its parsed property map — equal to
    `codegen.node_id` on the canonical surface, because the codegen
    renders exactly these keys from that surface. Raises ValueError
    (→ per-statement err) outside the rendered model."""
    label = np.label
    if not label:
        raise ValueError("MERGE node without a label")
    props = {p.key: p.value for p in (np.properties or [])}
    keys = rendered_keys(label)
    extra = set(props) - set(keys)
    if extra:
        raise ValueError(
            f"property keys outside the rendered model for {label}: "
            f"{sorted(extra)} (the codegen never writes them; the "
            "executor reads them as NULL)"
        )
    missing = set(keys) - set(props)
    if missing:
        raise ValueError(
            f"MERGE {label} without its identity keys: {sorted(missing)}"
        )
    # number literals render through format_string %s the same way
    return node_id_text(label, {k: str(props[k].value) for k in keys})


def _parse_statement(stmt: str, schema: DbSchema) -> tuple:
    """One statement → (kind, src, rel_type, dst, err)."""
    if stmt is None or not stmt.strip():
        return (None, None, None, None, "empty statement")
    ast, perr, verrors = api.analyze(stmt, schema)
    if perr is not None:
        return (None, None, None, None, f"{perr.code}: {perr.message}")
    if verrors:
        return (None, None, None, None, "; ".join(e.message for e in verrors))
    if ast.create_clauses:
        return (
            None,
            None,
            None,
            None,
            "CREATE is refused: it makes a new node per execution; a "
            "properties-are-identity graph cannot hold two nodes with "
            "equal property maps (MERGE-only applier)",
        )
    if len(ast.merge_clauses) != 1 or any(
        (
            ast.match_clauses,
            ast.with_clauses,
            ast.where_clauses,
            ast.unwind_clauses,
            ast.call_clauses,
            ast.return_clauses,
        )
    ):
        return (
            None,
            None,
            None,
            None,
            "applier statements are exactly one MERGE clause",
        )
    mc = ast.merge_clauses[0]
    if (mc.on_create is not None and mc.on_create.set_clauses) or (
        mc.on_match is not None and mc.on_match.set_clauses
    ):
        return (
            None,
            None,
            None,
            None,
            "ON CREATE/ON MATCH SET is refused: properties live inside "
            "node identity (the codegen never emits SET)",
        )
    if len(mc.elements) != 1:
        return (None, None, None, None, "one pattern per MERGE statement")
    pattern = mc.elements[0].pattern
    nodes = [p for p in pattern if p.__class__.__name__ == "NodePattern"]
    rels = [p for p in pattern if p.__class__.__name__ == "RelationshipPattern"]
    if len(nodes) + len(rels) != len(pattern):
        # quantified path patterns parse inside MERGE (the grammar
        # reuses match_element) but have no apply semantics
        return (
            None,
            None,
            None,
            None,
            "quantified path pattern in MERGE (no apply semantics)",
        )
    try:
        if len(nodes) == 1 and not rels:
            return ("node", _node_identity(nodes[0]), None, None, None)
        if len(nodes) == 2 and len(rels) == 1:
            d = rels[0].details
            if d.direction != "right":
                raise ValueError(
                    "MERGE relationships must be directed left-to-right "
                    "(Neo4j refuses undirected MERGE)"
                )
            if d.length is not None or d.quantifier is not None:
                raise ValueError("variable-length MERGE relationship")
            if d.properties:
                raise ValueError(
                    "relationship property maps are never emitted; "
                    "nowhere to store them"
                )
            if not d.rel_type:
                raise ValueError("MERGE relationship without a type")
            return (
                "rel",
                _node_identity(nodes[0]),
                d.rel_type,
                _node_identity(nodes[1]),
                None,
            )
        raise ValueError("MERGE pattern beyond a node or one directed hop")
    except ValueError as e:
        return (None, None, None, None, str(e))


def parse_merge_statements(
    spark: SparkSession,
    statements: DataFrame,
    schema: DbSchema,
    statement_col: str = "statement",
) -> DataFrame:
    """statements + (kind, src, rel_type, dst, err) — one Arrow-batched
    pandas UDF over the statement column, DbSchema on a broadcast."""
    return with_schema_udf(
        spark, statements, statement_col, schema, _parse_statement, _PARSED_SCHEMA
    )


def apply_merge_batches(
    spark: SparkSession,
    batches: DataFrame,
    schema: DbSchema | None = None,
    cypher_col: str = "cypher",
    on_error: str = "raise",
) -> tuple:
    """Apply MERGE batches → (nodes, edges) in the executor's
    graph_frames layout: nodes (node_id), edges (src, pred, dst,
    edge_id), both distinct.

    `batches` carries newline-joined multi-statement batch strings
    (build_merge_batches output) — statements split and explode JVM-side
    before the single parse UDF. `on_error='raise'` (default) raises
    MergeApplyRefused with the total refused count and the first 20
    refused statements; 'skip' applies the valid subset (the refusals
    remain queryable via parse_merge_statements). Any other value raises
    ValueError. The apply itself is one parse pass (a lazy local
    checkpoint) + two distinct()s — no driver loop, nothing collected but
    refusals.
    """
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")
    if schema is None:
        schema = pipeline_db_schema()
    stmts = batches.select(
        F.explode(F.split(F.col(cypher_col), "\n")).alias("statement")
    ).where(F.trim("statement") != "")
    # four plans read `parsed` (the refusal check, the node branch, both
    # edge endpoints); the lazy checkpoint parses each statement once
    parsed = parse_merge_statements(spark, stmts, schema).localCheckpoint(eager=False)
    if on_error == "raise":
        bad = parsed.where(F.col("err").isNotNull()).select("statement", "err")
        failures = [
            (r["statement"], r["err"])
            for r in bad.limit(_MAX_LISTED_REFUSALS).collect()
        ]
        if failures:
            # count only when the listing is truncated: no extra job otherwise
            total = len(failures)
            if total == _MAX_LISTED_REFUSALS:
                total = bad.count()
            raise MergeApplyRefused(failures, total)
    else:
        # not counted: a count would cost a Spark job
        logger.warning(
            "apply_merge_batches(on_error='skip'): refused MERGE statements "
            "are dropped; list them with parse_merge_statements"
        )
        parsed = parsed.where(F.col("err").isNull())
    return graph_from_edges(
        parsed.where(F.col("kind") == "rel").select(
            "src", F.col("rel_type").alias("pred"), "dst"
        ),
        parsed.where(F.col("kind") == "node").select(F.col("src").alias("node_id")),
    )
