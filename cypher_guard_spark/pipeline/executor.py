"""Cypher MATCH execution over the materialized property graph.

The reference (neo4j-field/cypher-guard) validates Cypher but cannot run
it — lib.rs has no evaluator; execution happens in the Neo4j the MERGE
batches are shipped to. This module completes that surface natively: a
validated read-only MATCH query compiles to a Spark DataFrame join plan
over the canonical triple table, returning the same rows Neo4j would
return for that query AFTER loading our emitted batches.

Read-side parity with the write-side codegen (`pipeline/codegen.py`,
which owns the rendered property model): node identity and properties
are EXACTLY what the MERGE statements create — Person {firstName,
lastName} via a limit-2 split of the canonical surface with quote
characters stripped (the grammar has no escapes), Company {companyName},
any other label {city}; an edge exists per distinct (src node, rel_type,
dst node). Two canonical surfaces that render to the same property map
are therefore the SAME node here, just as MERGE would unify them in
Neo4j.

Execution gate: the query must pass the guard's own validation ladder
(`guard.api.get_cypher_validation_errors` — parse errors raise the typed
exception taxonomy; schema violations raise CypherExecutionRefused with
the guard's error strings). Only then is a plan built: the validator and
the executor can never disagree about what a query means.

Semantics (Neo4j/openCypher parity for the supported subset):
- bag semantics — one output row per pattern binding, duplicates kept;
- relationship uniqueness scoped per MATCH clause — no edge is
  traversed twice within one clause, including ACROSS its comma
  patterns (pairwise edge-id inequality filters, the openCypher rule);
  separate MATCH clauses never exchange uniqueness constraints; node
  re-visits are always allowed;
- comma patterns and multiple MATCH clauses join on shared variables
  (Cypher's cartesian product when disjoint);
- OPTIONAL MATCH null-extends: the clause left-joins the bindings
  accumulated by the preceding clauses on shared variables; rows with
  no match keep their bindings and bind the clause-only variables to
  NULL (an OPTIONAL first clause yields its matches, or exactly one
  all-NULL row). WHERE predicates naming a variable bound only by
  OPTIONAL clauses are refused, because the reference AST stores WHERE
  in a parallel vector (ast.rs:3-12) — whether the predicate scopes to
  the required or the optional clause is unrecoverable, and the two
  readings return different rows;
- UNWIND of a LITERAL list cross-joins the list rows against the
  accumulated bindings (an empty list yields zero rows). This is safe
  under the reference AST's parallel-vector flattening because its
  clause-order FSM refuses MATCH after UNWIND — every executable
  UNWIND provably follows all the matches. INTEGER lists bind a long
  column with Cypher cross-type comparison semantics (never matches a
  string); parameter / identifier / function-call sources are refused
  (no parameter values exist at execution time);
- undirected hops bind each edge in both orientations;
- a named fixed-length relationship binds its edge-identity string
  (src␟type␟dst, node identities embedded) as a RETURN-able column;
  `r.prop` is NULL (the codegen materializes no relationship
  properties — and WHERE on `r.prop` is already refused by the
  validation ladder). Repeating a rel variable within one MATCH
  clause is refused (Neo4j compile error; also unsatisfiable under
  clause-scoped uniqueness), while re-using it in a LATER clause
  natural-joins on the same edge. A variable on a var-length
  relationship is refused (it would bind a LIST);
- a path variable `p = (...)` binds the concatenation of the chain's
  edge identities (the node id itself for a zero-hop pattern) — our
  rendering of Neo4j's path entity, one value per alternative;
- variable-length hops `[:T*a..b]` expand to a union of fixed-length
  chains (b must be explicit and total pattern hops are capped —
  unbounded expansion is plan-hostile at any scale);
- RETURN supports node vars, properties, and `count(...) AS alias`
  aggregates with openCypher implicit grouping (non-aggregate items
  are the grouping keys); aggregation runs after the alternatives
  union as one partial-agg groupBy;
- WITH executes in the provably-unambiguous SINGLE-MATCH subset (the
  clause-order FSM refuses WITH in the initial state, so with exactly
  one reading clause every WITH follows it, in vector order):
  identifier keeps/renames, aliased property projections, count(arg)
  with implicit grouping, wildcard, and chained WITHs. WHERE clauses
  apply at the EARLIEST pipeline position where all their variables
  are in scope — sound because shadowing aliases are refused, key
  filters commute with the groupBy, and a count alias exists nowhere
  before its WITH (the HAVING reading is the only compilable one).
  Unaliased WITH expressions and shadowing aliases are Neo4j compile
  errors — refused; WITH with multiple MATCH clauses or UNWIND loses
  placement in the parallel-vector AST — refused;
- CALL { subquery } executes with openCypher's uncorrelated-subquery
  cardinality semantics: the subquery FSM refuses a leading WITH, so
  importing-WITH (correlated) subqueries never parse, every parseable
  subquery is a fixed frame, and its cross join commutes with every
  outer operator except an aggregating WITH (that combination is
  refused). The guard's validator refuses outer references to
  subquery outputs ("Undefined variable"), so a CALL contributes
  exactly its row count — n rows multiply each binding, zero rows
  eliminate it. The reference extractor does not descend into
  subqueries, so the executor re-runs the extract → validate ladder
  on each subquery standalone before compiling it (nesting capped).
  The three Neo4j catalog procedures execute the same way —
  db.labels() / db.relationshipTypes() / db.propertyKeys() yield one
  row per distinct label / edge type / materialized property key of
  THIS graph (cardinality only; yields are equally unreferencable) —
  and any other procedure refuses as out of subset;
- properties the schema allows but the codegen never materializes
  (e.g. Person.age) evaluate to NULL, so comparisons on them match
  nothing and `IS NULL` matches everything — exactly a Neo4j graph
  loaded from our batches;
- comparisons follow Cypher ternary logic (NULL never matches) and the
  reference's operator quirk Q1 (`<=`/`>=` do not survive the parser)
  is inherited verbatim, because parsing IS the reference parser;
- `WHERE exists(n.prop)` (Neo4j's classic property-present predicate)
  executes as materialized-property IS NOT NULL — schema-valid but
  never-materialized properties are absent on every binding, exactly
  as in a Neo4j graph loaded from our batches; invalid property names
  are already refused by the validation ladder, and any other WHERE
  function call (the grammar admits arbitrary names) is refused as
  out of subset.

Scale shape: the graph frames are two narrow tables derived from the
triple stream with one distinct each; every hop is an equi-join keyed on
a node-id string, so Catalyst plans ordinary shuffled/broadcast hash
joins, pushes node filters below the joins, and AQE handles hub-entity
skew the same way the link-scoring stage documents. Nothing in the
compiled plan is quadratic in the graph; a k-hop pattern is k keyed
joins.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..guard.api import get_cypher_validation_errors
from ..guard.ast import (
    LengthRange,
    NodePattern,
    PropertyValue,
    QuantifiedPathPattern,
    RelationshipPattern,
    WhereCondition,
)
from ..guard.extract import extract_query_elements
from ..guard.parser.clauses import parse_query
from ..guard.validate import validate_query_elements
from ..spark.session import local_frame
from .codegen import NODE_FIELDS, NODE_SEP, node_id, per_label, renders
from .synth import pipeline_db_schema

# the Neo4j catalog procedures with executable semantics against our
# graph, each with its single canonical output name. All three answer
# from THIS graph, not from the store: db.propertyKeys lists the keys of
# the labels present here, while Neo4j lists every key ever created
# store-wide, so on a graph missing a label the row count can differ.
_CATALOG_YIELDS = {
    "db.labels": "label",
    "db.relationshipTypes": "relationshipType",
    "db.propertyKeys": "propertyKey",
}
_CATALOG_PROCS = frozenset(_CATALOG_YIELDS)


class CypherExecutionRefused(Exception):
    """The guard's validation ladder rejected the query; `.errors` carries
    the guard's own error strings (same list the reference returns)."""

    def __init__(self, errors: list):
        super().__init__("; ".join(errors))
        self.errors = list(errors)


class UnsupportedCypherFeature(Exception):
    """Parses and validates, but uses a construct outside the executable
    subset (write clauses, CALL procedures, ambiguous WITH/CALL
    placements, non-literal UNWIND, quantified path patterns, unbounded
    var-length, rel property maps, WHERE on an OPTIONAL-only
    variable...)."""


def graph_from_edges(spo: DataFrame, *node_ids: DataFrame) -> tuple:
    """(nodes, edges) in the graph_frames layout from (src, pred, dst)
    rows: one edge per distinct row, edge_id = src␟pred␟dst; nodes are the
    distinct edge endpoints and the ids of any further (node_id) frames."""
    edges = spo.dropDuplicates().withColumn(
        "edge_id", F.concat_ws(NODE_SEP, "src", "pred", "dst")
    )
    nodes = edges.select(F.col("src").alias("node_id")).unionByName(
        edges.select(F.col("dst").alias("node_id"))
    )
    for ids in node_ids:
        nodes = nodes.unionByName(ids)
    return nodes.dropDuplicates(), edges


def graph_frames(triples: DataFrame) -> tuple:
    """(nodes, edges) of the materialized property graph.

    nodes: (node_id) distinct — properties live INSIDE the id string, so
    hops and filters never join a side table (split beats a join: the id
    is already on every row).
    edges: (src, dst, pred, edge_id) distinct at node-id granularity —
    exactly one edge per distinct rendered MERGE path statement.
    """
    return graph_from_edges(
        triples.select(
            node_id(F.col("subj_label"), F.col("subj")).alias("src"),
            F.col("pred").alias("pred"),
            node_id(F.col("obj_label"), F.col("obj")).alias("dst"),
        )
    )


def _field(col_name: str, idx: int):
    return F.element_at(F.split(F.col(col_name), NODE_SEP, -1), idx)


def _prop_col(var: str, prop: str):
    """`var.prop` as a Column — NULL when the node's label doesn't
    materialize the property (Neo4j parity: the loaded graph simply has
    no such key on that node)."""
    if prop not in NODE_FIELDS:
        return F.lit(None).cast("string")
    return F.when(
        renders(_field(var, 1), prop), _field(var, NODE_FIELDS.index(prop) + 2)
    ).otherwise(F.lit(None).cast("string"))


def _prop_access_col(var: str, prop: str, kinds: dict):
    """Kind-aware `var.prop` for a bound variable (each caller refuses
    unbound ones with its own message): node → materialized property (or
    NULL), rel/path → NULL (the codegen writes no relationship
    properties, so comparisons never match and exists() is false — Neo4j
    parity for an untyped rel variable the validation ladder cannot
    catch), long/scalar → Neo4j type error."""
    k = kinds[var]
    if k in ("long", "scalar"):
        raise UnsupportedCypherFeature(
            f"property access on a non-entity value: {var}.{prop}"
        )
    if k == "rel":
        return F.lit(None).cast("string")
    return _prop_col(var, prop)


def _value_expr(pv: PropertyValue, kinds: dict):
    if pv.kind == "string":
        return F.lit(pv.value)
    if pv.kind == "number":
        # every materialized property is a STRING; Cypher cross-type
        # comparisons are never-equal, not errors (and under ANSI mode a
        # string-to-int cast would raise) — surface the Cypher answer
        return None
    if pv.kind == "boolean":
        return None
    if pv.kind == "null":
        return F.lit(None).cast("string")
    if pv.kind == "identifier":
        name = pv.value
        if "." in name:
            var, prop = name.split(".", 1)
            if var not in kinds:
                raise UnsupportedCypherFeature(f"unbound variable: {var}")
            return _prop_access_col(var, prop, kinds)
        if name in kinds:
            return F.col(name)  # node identity comparison
        raise UnsupportedCypherFeature(f"unbound identifier: {name}")
    raise UnsupportedCypherFeature(f"WHERE value kind: {pv.kind}")


_OPS = {
    "=": lambda a, b: a == b,
    "<>": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    ">": lambda a, b: a > b,
    "<=": lambda a, b: a <= b,
    ">=": lambda a, b: a >= b,
}


def _is_long(pv, long_vars: set) -> bool:
    """Does this WHERE operand carry Cypher INTEGER type? Only numeric
    literals and UNWIND-bound integer variables do — every materialized
    graph property is a string."""
    if pv is None:
        return False
    if pv.kind == "number":
        return True
    return (
        pv.kind == "identifier"
        and "." not in str(pv.value)
        and pv.value in long_vars
    )


def _condition_col(c: WhereCondition, kinds: dict, long_vars: set = frozenset()):
    if c.kind == "function_call":
        # The WHERE grammar admits bare function-call conditions; the
        # one with executable semantics is Neo4j's classic
        # `exists(n.prop)` — true iff the property is present on the
        # binding, i.e. our materialized property column is non-NULL
        # (schema-valid-but-unmaterialized props are NULL on every row,
        # so exists() is false for them — a Neo4j graph loaded from our
        # MERGE batches has no such key either).
        if c.function == "exists" and c.arguments and len(c.arguments) == 1:
            arg = str(c.arguments[0]).strip()
            if "." in arg:
                var, prop = arg.split(".", 1)
                if var not in kinds:
                    raise UnsupportedCypherFeature(f"unbound variable: {var}")
                return _prop_access_col(var, prop, kinds).isNotNull()
        raise UnsupportedCypherFeature(
            f"WHERE function call: {c.function}({', '.join(c.arguments or [])})"
        )
    if c.kind == "comparison":
        left = _value_expr(c.left, kinds)
        if c.operator == "IS NULL":
            return left.isNull() if left is not None else F.lit(True)
        if c.operator == "IS NOT NULL":
            return left.isNotNull() if left is not None else F.lit(False)
        l_long = _is_long(c.left, long_vars)
        r_long = _is_long(c.right, long_vars)
        if l_long != r_long:
            # Cypher cross-type comparison (INTEGER vs STRING): no match
            return F.lit(None).cast("boolean")
        if l_long and r_long:
            lcol = (
                F.lit(int(c.left.value))
                if c.left.kind == "number"
                else F.col(str(c.left.value))
            )
            rcol = (
                F.lit(int(c.right.value))
                if c.right.kind == "number"
                else F.col(str(c.right.value))
            )
            if c.operator not in _OPS:
                raise UnsupportedCypherFeature(f"operator: {c.operator}")
            return _OPS[c.operator](lcol, rcol)
        right = _value_expr(c.right, kinds)
        if left is None or right is None:
            # cross-type comparison against a string property: no match
            return F.lit(None).cast("boolean")
        if c.operator not in _OPS:
            raise UnsupportedCypherFeature(f"operator: {c.operator}")
        return _OPS[c.operator](left, right)
    if c.kind == "and":
        return _condition_col(c.lhs, kinds, long_vars) & _condition_col(
            c.rhs, kinds, long_vars
        )
    if c.kind == "or":
        return _condition_col(c.lhs, kinds, long_vars) | _condition_col(
            c.rhs, kinds, long_vars
        )
    if c.kind == "not":
        return ~_condition_col(c.inner, kinds, long_vars)
    if c.kind == "parenthesized":
        return _condition_col(c.inner, kinds, long_vars)
    raise UnsupportedCypherFeature(f"WHERE condition kind: {c.kind}")


def _condition_vars(c: WhereCondition) -> set:
    """Variables a WHERE condition references (for the OPTIONAL-MATCH
    attribution check and the WITH-pipeline placement rule — the
    reference AST flattens clause order away)."""
    if c.kind == "comparison":
        vs = set()
        for pv in (c.left, c.right):
            if pv is not None and getattr(pv, "kind", None) == "identifier":
                vs.add(str(pv.value).split(".", 1)[0])
        return vs
    if c.kind == "function_call":
        # exists(n.prop) references n — without this the attribution
        # checks would let an ambiguous predicate through
        return {str(a).split(".", 1)[0] for a in (c.arguments or [])}
    if c.kind in ("and", "or"):
        return _condition_vars(c.lhs) | _condition_vars(c.rhs)
    if c.kind in ("not", "parenthesized"):
        return _condition_vars(c.inner)
    return set()


def _apply_with(df: DataFrame, kinds: dict, wc) -> tuple:
    """Execute one WITH clause over the current pipeline frame.

    `kinds` maps each in-scope variable to its kind — 'node' (identity
    string; property access materializes), 'rel' (edge/path identity;
    properties are NULL), 'long' (Cypher INTEGER — UNWIND or count
    alias), 'scalar' (a WITH-projected property value; property access
    on it is a Neo4j type error). Returns (new_frame, new_kinds).

    Neo4j parity rules enforced here:
    - `WITH expr` without AS is a Neo4j compile error for any
      non-identifier expression ("Expression in WITH must be aliased")
      — refused;
    - an alias that SHADOWS an in-scope name with a different value is
      refused (keeping `p` or writing `p AS p` is identity and fine).
      This is what makes the WHERE placement rule sound: every
      surviving name has exactly one introduction point and carries the
      same value at every position where it is in scope;
    - implicit grouping: with any aggregate present the non-aggregate
      items become the grouping keys (one partial-agg groupBy — the
      same distributed shape as RETURN aggregation);
    - the only aggregate in the executable subset is count(arg)
      (count(*) inside WITH does not survive the reference parser);
      count skips NULLs, so null-extended OPTIONAL bindings and
      unmaterialized properties count 0 — openCypher semantics for
      free.
    """
    items = []  # (expr, alias), wildcard expanded to kept identifiers
    for it in wc.items:
        if it.expression.kind == "wildcard":
            if it.alias:
                raise UnsupportedCypherFeature("WITH * AS alias")
            for name in df.columns:
                items.append((("identifier", name), None))
        elif it.expression.kind == "identifier":
            items.append((("identifier", it.expression.name), it.alias))
        elif it.expression.kind == "property_access":
            items.append(
                (
                    ("property", it.expression.variable, it.expression.property),
                    it.alias,
                )
            )
        elif it.expression.kind == "function_call":
            items.append(
                (
                    (
                        "call",
                        it.expression.name,
                        [str(a.name) for a in (it.expression.args or [])],
                    ),
                    it.alias,
                )
            )
        else:
            raise UnsupportedCypherFeature(
                f"WITH item kind: {it.expression.kind}"
            )

    def entity_col(var: str, prop: str):
        if var not in kinds:
            raise UnsupportedCypherFeature(f"WITH of unbound: {var}")
        return _prop_access_col(var, prop, kinds)

    keys = []  # (col, out_name, out_kind, identity_source_or_None)
    aggs = []  # (arg_col, out_name)
    for expr, alias in items:
        if expr[0] == "identifier":
            name = expr[1]
            if name not in kinds:
                raise UnsupportedCypherFeature(f"WITH of unbound: {name}")
            out = alias or name
            keys.append((F.col(name), out, kinds[name], name))
        elif expr[0] == "property":
            _, var, prop = expr
            if alias is None:
                raise UnsupportedCypherFeature(
                    f"WITH expression must be aliased: {var}.{prop} "
                    "(Neo4j compile error)"
                )
            keys.append((entity_col(var, prop), alias, "scalar", None))
        else:  # call
            _, fn, args = expr
            if fn != "count":
                raise UnsupportedCypherFeature(f"WITH aggregate: {fn}(...)")
            if alias is None:
                raise UnsupportedCypherFeature(
                    "WITH count(...) must be aliased (Neo4j compile error)"
                )
            if len(args) != 1:
                raise UnsupportedCypherFeature(
                    f"count() takes one argument, got {len(args)}"
                )
            arg = args[0]
            if "." in arg:
                var, prop = arg.split(".", 1)
                argcol = entity_col(var, prop)
            else:
                if arg not in kinds:
                    raise UnsupportedCypherFeature(f"WITH of unbound: {arg}")
                argcol = F.col(arg)
            aggs.append((argcol, alias))

    out_names = [n for _c, n, _k, _s in keys] + [n for _c, n in aggs]
    if len(set(out_names)) != len(out_names):
        raise UnsupportedCypherFeature(
            f"duplicate WITH output names: {out_names}"
        )
    for _c, n, _k, src in keys:
        if n in kinds and src != n:
            raise UnsupportedCypherFeature(
                f"WITH alias shadows an in-scope variable: {n} (the name "
                "would carry different values at different pipeline "
                "positions, breaking WHERE placement recovery)"
            )
    for _c, n in aggs:
        if n in kinds:
            raise UnsupportedCypherFeature(
                f"WITH alias shadows an in-scope variable: {n}"
            )

    nf = _project(df, [(c, n) for c, n, _k, _s in keys], aggs, out_names)
    nkinds = {n: k for _c, n, k, _s in keys}
    nkinds.update({n: "long" for _c, n in aggs})
    return nf, nkinds


def _project(df: DataFrame, keys: list, counts: list, order: list) -> DataFrame:
    """`keys` (col, name) and `counts` (count argument col, name) → one
    column each, in `order`. With any count, openCypher implicit grouping:
    the keys group the rows, each count skips NULL arguments, and no keys
    means one global row."""
    cols = [c.alias(n) for c, n in keys]
    if counts:
        df = (
            df.select(*cols, *[c.alias(f"__agg{i}") for i, (c, _n) in enumerate(counts)])
            .groupBy(*[n for _c, n in keys])
            .agg(*[F.count(f"__agg{i}").alias(n) for i, (_c, n) in enumerate(counts)])
        )
    else:
        df = df.select(*cols)
    return df.select(*order)


def _node_filter(col_name: str, np: NodePattern):
    """Label + pattern-property-map constraints for a bound node column."""
    cond = None
    if np.label:
        c = _field(col_name, 1) == np.label
        cond = c if cond is None else cond & c
    for p in np.properties or ():
        val = _value_expr(p.value, {})
        pc = _prop_col(col_name, p.key)
        c = (pc == val) if val is not None else F.lit(None).cast("boolean")
        cond = c if cond is None else cond & c
    return cond


def _expand_pattern(pattern: list) -> tuple:
    """Linear alternating [Node, Rel, Node, ...] → (nodes, rels);
    rejects anything outside the executable subset."""
    nodes, rels = [], []
    for el in pattern:
        if isinstance(el, QuantifiedPathPattern):
            raise UnsupportedCypherFeature("quantified path pattern")
        if isinstance(el, NodePattern):
            nodes.append(el)
        elif isinstance(el, RelationshipPattern):
            d = el.details
            if el.optional or d.is_optional:
                raise UnsupportedCypherFeature("optional relationship")
            if d.properties:
                raise UnsupportedCypherFeature("relationship property map")
            if d.where_clause is not None:
                raise UnsupportedCypherFeature("inline relationship WHERE")
            rels.append(el)
        else:
            raise UnsupportedCypherFeature(type(el).__name__)
    if len(nodes) != len(rels) + 1:
        raise UnsupportedCypherFeature("non-linear pattern")
    return nodes, rels


def _hop_lengths(length: LengthRange | None, max_total_hops: int) -> list:
    if length is None:
        return [1]
    lo = length.min if length.min is not None else 1
    hi = length.max if length.max is not None else length.min
    if hi is None:
        raise UnsupportedCypherFeature(
            "unbounded variable-length pattern — give an explicit upper "
            "bound (unbounded expansion is plan-hostile at any scale)"
        )
    if lo < 1 or hi < lo:
        raise UnsupportedCypherFeature(f"variable-length range *{lo}..{hi}")
    if hi > max_total_hops:
        raise UnsupportedCypherFeature(
            f"variable-length upper bound {hi} exceeds max_total_hops="
            f"{max_total_hops}"
        )
    return list(range(lo, hi + 1))


def _compile_chain(
    edges: DataFrame,
    names: list,
    nodes: list,
    rels: list,
    nodes_df: DataFrame,
    eprefix: str = "__e",
):
    """Fixed-length linear chain → (DataFrame, edge_cols): one node-id
    column per distinct variable plus one {eprefix}{i} edge-id column per
    hop (kept — the CALLER applies relationship uniqueness, because the
    openCypher scope is the whole MATCH clause, across comma patterns).
    Node filters are applied on the hop frame BEFORE the join (Catalyst
    would push them anyway; being explicit keeps the plan readable)."""
    if not rels:  # single-node pattern: scan the node table
        frame = nodes_df.select(F.col("node_id").alias(names[0]))
        flt = _node_filter(names[0], nodes[0])
        return (frame.where(flt) if flt is not None else frame, [])
    cur = None
    bound = []  # column names bound so far, in order
    for i, rel in enumerate(rels):
        e = edges
        rt = rel.details.rel_type
        if rt:
            types = rt.split("|")  # reference joins "A|B" into one string
            e = e.where(F.col("pred").isin(types))
        d = rel.details.direction
        if d == "right":
            pairs = e.select("src", "dst", "edge_id")
        elif d == "left":
            pairs = e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "edge_id"
            )
        else:  # undirected: each edge binds in both orientations; a
            # self-loop's orientations coincide, so it binds once (Neo4j)
            pairs = e.select("src", "dst", "edge_id").unionByName(
                e.where(F.col("src") != F.col("dst")).select(
                    F.col("dst").alias("src"), F.col("src").alias("dst"), "edge_id"
                )
            )
        a, b = names[i], names[i + 1]
        if a == b:  # self-loop pattern (x)-[:T]->(x)
            frame = pairs.where(F.col("src") == F.col("dst")).select(
                F.col("src").alias(a), F.col("edge_id").alias(f"{eprefix}{i}")
            )
        else:
            frame = pairs.select(
                F.col("src").alias(a),
                F.col("dst").alias(b),
                F.col("edge_id").alias(f"{eprefix}{i}"),
            )
        for name, np in ((a, nodes[i]), (b, nodes[i + 1])):
            if name in frame.columns:
                flt = _node_filter(name, np)
                if flt is not None:
                    frame = frame.where(flt)
        if cur is None:
            cur = frame
        else:
            on = [c for c in frame.columns if c in set(bound)]
            cur = cur.join(frame, on=on) if on else cur.crossJoin(frame)
        bound = list(dict.fromkeys(bound + frame.columns))
    return cur, [f"{eprefix}{i}" for i in range(len(rels))]


def execute_cypher(
    spark: SparkSession,
    triples: DataFrame | None,
    query: str,
    db_schema=None,
    max_total_hops: int = 6,
    graph: tuple | None = None,
) -> DataFrame:
    """Validate `query` with the guard, then run it against the property
    graph materialized from `triples` (columns subj, pred, obj,
    subj_label, obj_label — the canonical triple stream), or — when
    `graph=(nodes, edges)` is passed — against a prebuilt graph in the
    graph_frames layout (e.g. the output of
    `apply_merge.apply_merge_batches`: the full native write→read loop,
    triples → codegen → MERGE apply → Cypher execution, no Neo4j).

    Output columns: one per RETURN item — `a` → node identity string
    (column `a`), `a.firstName` → the property (column `a_firstName`).
    """
    schema = db_schema if db_schema is not None else pipeline_db_schema()
    errors = get_cypher_validation_errors(query, schema)  # raises on parse
    if errors:
        raise CypherExecutionRefused(errors)
    q = parse_query(query)

    nodes_df, edges = graph if graph is not None else graph_frames(triples)
    return _compile_query(spark, q, nodes_df, edges, schema, max_total_hops)


def _compile_query(
    spark: SparkSession,
    q,
    nodes_df: DataFrame,
    edges: DataFrame,
    schema,
    max_total_hops: int,
    depth: int = 0,
) -> DataFrame:
    """Compile one (already validation-gated) read query over the graph
    frames and return the projected RETURN DataFrame. Recurses for CALL
    subqueries (each subquery is re-validated standalone first — the
    reference extractor does not descend into subqueries)."""
    for attr, label in (
        ("merge_clauses", "MERGE"),
        ("create_clauses", "CREATE"),
    ):
        if getattr(q, attr):
            raise UnsupportedCypherFeature(f"{label} clause (read-only executor)")
    if q.call_clauses:
        # CALL { subquery } executes. Soundness under the parallel-vector
        # AST: the subquery FSM starts in the initial state, which
        # refuses WITH — so importing-WITH (correlated) subqueries never
        # parse and every parseable subquery is UNCORRELATED: a fixed
        # frame whose cross join commutes with the outer equi-joins,
        # left joins and filters (disjoint columns), making CALL
        # placement irrelevant. The one non-commuting neighbor is an
        # AGGREGATING outer WITH (multiplicity feeds the count), whose
        # relative order is lost — the combination is refused. The
        # guard's own validator refuses any outer reference to a
        # subquery output ("Undefined variable"), so a CALL contributes
        # exactly its CARDINALITY: n result rows multiply every outer
        # binding n times, zero rows eliminate them — openCypher's
        # uncorrelated-subquery semantics.
        if q.with_clauses:
            raise UnsupportedCypherFeature(
                "CALL combined with WITH: relative order is lost by the "
                "reference AST (ast.rs:3-12) and an aggregating WITH "
                "does not commute with the subquery cross join"
            )
        if depth >= 3:
            raise UnsupportedCypherFeature("CALL subqueries nested >3 deep")
        for cc in q.call_clauses:
            if cc.subquery is None and cc.procedure not in _CATALOG_PROCS:
                raise UnsupportedCypherFeature(
                    f"CALL procedure: {cc.procedure}() (only the Neo4j "
                    "catalog procedures db.labels / db.relationshipTypes "
                    "/ db.propertyKeys execute natively)"
                )
    if q.with_clauses:
        # WITH placement is only recoverable from the reference AST's
        # parallel clause vectors (ast.rs:3-12) when the query has
        # exactly ONE reading clause: the clause-order FSM refuses WITH
        # in the initial state, so with a single MATCH every WITH
        # provably follows it (and the WITH vector keeps written order).
        # With multiple MATCH clauses a WITH could sit between any two
        # of them — different placements return different rows — and
        # WITH-vs-UNWIND relative order is equally lost. Both refused.
        if len(q.match_clauses) != 1:
            raise UnsupportedCypherFeature(
                "WITH with multiple MATCH clauses: placement among the "
                "matches is lost by the reference AST (ast.rs:3-12)"
            )
        if q.unwind_clauses:
            raise UnsupportedCypherFeature(
                "WITH combined with UNWIND: relative order is lost by "
                "the reference AST (ast.rs:3-12)"
            )
    if not q.match_clauses and not q.unwind_clauses:
        raise UnsupportedCypherFeature("MATCH or UNWIND clause required")
    if not q.return_clauses:
        raise UnsupportedCypherFeature("RETURN clause required")

    named: set = set()
    nonnode_vars: set = set()  # rel/path vars: property access is NULL

    def element_alternatives(el, eprefix: str, clause_rel_vars: set) -> list:
        """One (df, edge_cols) per var-length alternative of this comma
        pattern (one entry when no var-length rel). The reference parser
        stores `[*a..b]` in `quantifier` (length_range is the
        inside-details variant) — accept either. Named fixed-length
        relationships bind their edge-identity string as a column (a
        repeated rel variable within the chain adds an equality filter —
        same edge, openCypher); a path variable binds the concatenation
        of the chain's edge identities (the node id itself for zero-hop
        patterns)."""
        pattern, path_var = el.pattern, el.path_var
        nodes, rels = _expand_pattern(pattern)
        node_names = {n.variable for n in nodes if n.variable}
        # a node variable reusing a rel/path name bound by an EARLIER
        # element or clause would silently equi-join node ids against
        # edge ids (never equal → empty result); Neo4j raises a
        # variable-already-bound compile error — refuse, never guess
        clash = node_names & nonnode_vars
        if clash:
            raise UnsupportedCypherFeature(
                f"variable bound as both node and relationship/path: "
                f"{sorted(clash)}"
            )
        named.update(node_names)
        var_idx = [
            i
            for i, r in enumerate(rels)
            if r.details.length is not None or r.details.quantifier is not None
        ]
        if len(var_idx) > 1:
            raise UnsupportedCypherFeature(
                "multiple variable-length relationships in one pattern"
            )
        for i, r in enumerate(rels):
            rv = r.details.variable
            if rv and i in var_idx:
                raise UnsupportedCypherFeature(
                    f"variable on a variable-length relationship ({rv} "
                    "would bind a LIST of relationships)"
                )
            if rv and (
                rv in node_names
                or (rv in named and rv not in nonnode_vars)
            ):
                # same element, an earlier element, or an earlier clause
                # bound this name to a NODE (cross-clause REL reuse is
                # the openCypher same-edge natural join and stays legal)
                raise UnsupportedCypherFeature(
                    f"variable bound as both node and relationship: {rv}"
                )
            if rv and rv in clause_rel_vars:
                # Neo4j compile error; also unsatisfiable under the
                # clause-scoped uniqueness inequality
                raise UnsupportedCypherFeature(
                    "relationship variable repeated within one MATCH "
                    f"clause: {rv}"
                )
        clause_rel_vars.update(
            r.details.variable for r in rels if r.details.variable
        )
        if path_var and (
            path_var in node_names
            or path_var in {r.details.variable for r in rels}
            or path_var in named
        ):
            # shadows a pattern variable, or redeclares a name bound by
            # an earlier element/clause (Neo4j compile error either way)
            raise UnsupportedCypherFeature(
                f"path variable shadows a bound variable: {path_var}"
            )
        if len(rels) > max_total_hops:
            raise UnsupportedCypherFeature(f"more than {max_total_hops} hops")

        def chain_for(lengths_at: dict):
            xnames, xnodes, xrels = [], [], []
            anon = 0
            for i, np in enumerate(nodes):
                xnodes.append(np)
                xnames.append(np.variable or f"{eprefix}n{len(xnames)}")
                if i < len(rels):
                    L = lengths_at.get(i, 1)
                    for k in range(L):
                        xrels.append(rels[i])
                        if k < L - 1:  # fresh anonymous intermediate node
                            xnodes.append(NodePattern())
                            anon += 1
                            xnames.append(f"{eprefix}v{anon}")
            # names unique except deliberate variable reuse (cycles)
            df, ecols = _compile_chain(
                edges, xnames, xnodes, xrels, nodes_df, eprefix=eprefix
            )
            assigned: dict = {}
            for j, r in enumerate(xrels):
                rv = r.details.variable
                if not rv:
                    continue
                if rv in assigned:
                    # Neo4j compile error — and unsatisfiable here anyway
                    # (same-edge equality contradicts the clause-scoped
                    # uniqueness inequality)
                    raise UnsupportedCypherFeature(
                        f"relationship variable repeated in one pattern: {rv}"
                    )
                df = df.withColumn(rv, F.col(ecols[j]))
                assigned[rv] = ecols[j]
            named.update(assigned)
            nonnode_vars.update(assigned)
            if path_var:
                pcol = (
                    F.concat_ws("\x1e", *[F.col(c) for c in ecols])
                    if ecols
                    else F.col(xnames[0])
                )
                df = df.withColumn(path_var, pcol)
                named.add(path_var)
                nonnode_vars.add(path_var)
            return df, ecols

        if var_idx:
            i = var_idx[0]
            spec = rels[i].details.length or rels[i].details.quantifier
            lengths = _hop_lengths(spec, max_total_hops)
            if len(rels) - 1 + max(lengths) > max_total_hops:
                raise UnsupportedCypherFeature(
                    f"more than {max_total_hops} hops"
                )
            return [chain_for({i: L}) for L in lengths]
        return [chain_for({})]

    def combine(framesets: list) -> list:
        """Product of per-part alternatives; parts join on shared node
        variables (Neo4j's cartesian product when disjoint)."""
        out = framesets[0]
        for fs in framesets[1:]:
            nxt = []
            for da, ea in out:
                for db, eb in fs:
                    shared = [c for c in db.columns if c in set(da.columns)]
                    j = da.join(db, on=shared) if shared else da.crossJoin(db)
                    nxt.append((j, ea + eb))
            out = nxt
        return out

    # Clauses execute sequentially in written order; relationship
    # uniqueness is scoped to the CLAUSE (openCypher: across comma
    # patterns within one MATCH, but never across separate MATCH
    # clauses). Each clause reduces to ONE frame — the union of its
    # var-length/comma-pattern alternatives projected to the clause's
    # NAMED variables (anonymous intermediates served only the
    # uniqueness filters; bag multiplicity is preserved because the
    # projection never dedups). A required clause inner-joins the
    # accumulated bindings on shared variables (Cypher's cartesian
    # product when disjoint); an OPTIONAL clause LEFT-joins, so
    # unmatched rows keep the accumulated bindings and bind the
    # clause-only variables to NULL (openCypher null-extension). An
    # OPTIONAL first clause left-joins a literal one-row seed: matches,
    # or exactly one all-NULL row — Neo4j's answer.
    acc = None
    req_vars: set = set()  # vars bound by at least one REQUIRED clause
    for ci, mc in enumerate(q.match_clauses):
        clause_rel_vars: set = set()
        element_sets = [
            element_alternatives(
                el, eprefix=f"__e{ci}_{ei}_", clause_rel_vars=clause_rel_vars
            )
            for ei, el in enumerate(mc.elements)
        ]
        alts = []
        for df, ecols in combine(element_sets):
            for i in range(len(ecols)):
                for j in range(i + 1, len(ecols)):
                    df = df.where(F.col(ecols[i]) != F.col(ecols[j]))
            alts.append(df.drop(*ecols))
        if len(alts) > 64:
            raise UnsupportedCypherFeature(
                "variable-length alternative explosion (>64 plan branches)"
            )
        # clause frame: named vars + a constant marker (keeps zero-var
        # clauses' row multiplicity through unions and joins)
        marker = f"__m{ci}"
        clause_vars = sorted(
            c for c in alts[0].columns if not c.startswith("__")
        )
        cf = alts[0].select(*clause_vars, F.lit(1).alias(marker))
        for a in alts[1:]:
            cf = cf.unionByName(a.select(*clause_vars, F.lit(1).alias(marker)))
        if not mc.is_optional:
            req_vars.update(clause_vars)
        if acc is None:
            if not mc.is_optional:
                acc = cf
                continue
            # OPTIONAL MATCH as the first clause: seed one empty row
            acc = spark.range(1).select(F.lit(1).alias("__seed"))
        shared = [
            c
            for c in cf.columns
            if c in set(acc.columns) and not c.startswith("__")
        ]
        if mc.is_optional:
            if shared:
                acc = acc.join(cf, on=shared, how="left")
            else:
                # disjoint OPTIONAL pattern: every accumulated row pairs
                # with every match; none → one NULL-extended row each
                k = f"__k{ci}"
                acc = (
                    acc.withColumn(k, F.lit(1))
                    .join(cf.withColumn(k, F.lit(1)), on=k, how="left")
                    .drop(k)
                )
        else:
            acc = acc.join(cf, on=shared) if shared else acc.crossJoin(cf)

    # UNWIND literal lists. The reference clause-order FSM refuses MATCH
    # after UNWIND (the parse fails), so every executable UNWIND follows
    # all the matches — the AST's parallel-vector flattening loses
    # nothing here, and the openCypher reading is exactly a cross join
    # of the list rows against the accumulated bindings (an empty list
    # yields zero rows, killing the result — Cypher parity). Parameters
    # have no value at execution time and identifier/function-call
    # sources are out of subset — all refused. The element type becomes
    # the variable's Cypher type: INTEGER lists bind a long column that
    # only compares against numeric literals (cross-type comparisons
    # never match, see _is_long), STRING lists bind a string column.
    long_vars: set = set()
    for uc in q.unwind_clauses:
        expr = uc.expression
        if expr.kind != "list":
            raise UnsupportedCypherFeature(
                f"UNWIND {expr.kind} (only literal lists execute)"
            )
        var = uc.variable
        if var in named:
            raise UnsupportedCypherFeature(
                f"UNWIND shadows a bound variable: {var}"
            )
        kinds = {pv.kind for pv in expr.value}
        if kinds <= {"number"}:
            vals, typ = [(int(pv.value),) for pv in expr.value], "long"
            long_vars.add(var)
        elif kinds == {"string"}:
            vals, typ = [(str(pv.value),) for pv in expr.value], "string"
        else:
            raise UnsupportedCypherFeature(
                "UNWIND list with mixed or non-scalar element types"
            )
        named.add(var)
        req_vars.add(var)  # always bound — never null-extended
        lf = local_frame(spark, vals, f"`{var}` {typ}")
        acc = lf if acc is None else acc.crossJoin(lf)

    # CALL { subquery } — compile each standalone and cross-join its
    # frame for cardinality (see the refusal block above for why this
    # placement is provably the only reading). The reference extractor
    # does NOT descend into subqueries (extract.rs parity — an invalid
    # label inside CALL {} passes the outer ladder), so the execution
    # gate completes the check here: each subquery re-runs the same
    # extract → validate ladder as a standalone query before compiling.
    for k, cc in enumerate(q.call_clauses):
        if cc.subquery is None:
            # Neo4j catalog procedures against OUR graph: db.labels()
            # yields the distinct node labels present, one row each;
            # db.relationshipTypes() the distinct edge types;
            # db.propertyKeys() the distinct materialized property keys
            # (derived from the labels present — the codegen-rendered
            # model). Yielded names are unreferencable (the validator's
            # Undefined-variable refusal, inherited), so like subqueries
            # they contribute exactly their CARDINALITY — on an empty
            # graph each yields zero rows and eliminates every binding,
            # which is Neo4j's answer too.
            expected = _CATALOG_YIELDS[cc.procedure]
            if not cc.yield_clause:
                raise UnsupportedCypherFeature(
                    f"CALL {cc.procedure}() without YIELD (Neo4j: a "
                    "procedure call inside a query must use YIELD)"
                )
            if cc.yield_clause != [expected]:
                raise UnsupportedCypherFeature(
                    f"YIELD {', '.join(cc.yield_clause)}: "
                    f"{cc.procedure} yields exactly '{expected}'"
                )
            if expected in named:
                raise UnsupportedCypherFeature(
                    f"YIELD {expected} shadows a bound variable "
                    "(Neo4j compile error)"
                )
            labels = nodes_df.select(_field("node_id", 1).alias("label")).dropDuplicates()
            if cc.procedure == "db.labels":
                pf = labels
            elif cc.procedure == "db.relationshipTypes":
                pf = edges.select(F.col("pred").alias("rel_type")).dropDuplicates()
            else:  # db.propertyKeys: the keys the labels present render
                pf = labels.select(
                    F.explode(
                        per_label(F.col("label"), lambda keys: F.array(*map(F.lit, keys)))
                    ).alias("key")
                ).dropDuplicates()
            acc = acc.crossJoin(
                pf.select(
                    *[
                        F.col(c).alias(f"__call{depth}_{k}_{i}")
                        for i, c in enumerate(pf.columns)
                    ]
                )
            )
            continue
        sub_errors = validate_query_elements(
            extract_query_elements(cc.subquery), schema
        )
        if sub_errors:
            raise CypherExecutionRefused(
                [f"in CALL subquery: {e}" for e in sub_errors]
            )
        sf = _compile_query(
            spark, cc.subquery, nodes_df, edges, schema, max_total_hops,
            depth=depth + 1,
        )
        # outputs are unreferencable outside (the validator refuses
        # them) — rename to internal names so only multiplicity remains
        sf = sf.select(
            *[
                F.col(c).alias(f"__call{depth}_{k}_{i}")
                for i, c in enumerate(sf.columns)
            ]
        )
        acc = acc.crossJoin(sf)

    out_frame = acc.drop(*[c for c in acc.columns if c.startswith("__")])

    # WHERE conditions referencing a variable bound ONLY by OPTIONAL
    # clauses are refused: the reference AST stores WHERE clauses in a
    # parallel vector (ast.rs:3-12), so whether the predicate was
    # written against the required MATCH (post-null-extension filter)
    # or against the OPTIONAL MATCH (pre-null-extension, inside the
    # join) is unrecoverable — the two readings return different rows.
    has_optional = any(mc.is_optional for mc in q.match_clauses)
    if has_optional:
        for wc in q.where_clauses:
            for cond in wc.conditions:
                opt_only = _condition_vars(cond) - req_vars
                if opt_only:
                    raise UnsupportedCypherFeature(
                        "WHERE on OPTIONAL MATCH variable(s) "
                        f"{sorted(opt_only)}: clause attachment is lost "
                        "by the reference AST (ast.rs:3-12), so the "
                        "predicate's scope is ambiguous"
                    )
    # ------------------------------------------------------------------
    # Pipeline stage scope: variable -> kind ('node' | 'rel' | 'long' |
    # 'scalar'). WHERE clauses apply at the EARLIEST position where all
    # their variables are in scope — sound because _apply_with refuses
    # shadowing aliases (every name has one introduction point and the
    # same value wherever it is in scope), filters on grouping keys
    # commute with the groupBy, and projections keep kept columns
    # unchanged. For every query Neo4j itself compiles, that earliest
    # position IS the written position's semantics; the HAVING-style
    # `WITH x, count(y) AS n WHERE n > 1` lands after the aggregation
    # because `n` exists nowhere earlier.
    # One asymmetry with the refuse-never-guess rule: the flattened AST
    # cannot tell an ambiguous WHERE surface from its legal reading (text
    # written as `WITH a AS b WHERE a.x = 1`, a Neo4j compile error, looks
    # like the MATCH-level filter), so such a query executes its one
    # compilable reading instead of being refused.
    # ------------------------------------------------------------------
    kinds: dict = {}
    for v in out_frame.columns:
        if v in long_vars:
            kinds[v] = "long"
        elif v in nonnode_vars:
            kinds[v] = "rel"
        else:
            kinds[v] = "node"

    pending = list(q.where_clauses)

    def apply_eligible(df: DataFrame) -> DataFrame:
        nonlocal pending
        scope = set(kinds)
        lv = {v for v, k in kinds.items() if k == "long"}
        still = []
        for wc in pending:
            vs = set()
            for cond in wc.conditions:
                vs |= _condition_vars(cond)
            if vs <= scope:
                for cond in wc.conditions:
                    # the kinds DICT is the bound-vars scope: membership
                    # checks see the names, property access sees the kind
                    df = df.where(_condition_col(cond, kinds, lv))
            else:
                still.append(wc)
        pending = still
        return df

    out_frame = apply_eligible(out_frame)
    for wc in q.with_clauses:
        out_frame, kinds = _apply_with(out_frame, kinds, wc)
        out_frame = apply_eligible(out_frame)
    if pending:
        # a WHERE referenced a name that never enters any scope — let
        # the compiler raise its precise unbound/unsupported error
        for wc in pending:
            for cond in wc.conditions:
                _condition_col(cond, kinds, set())
        raise UnsupportedCypherFeature("WHERE with out-of-scope variables")

    def base_expr(text: str):
        """A RETURN-able value: `a` (node id / WITH-projected value),
        `a.prop` (property of a node variable), a relationship variable
        (edge identity string), or a path variable (concatenated edge
        identities). Property access on a Cypher INTEGER or a
        WITH-projected scalar is a Neo4j type error — refused."""
        text = text.strip()
        if "." in text:
            var, prop = text.split(".", 1)
            if var not in kinds:
                raise UnsupportedCypherFeature(f"RETURN of unbound: {text}")
            return _prop_access_col(var, prop, kinds), f"{var}_{prop}"
        if text not in kinds:
            raise UnsupportedCypherFeature(f"RETURN of unbound: {text}")
        return F.col(text), text

    # RETURN items: `expr [AS alias]`, expr = value or count(value|*).
    # openCypher implicit grouping: with any aggregate present, the
    # non-aggregate items become the grouping keys.
    keys, aggs = [], []  # (binding_col, out_name) / (arg_col, out_name)
    ordered_names = []  # output columns in written RETURN order
    for item in q.return_clauses[0].items:
        item = item.strip()
        alias = None
        m = re.split(r"\s+AS\s+", item, maxsplit=1)
        if len(m) == 2:
            item, alias = m[0].strip(), m[1].strip()
        cm = re.fullmatch(r"count\(\s*(.+?)\s*\)", item)
        if cm:
            inner = cm.group(1)
            if inner == "*":
                arg, default = F.lit(1), "count_star"
            else:
                arg, nm = base_expr(inner)
                default = f"count_{nm}"
            aggs.append((arg, alias or default))
            ordered_names.append(alias or default)
        elif "(" in item:
            raise UnsupportedCypherFeature(f"RETURN expression: {item}")
        else:
            col, default = base_expr(item)
            keys.append((col, alias or default))
            ordered_names.append(alias or default)

    # aggregation runs after the alternatives union, never per branch
    # (WHERE is already applied at its pipeline position)
    return _project(out_frame, keys, aggs, ordered_names)
