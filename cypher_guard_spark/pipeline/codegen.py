"""Graph materialization: canonical triples → Cypher MERGE batches.

The emitted grammar is deliberately restricted to what the guard parses
(SURVEY.md §2.3 / quirk Q10): newline-joined statements
`MERGE (v:L {k: '…'[, k: '…']})`, optionally followed by
`-[:T]->(v:L {…})` — one label per node, string-literal property values,
no `ON CREATE`/`ON MATCH SET`. `guard/parser/template.py` recognizes
exactly this rendered grammar in front of the full parser, so a change to
the rendering here must keep it (or the guard falls back to the slow path;
tests/test_pipeline.py checks every emitted batch is recognized).

This module owns the rendered property model the whole write→read loop
reads: which keys each label renders (`ENTITY_PROPS`, any other label
renders `city`), the values they take from the canonical surface (Person
splits it once on its first space), the quote/newline strip applied to
every value, and the node-id layout `label␟firstName␟lastName␟companyName␟city`
(`NODE_SEP`, `NODE_FIELDS`). `executor` builds and reads node ids with it,
`apply_merge` checks parsed keys and rebuilds ids with it, `schema_infer`
declares its keys, and `streaming/kg_stream` renders upserts with
`entity_props`.

Statement rendering is pure `format_string` (JVM, codegen'd); batching is
a hash-bucket groupBy (JVM): each statement lands in a deterministic
bucket, so batch composition is reproducible at any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# label → the property keys its MERGE map renders; every other label
# renders _OTHER_PROPS
ENTITY_PROPS = {"Person": ("firstName", "lastName"), "Company": ("companyName",)}
_OTHER_PROPS = ("city",)
# a node id is its label and then one field per rendered key, '' where
# the label does not render it
NODE_FIELDS = tuple(k for keys in (*ENTITY_PROPS.values(), _OTHER_PROPS) for k in keys)
NODE_SEP = "\x1f"
# the guard's string literals have no escape sequences: quote chars would
# terminate the literal, and newlines/CRs would split a statement of the
# newline-joined batch mid-literal on the apply side
_STRIP = "'\"\n\r"
_STRIP_TABLE = str.maketrans("", "", _STRIP)


def rendered_keys(label: str) -> tuple:
    """The property keys a node with this label renders."""
    return ENTITY_PROPS.get(label, _OTHER_PROPS)


def _clean(col):
    return F.translate(col, _STRIP, "")


def _value(key: str, surface_col):
    """The uncleaned value of `key` rendered from the canonical surface.
    try_element_at: a single-token name has no last-name element and must
    render lastName: '' instead of raising under ANSI mode."""
    if key == "firstName":
        return F.element_at(F.split(surface_col, " ", 2), 1)
    if key == "lastName":
        last = F.try_element_at(F.split(surface_col, " ", 2), F.lit(2))
        return F.coalesce(last, F.lit(""))
    return surface_col


def per_label(label_col, of_keys):
    """Column: ``of_keys(rendered keys)`` for the label in `label_col`, as
    one CASE over `ENTITY_PROPS` whose ELSE is the other-label keys."""
    cases = [(label_col == label, of_keys(keys)) for label, keys in ENTITY_PROPS.items()]
    expr = F.when(*cases[0])
    for cond, value in cases[1:]:
        expr = expr.when(cond, value)
    return expr.otherwise(of_keys(_OTHER_PROPS))


def renders(label_col, key: str):
    """Column: does a node with this label render `key` (a NODE_FIELDS key)?"""
    if key in _OTHER_PROPS:
        return ~label_col.isin(*ENTITY_PROPS)
    return label_col.isin(*[label for label, keys in ENTITY_PROPS.items() if key in keys])


def entity_props(label_col, surface_col):
    """Column: the `{k: '…'[, k: '…']}` property map a node renders."""
    return per_label(
        label_col,
        lambda keys: F.format_string(
            "{" + ", ".join(f"{k}: '%s'" for k in keys) + "}",
            *[_clean(_value(k, surface_col)) for k in keys],
        ),
    )


def node_id(label_col, surface_col):
    """Column: the node's identity string — the label and the exact values
    its MERGE map renders. concat_ws keeps empty strings, so the layout is
    stable under split."""
    return F.concat_ws(
        NODE_SEP,
        label_col,
        *[
            F.when(renders(label_col, k), _clean(_value(k, surface_col))).otherwise(
                F.lit("")
            )
            for k in NODE_FIELDS
        ],
    )


def node_id_text(label: str, values: dict) -> str:
    """`node_id` of a parsed property map (rendered key → value text)."""
    return NODE_SEP.join(
        [label, *(values.get(k, "").translate(_STRIP_TABLE) for k in NODE_FIELDS)]
    )


def node_statements(entity_map: DataFrame) -> DataFrame:
    """One MERGE per canonical entity: (label, canonical) → cypher."""
    ents = entity_map.select("label", "canonical").dropDuplicates()
    var = F.lower(F.substring("label", 1, 1))
    stmt = F.format_string(
        "MERGE (%s:%s %s)", var, F.col("label"), entity_props(F.col("label"), F.col("canonical"))
    )
    return ents.select(stmt.alias("statement"))


def relationship_statements(triples: DataFrame, keep_cols: tuple = ()) -> DataFrame:
    """One MERGE path per distinct canonical triple. ``keep_cols`` rides
    canonical-triple columns (e.g. ``pred``) alongside the rendered
    statement — they're functions of the dedup key, so the distinct
    cardinality is unchanged."""
    t = triples.select("subj", "pred", "obj", "subj_label", "obj_label").dropDuplicates()
    stmt = F.format_string(
        "MERGE (a:%s %s)-[:%s]->(b:%s %s)",
        F.col("subj_label"),
        entity_props(F.col("subj_label"), F.col("subj")),
        F.col("pred"),
        F.col("obj_label"),
        entity_props(F.col("obj_label"), F.col("obj")),
    )
    return t.select(*keep_cols, stmt.alias("statement"))


def build_merge_batches(
    entity_map: DataFrame,
    triples: DataFrame,
    statements_per_batch: int = 50,
    n_statements_hint: int | None = None,
) -> DataFrame:
    """(batch_id, cypher) — multi-MERGE batches (valid clause order:
    AfterWrite → AfterWrite in the guard's FSM).

    Batching is pure JVM: each statement hashes to one of
    ceil(n/statements_per_batch) buckets and a bucket becomes one batch via
    collect_list + concat. Batch MEMBERSHIP is therefore deterministic
    (hash of the statement text — independent of partitioning and
    parallelism), batch sizes are ~Poisson(statements_per_batch). One
    shuffle on the bucket key; no Python anywhere (an earlier mapInPandas
    chunker cost one python-worker fork per task — this build never reuses
    mapInPandas workers)."""
    stmts = node_statements(entity_map).unionByName(relationship_statements(triples))
    # bucket count from a cheap upper bound when the caller can supply one
    # (e.g. parquet metadata counts of the checkpointed inputs): an exact
    # stmts.count() would compute the statement pipeline TWICE. Overcounting
    # only makes batches smaller than the target, never larger.
    n = n_statements_hint if n_statements_hint is not None else stmts.count()
    n_buckets = max(1, -(-n // statements_per_batch))
    return (
        stmts.withColumn(
            "bucket", F.pmod(F.xxhash64("statement"), F.lit(n_buckets))
        )
        .groupBy("bucket")
        .agg(F.concat_ws("\n", F.sort_array(F.collect_list("statement"))).alias("cypher"))
        .select(F.format_string("b-%d", F.col("bucket")).alias("batch_id"), "cypher")
    )
