"""Graph materialization: canonical triples → Cypher MERGE batches.

The emitted grammar is deliberately restricted to what the guard parses
(SURVEY.md §2.3 / quirk Q10): newline-joined statements
`MERGE (v:L {k: '…'[, k: '…']})`, optionally followed by
`-[:T]->(v:L {…})` — one label per node, string-literal property values,
no `ON CREATE`/`ON MATCH SET`. `guard/parser/template.py` recognizes
exactly this rendered grammar in front of the full parser, so a change to
the rendering here must keep it (or the guard falls back to the slow path;
tests/test_pipeline.py checks every emitted batch is recognized).
String values are sanitized by dropping quote characters — the reference
grammar has no escapes, a quote char terminates the literal.

Statement rendering is pure `format_string` (JVM, codegen'd); batching is
a hash-bucket groupBy (JVM): each statement lands in a deterministic
bucket, so batch composition is reproducible at any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _clean(col):
    # the guard's string literals have no escape sequences: strip quote
    # chars (they would terminate the literal) and newlines/CRs (the
    # batch format is newline-joined, so an embedded newline would split
    # a statement mid-literal on the apply side)
    return F.translate(col, "'\"\n\r", "")


def _person_props(col):
    # try_element_at: a single-token name has no last-name element and
    # must render lastName: '' instead of raising under ANSI mode
    first = F.element_at(F.split(col, " ", 2), 1)
    last = F.try_element_at(F.split(col, " ", 2), F.lit(2))
    return F.format_string(
        "{firstName: '%s', lastName: '%s'}", _clean(first), _clean(F.coalesce(last, F.lit("")))
    )


def _entity_props(label_col, surface_col):
    return (
        F.when(label_col == "Person", _person_props(surface_col))
        .when(label_col == "Company", F.format_string("{companyName: '%s'}", _clean(surface_col)))
        .otherwise(F.format_string("{city: '%s'}", _clean(surface_col)))
    )


def node_statements(entity_map: DataFrame) -> DataFrame:
    """One MERGE per canonical entity: (label, canonical) → cypher."""
    ents = entity_map.select("label", "canonical").dropDuplicates()
    var = F.lower(F.substring("label", 1, 1))
    stmt = F.format_string(
        "MERGE (%s:%s %s)", var, F.col("label"), _entity_props(F.col("label"), F.col("canonical"))
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
        _entity_props(F.col("subj_label"), F.col("subj")),
        F.col("pred"),
        F.col("obj_label"),
        _entity_props(F.col("obj_label"), F.col("obj")),
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
