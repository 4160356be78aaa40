"""Schema inference: canonical triples → graph schema → guard validation.

Closes the KG-construction loop the north star describes from the OTHER
side: instead of validating MERGE batches against a hand-written DbSchema
(`synth.pipeline_db_schema`, FIXTURES.md F2), the pipeline can INFER the
relationship schema from the triples it just extracted — (subj_label,
pred, obj_label) topology plus per-predicate cardinality classes — build
a `guard.DbSchema` from it, and guard-validate the generated Cypher
against its own inferred schema. On a real crawl this is the operator
that discovers "what does this corpus' graph look like" before anyone
writes a schema by hand, and the roundtrip is the self-consistency check
that extraction, inference, codegen, and the vectorized validator agree.

Reference parity note: the reference (neo4j-field/cypher-guard) only
ever CONSUMES a DbSchema (src/lib.rs validate_cypher_with_schema); schema
inference is data-plane functionality the reference has no equivalent
for — the inferred object feeds the same DbSchema surface
(guard/schema.py) its JSON fixtures do.

Scale posture (10^12 triples): three partial-aggregating shuffles over
id/label columns only (map-side combine on every one — counts and
countDistinct over (pred, labels[, endpoint]) keys), then joins on the
SCHEMA GRID (distinct (pred, subj_label, obj_label) combos — tens of
rows for any real ontology), which AQE broadcasts. Nothing corpus-sized
crosses the driver; `inferred_db_schema` collects only the grid.
Cardinality is decided by max fan-out/fan-in over DISTINCT endpoint
pairs, so duplicate observations of the same triple don't inflate a 1:1
predicate into M:N.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..guard import DbSchema
from ..spark import validate_dataframe
from .codegen import relationship_statements, rendered_keys


def infer_relationship_schema(triples: DataFrame) -> DataFrame:
    """Canonical triples (subj, pred, obj, subj_label, obj_label) →
    one row per observed (pred, subj_label, obj_label) with:

    - ``n_triples``   raw observation count (duplicates included — the
      evidence weight for this edge type),
    - ``n_subj`` / ``n_obj``   distinct canonical endpoints,
    - ``max_out``   max distinct objects any one subject links to,
    - ``max_in``    max distinct subjects any one object is linked from,
    - ``cardinality``   ``'1:1' | '1:N' | 'N:1' | 'N:M'`` — functional-
      dependency classes mined from the distinct edge set (``max_out==1``
      means subj→obj is functional, i.e. many-subjects-to-one-object
      ⇒ N:1; symmetrically for ``max_in``).

    Plan: groupBy (key) count/countDistinct for the base stats, two
    two-level aggregations for the fan maxima, grid-sized joins.
    """
    key = ["pred", "subj_label", "obj_label"]
    t = triples.select("subj", "pred", "obj", "subj_label", "obj_label")
    base = t.groupBy(*key).agg(
        F.count("*").alias("n_triples"),
        F.countDistinct("subj").alias("n_subj"),
        F.countDistinct("obj").alias("n_obj"),
    )
    # fan-out: distinct objs per (key, subj), then max over subjects
    out_max = (
        t.groupBy(*key, "subj")
        .agg(F.countDistinct("obj").alias("fan"))
        .groupBy(*key)
        .agg(F.max("fan").alias("max_out"))
    )
    in_max = (
        t.groupBy(*key, "obj")
        .agg(F.countDistinct("subj").alias("fan"))
        .groupBy(*key)
        .agg(F.max("fan").alias("max_in"))
    )
    card = (
        F.when((F.col("max_out") == 1) & (F.col("max_in") == 1), F.lit("1:1"))
        .when(F.col("max_out") == 1, F.lit("N:1"))
        .when(F.col("max_in") == 1, F.lit("1:N"))
        .otherwise(F.lit("N:M"))
    )
    return (
        base.join(out_max, key)
        .join(in_max, key)
        .withColumn("cardinality", card)
    )


def inferred_db_schema(inferred: DataFrame):
    """Inferred relationship rows → a `guard.DbSchema` ready for the
    vectorized validator. Collects only the schema grid (one row per
    (pred, subj_label, obj_label) — ontology-sized, never corpus-sized).

    Every observed label declares the keys the codegen renders for it
    (`codegen.rendered_keys`), all STRING — the types codegen writes — so
    the inferred DbSchema agrees with the emitted statements by
    construction. Relationship property lists are empty: the MERGE
    statements codegen emits carry no rel props, and the guard treats an
    absent rel_props entry as "no properties declared".
    """
    grid = [
        (r["subj_label"], r["pred"], r["obj_label"])
        for r in inferred.select("subj_label", "pred", "obj_label").collect()
    ]
    labels = sorted({s for s, _p, _o in grid} | {o for _s, _p, o in grid})
    return DbSchema.from_dict(
        {
            "node_props": {
                lab: [{"name": p, "neo4j_type": "STRING"} for p in rendered_keys(lab)]
                for lab in labels
            },
            "rel_props": {},
            "relationships": [
                {"start": s, "end": e, "rel_type": p}
                for s, p, e in sorted(grid, key=lambda g: (g[1], g[0], g[2]))
            ],
            "metadata": {"constraint": [], "index": []},
        }
    )


def schema_roundtrip(spark, triples: DataFrame) -> DataFrame:
    """Self-consistency gate: infer the schema FROM the triples, render
    one MERGE path per distinct canonical triple (codegen grammar), and
    guard-validate every statement against the INFERRED schema —
    (pred, n_stmts, n_valid) per predicate. A correct pipeline returns
    n_valid == n_stmts on every row; any disagreement between extraction
    labels, inference, codegen's rendering, and the parser/validator
    shows up as a deficit.

    Scale: the validate pass is the corpus-sized work (Arrow-batched
    pandas UDF, one pass over distinct statements); inference adds the
    three grid aggregations above; the DbSchema broadcast is KB-sized.
    """
    # the triple stream feeds four plan references (three inference
    # aggregations + the statement render) and usually sits on the whole
    # extraction→canonicalize DAG — truncate lineage once up front
    triples = triples.select(
        "subj", "pred", "obj", "subj_label", "obj_label"
    ).localCheckpoint(eager=False)
    schema = inferred_db_schema(infer_relationship_schema(triples))
    # pred rides alongside the rendered statement (a function of the
    # dedup key) so the verdicts aggregate per predicate
    stmts = relationship_statements(triples, keep_cols=("pred",))
    v = validate_dataframe(spark, stmts, schema, cypher_col="statement")
    return v.groupBy("pred").agg(
        F.count("*").alias("n_stmts"),
        F.sum(F.col("is_valid").cast("int")).alias("n_valid"),
    )


def triple_conflicts(
    triples: DataFrame,
    functional_preds: tuple | list = (),
    inverse_functional_preds: tuple | list = (),
) -> DataFrame:
    """(entity, pred, direction, n_values, n_obs, min_value, max_value) —
    contradiction detection against DECLARED cardinality constraints, the
    KG quality gate that runs between fusion and materialization: a
    subject-functional predicate ("a person has ONE employer") with two
    distinct objects for the same subject is a conflict the pipeline must
    surface, not silently MERGE. `functional_preds` constrain subj→obj
    (each subject ≤ 1 object), `inverse_functional_preds` the obj→subj
    direction; the same pred may appear in both (a 1:1 constraint).

    Constraints must come from a declared or clean-snapshot schema (e.g.
    `infer_relationship_schema` on a trusted corpus, `cardinality` in
    ('1:1','N:1') ⇒ functional) — inference over the SAME dirty data
    would classify a contradicted pred as N:M and hide its conflicts.

    Output is aggregate-only — n_values/n_obs counts plus the min/max
    conflicting value as bounded exemplars, never a collected value list,
    so a spam entity with 10^6 claimed employers costs one partial-agg
    row, not an executor-hostile array. Plan: pred filter pushed to the
    scan, one (entity, pred, direction)-keyed partial-agg shuffle
    (countDistinct is itself two-phase), conflicts filtered post-agg."""
    legs = []
    if functional_preds:
        legs.append(
            triples.where(F.col("pred").isin(list(functional_preds))).select(
                F.col("subj").alias("entity"),
                "pred",
                F.lit("out").alias("direction"),
                F.col("obj").alias("value"),
            )
        )
    if inverse_functional_preds:
        legs.append(
            triples.where(
                F.col("pred").isin(list(inverse_functional_preds))
            ).select(
                F.col("obj").alias("entity"),
                "pred",
                F.lit("in").alias("direction"),
                F.col("subj").alias("value"),
            )
        )
    if not legs:
        raise ValueError("declare at least one functional predicate")
    u = legs[0]
    for leg in legs[1:]:
        u = u.unionByName(leg)
    return (
        u.groupBy("entity", "pred", "direction")
        .agg(
            F.countDistinct("value").alias("n_values"),
            F.count("*").alias("n_obs"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .where(F.col("n_values") > 1)
    )


def metapath_profile(triples: DataFrame) -> DataFrame:
    """(p1, p2, n_paths, n_mid) — how many length-2 metapath instances
    ``· -[p1]-> mid -[p2]-> ·`` the distinct fact set contains, per
    ordered predicate pair, plus the number of distinct midpoints.

    The schema-level path profile of a heterogeneous KG: which predicate
    compositions actually occur (WORKS_FOR∘LOCATED_IN but never
    LOCATED_IN∘KNOWS), with what mass — the signal that picks metapaths
    for heterogeneous-graph embeddings (metapath2vec) and candidate
    property-chain rules for `pipeline/reasoning.saturate`.

    NEVER enumerates paths: n_paths(p1,p2) = Σ_mid in_deg_p1(mid) ·
    out_deg_p2(mid), so the plan is two per-(vertex,pred) partial-agg
    degree tables joined on the midpoint — the wedge-counting trick
    (`graph_algo._enumerate_triangles` orientation note) applied at the
    schema level.  A hub midpoint contributes one ROW carrying a large
    product instead of deg² join rows; rows entering the final agg are
    bounded by |vertices|·|preds|², not path count.  Exact integers
    throughout (int64 headroom: deg_in·deg_out per vertex summed — at
    10^9-degree hubs switch the product to double, same trade as
    `modularity`).
    """
    facts = triples.select("subj", "pred", "obj").distinct()
    fan_in = facts.groupBy(
        F.col("obj").alias("mid"), F.col("pred").alias("p1")
    ).agg(F.count("*").alias("fan_in"))
    fan_out = facts.groupBy(
        F.col("subj").alias("mid"), F.col("pred").alias("p2")
    ).agg(F.count("*").alias("fan_out"))
    return (
        fan_in.join(fan_out, "mid")
        .groupBy("p1", "p2")
        .agg(
            F.sum(F.col("fan_in") * F.col("fan_out"))
            .cast("long")
            .alias("n_paths"),
            F.countDistinct("mid").cast("long").alias("n_mid"),
        )
    )
