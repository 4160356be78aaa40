"""End-to-end pipeline orchestration with per-stage checkpoint + resume.

Stage graph (north_star):

  documents ─▶ triples_raw ─▶ mentions ─▶ link_stats (salted agg)
                     │                         │
                     │                         ▼
                     │                    entity_map (minhash LSH + CC)
                     ▼                         │
                 triples  ◀── broadcast join ──┘
                     │
                     ▼
              merge_batches ─▶ verdicts (vectorized cypher-guard)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..spark.validate_udf import validate_dataframe
from .canonicalize import build_entity_map, canonicalize_triples
from .codegen import build_merge_batches
from .lineage import CheckpointManager
from .mentions import extract_triples_raw, link_scores, mentions_from_triples
from .synth import pipeline_db_schema


def run_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    checkpoint_dir: str | None = None,
    resume: bool = True,
    salt_buckets: int = 16,
    statements_per_batch: int = 50,
    db_schema=None,
) -> dict:
    """Returns {stage_name: DataFrame} + 'lineage' rows + 'resumed_stages'."""
    # checked before any stage runs: 0 would otherwise fail only after
    # four stage tables are written, and a negative batch size would
    # silently build one giant batch
    for arg, value in (
        ("salt_buckets", salt_buckets),
        ("statements_per_batch", statements_per_batch),
    ):
        if value < 1:
            raise ValueError(f"{arg} must be >= 1, got {value}")
    if db_schema is None:
        db_schema = pipeline_db_schema()
    cm = CheckpointManager(spark, checkpoint_dir, resume=resume)

    # documents is the (Iceberg/parquet) input table: lineage only, never
    # copied. mentions is a narrow projection of triples_raw: recomputing it
    # is cheaper than a second multi-million-row checkpoint.
    docs = cm.stage("documents", lambda: documents, ["doc_id"], materialize=False)
    triples_raw = cm.stage(
        "triples_raw",
        lambda: extract_triples_raw(docs),
        ["doc_id", "span_idx", "subj", "pred", "obj"],
    )
    mentions = cm.stage(
        "mentions",
        lambda: mentions_from_triples(triples_raw),
        ["mention_id"],
        materialize=False,
    )
    link_stats = cm.stage(
        "link_stats",
        lambda: link_scores(mentions, salt_buckets=salt_buckets),
        ["surface", "label"],
    )
    entity_map = cm.stage(
        "entity_map",
        # surface count rides the link_stats write Observation (zero extra
        # jobs) and gates the driver-side small-vocabulary fast path
        lambda: build_entity_map(
            spark, link_stats, n_surfaces_hint=cm.row_count("link_stats")
        ),
        ["label", "surface"],
    )
    triples = cm.stage(
        "triples",
        lambda: canonicalize_triples(triples_raw, entity_map),
        ["doc_id", "subj", "pred", "obj"],
    )
    def _merge_batches():
        # bucket-count hint from counts the CheckpointManager already knows
        # (observed on the stage write itself — zero extra jobs). Fallback
        # count() only on the un-checkpointed path, where the stages are
        # lazy localCheckpoints: the first count materializes them once and
        # every later consumer reuses the checkpoint (no DAG re-execution).
        em_n = cm.row_count("entity_map")
        tr_n = cm.row_count("triples")
        hint = (em_n if em_n is not None else entity_map.count()) + (
            tr_n if tr_n is not None else triples.count()
        )
        return build_merge_batches(
            entity_map, triples, statements_per_batch, n_statements_hint=hint
        )

    merge_batches = cm.stage("merge_batches", _merge_batches, ["batch_id"])
    verdicts = cm.stage(
        "verdicts",
        lambda: validate_dataframe(spark, merge_batches, db_schema).select(
            "batch_id", "is_valid", "syntax_ok", "errors"
        ),
        ["batch_id"],
    )
    cm.write_lineage()
    return {
        "documents": docs,
        "triples_raw": triples_raw,
        "mentions": mentions,
        "link_stats": link_stats,
        "entity_map": entity_map,
        "triples": triples,
        "merge_batches": merge_batches,
        "verdicts": verdicts,
        "lineage": cm.lineage,
        "resumed_stages": cm.resumed_stages,
    }
