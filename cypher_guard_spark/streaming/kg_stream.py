"""End-to-end streaming KG slice (VERDICT r2 #8): mention stream →
stateful running link stats → per-micro-batch Cypher MERGE upserts →
vectorized guard validation → parquet append.

One streaming query composes the two streaming operators this repo already
proves separately (`link_state.stream_link_stats`,
`validate_stream`'s batch-identical validator) into the production shape:

    mentions (directory stream)
      └─ applyInPandasWithState        running (n_mentions, score_sum)
           └─ foreachBatch             the UPDATED entities of each epoch
                ├─ MERGE upsert codegen (same restricted grammar as
                │    pipeline/codegen.py — single label, string/number
                │    literals, MERGE + ON CREATE/ON MATCH SET; the SET
                │    property is deliberately outside the node schema:
                │    the reference's extractor walks match/merge/create/
                │    where/return/with/unwind but NOT set clauses
                │    (validation.rs:195-247), so SET targets are not
                │    schema-checked — reproduced behavior)
                ├─ guard validation (broadcast DbSchema pandas UDF)
                └─ parquet append keyed by epoch

Delivery semantics: the stateful aggregation is exactly-once (state +
source progress live in the stream checkpoint; a restart resumes from the
last committed epoch). The parquet sink in foreachBatch is at-least-once
on CRASH retry — the `epoch` column is the idempotency key a consumer
dedups on (standard foreachBatch contract). Graceful stop/restart, the
tested path, appends each epoch exactly once.

Scale posture: state is O(distinct entities); each epoch's foreachBatch
body only touches the entities updated in that epoch (update output mode),
so the MERGE/validate work per trigger is proportional to the delta, not
the corpus. Validation is stateless/shuffle-free; codegen's one shuffle is
the fixed-bucket batch groupBy over delta-sized input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..pipeline.codegen import entity_props
from ..pipeline.synth import pipeline_db_schema
from ..spark.validate_udf import validation_udf
from .link_state import stream_link_stats

MENTION_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("span_idx", IntegerType()),
        StructField("mention_id", LongType()),
        StructField("surface", StringType()),
        StructField("label", StringType()),
        StructField("score", DoubleType()),
    ]
)


def read_mention_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Tail a directory of parquet mention files as a stream."""
    return (
        spark.readStream.schema(MENTION_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(source_dir)
    )


def entity_upsert_statements(stats: DataFrame) -> DataFrame:
    """(surface, label, n_mentions) → one MERGE upsert per entity, within
    the guard's supported grammar (§2.3; quirk Q10 property maps):

        MERGE (c:Company {companyName: 'acme'})
          ON CREATE SET c.mentionCount = 7 ON MATCH SET c.mentionCount = 7

    The running count is a non-negative integer — exactly the `digit1`
    numeric literal the grammar accepts (no floats: avg_score stays in the
    stats table, never in Cypher)."""
    var = F.lower(F.substring("label", 1, 1))
    stmt = F.format_string(
        "MERGE (%s:%s %s) ON CREATE SET %s.mentionCount = %s"
        " ON MATCH SET %s.mentionCount = %s",
        var,
        F.col("label"),
        entity_props(F.col("label"), F.col("surface")),
        var,
        F.col("n_mentions").cast("string"),
        var,
        F.col("n_mentions").cast("string"),
    )
    return stats.select(stmt.alias("statement"))


def run_kg_stream(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    schema=None,
    buckets_per_epoch: int = 8,
) -> None:
    """Drain the mention stream through running stats + validated MERGE
    upserts (Trigger.AvailableNow). Restartable: same checkpoint_dir
    resumes entity state and source progress."""
    db_schema = schema if schema is not None else pipeline_db_schema()
    udf = validation_udf(spark, db_schema)

    def _emit(updated: DataFrame, epoch_id: int) -> None:
        batches = (
            entity_upsert_statements(updated)
            .withColumn(
                "bucket",
                F.pmod(F.xxhash64("statement"), F.lit(buckets_per_epoch)),
            )
            .groupBy("bucket")
            .agg(
                F.concat_ws(
                    "\n", F.sort_array(F.collect_list("statement"))
                ).alias("cypher"),
                F.count("*").alias("n_statements"),
            )
            .select(
                F.lit(int(epoch_id)).alias("epoch"),
                F.format_string("e%d-b%d", F.lit(int(epoch_id)), F.col("bucket")).alias(
                    "batch_id"
                ),
                "cypher",
                "n_statements",
            )
        )
        out = batches.withColumn("verdict", udf(F.col("cypher"))).select(
            "epoch",
            "batch_id",
            "cypher",
            "n_statements",
            F.col("verdict.is_valid").alias("is_valid"),
            F.col("verdict.syntax_ok").alias("syntax_ok"),
        )
        out.write.mode("append").parquet(output_dir)

    q = (
        stream_link_stats(read_mention_stream(spark, source_dir))
        .writeStream.outputMode("update")
        .foreachBatch(_emit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
