"""Streaming exact deduplication over a continuously-arriving document
stream — the streaming face of ops/dedup.exact (a crawl frontier re-fetches
the same page; only the first copy should enter the corpus).

Built on `dropDuplicatesWithinWatermark` keyed on the normalized-text
digest: state is ONE (digest, expiry) row per distinct document seen
inside the watermark horizon, watermark-expired, so the state store is
bounded by the arrival-rate x horizon product rather than growing with
the stream (the property that matters on an unbounded crawl). The digest
is computed BEFORE the stateful operator so the dedup shuffle carries
(digest, doc_id, event_time) only, never the text payload — the same
ids-only-shuffle rule the batch LSH path follows.

Exactly-once: the dedup state lives in the checkpoint, so a restart
neither re-emits already-passed documents nor forgets seen digests
(locked by the recovery test). Duplicates arriving AFTER the horizon
re-admit — the documented trade of bounded state; batch exact dedup
downstream is the backstop, as in any lambda-style curation stack.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..ops.text import norm_digest

DOC_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("event_time", TimestampType()),
    ]
)


def read_document_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Tail a directory of parquet document files as a stream."""
    return (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )


def stream_dedup_exact(
    docs: DataFrame, text_col: str = "text", horizon: str = "10 minutes"
) -> DataFrame:
    """(digest, doc_id, event_time) — first-seen documents only, per
    normalized-text digest, within the watermark horizon."""
    return (
        docs.select(norm_digest(text_col).alias("digest"), "doc_id", "event_time")
        .withWatermark("event_time", horizon)
        .dropDuplicatesWithinWatermark(["digest"])
    )


def run_dedup_stream(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    horizon: str = "10 minutes",
):
    """AvailableNow run: drain whatever accumulated in `source_dir`,
    append survivors to `out_dir` parquet, exactly-once via checkpoint."""
    survivors = stream_dedup_exact(
        read_document_stream(spark, source_dir), horizon=horizon
    )
    return (
        survivors.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
