"""Streaming benchmark decontamination: flag benchmark-contaminated
documents as they arrive and keep a watermarked per-window contamination
rate per source.

The batch operator (ops/decontam.py) is a broadcast join against the
benchmark's distinct n-grams — broadcast joins are stateless, so the
per-document flag lifts onto ``readStream`` unchanged: scan → explode
distinct per-doc n-grams → broadcast-hash-join → per-doc aggregation.
Structured Streaming allows that one aggregation (the per-doc n-gram
count) only as the stream's single stateful agg, so the per-doc stage is
rewritten SHUFFLE-FREE here: the flag and the overlap count are computed
per row with array expressions (arrays_overlap / array_intersect against
the broadcast benchmark array) — no explode, no state, pipelines at
source parallelism. The windowed rate aggregation is then the stream's
one watermark-bounded stateful operator: one state row per
(window, source).

The in-plan benchmark array is the practical bound: every n-gram becomes
one `F.lit` node in a single array expression, and driver-side expression
trees / codegen stop being reasonable around ~10^4-10^5 literals — well
before the ~10^6 a broadcast VARIABLE could hold. For any real eval suite
beyond that, skip this path and decontaminate in micro-batch
`foreachBatch` with the batch operator's broadcast JOIN
(ops/decontam.contamination_report), which has no literal-tree limit and
identical per-doc counts. The benchmark set
is computed ONCE at stream start from the static benchmark table — the
standard semantics: a new benchmark release is a new stream run.
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

from ..ops.decontam import benchmark_ngrams
from ..ops.text import word_shingles

DOC_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("source", StringType()),
        StructField("event_time", TimestampType()),
    ]
)


def read_doc_stream(spark: SparkSession, source_dir: str) -> DataFrame:
    """Tail a directory of parquet document files as a stream."""
    return (
        spark.readStream.schema(DOC_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )


def stream_contamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """stream + (n_ngrams, n_contaminated, contaminated) columns —
    row-local against the collected benchmark n-gram set (stateless,
    shuffle-free; see module docstring). Counts match the batch
    `contamination_report` exactly: both sides compare DISTINCT doc
    n-grams against the distinct benchmark set."""
    bench_rows = [r["ngram"] for r in benchmark_ngrams(benchmark, n, text_col).collect()]
    bench_arr = F.array(*[F.lit(g) for g in sorted(bench_rows)])
    grams = F.array_distinct(word_shingles(text_col, n))
    n_cont = F.size(F.array_intersect(grams, bench_arr))
    return docs.select(
        "*",
        F.size(grams).alias("n_ngrams"),
        n_cont.cast("long").alias("n_contaminated"),
        (n_cont > 0).cast("int").alias("contaminated"),
    )


def stream_contamination_rates(
    flagged: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
    time_col: str = "event_time",
) -> DataFrame:
    """(window, source, n_docs, n_contaminated_docs, rate) — watermarked
    per-window contamination rate per provenance source; one bounded
    state row per (window, source)."""
    return (
        flagged.withWatermark(time_col, watermark)
        .groupBy(
            F.window(F.col(time_col), window).alias("window"),
            "source",
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("contaminated").alias("n_contaminated_docs"),
        )
        .select(
            "window",
            "source",
            "n_docs",
            "n_contaminated_docs",
            F.round(F.col("n_contaminated_docs") / F.col("n_docs"), 6).alias("rate"),
        )
    )
