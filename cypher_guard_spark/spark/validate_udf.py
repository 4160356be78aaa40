"""Vectorized batch Cypher validation — the reimplemented cypher-guard as a
Spark operator.

The reference validates one query string per FFI call
(python_bindings/src/lib.rs:1536-1633); here queries arrive as an Arrow
string column, the DbSchema rides a broadcast variable (deserialized once
per executor, schema.rs "parsed once and reused" parity at cluster scale),
and one pandas UDF emits the full verdict struct:

  struct<is_valid boolean, syntax_ok boolean, is_write boolean,
         errors array<struct<code,message,line,column>>>

Scale notes:
- Arrow transport, no per-row Python↔JVM crossing (input_hint contract).
- The UDF is stateless w.r.t. the DataFrame → embarrassingly parallel,
  no shuffle introduced; plan stays a single ArrowEvalPython stage over
  the scan.
- Per-partition structured error aggregation (north_star) is a groupBy on
  spark_partition_id() over the exploded error codes.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..guard import api
from ..guard.schema import DbSchema

ERROR_STRUCT = StructType(
    [
        StructField("code", StringType()),
        StructField("message", StringType()),
        StructField("line", IntegerType()),
        StructField("column", IntegerType()),
    ]
)

VERDICT_SCHEMA = StructType(
    [
        StructField("is_valid", BooleanType()),
        StructField("syntax_ok", BooleanType()),
        StructField("is_write", BooleanType()),
        StructField("errors", ArrayType(ERROR_STRUCT)),
    ]
)


def _verdict_row(query: str, schema: DbSchema) -> tuple:
    if query is None:
        return (False, False, False, [("NullQuery", "query is null", 0, 0)])
    ast, perr, verrors = api.analyze(query, schema)
    if perr is not None:
        return (False, False, False, [(perr.code, perr.message, perr.line, perr.column)])
    errors = [(e.code, e.message, 0, 0) for e in verrors]
    return (not errors, True, api._is_write_ast(ast, query), errors)


def _make_batch_fn(bc_schema):
    def batch(series_iter: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        # a task unpickles `bc_schema` as the worker's `_broadcastRegistry`
        # entry, which loads `.value` once per worker process and keeps it
        schema = bc_schema.value
        for series in series_iter:
            rows = [_verdict_row(q, schema) for q in series]
            yield pd.DataFrame(
                rows, columns=["is_valid", "syntax_ok", "is_write", "errors"]
            )

    return batch


def validation_udf(spark: SparkSession, schema: DbSchema):
    """Returns a pandas UDF computing the verdict struct for a cypher column."""
    bc = spark.sparkContext.broadcast(schema)
    fn = _make_batch_fn(bc)
    return F.pandas_udf(fn, VERDICT_SCHEMA)


def validate_dataframe(
    spark: SparkSession,
    df: DataFrame,
    schema: DbSchema,
    cypher_col: str = "cypher",
) -> DataFrame:
    """df + verdict columns (is_valid, syntax_ok, is_write, errors)."""
    udf = validation_udf(spark, schema)
    return df.withColumn("verdict", udf(F.col(cypher_col))).select(
        "*",
        F.col("verdict.is_valid").alias("is_valid"),
        F.col("verdict.syntax_ok").alias("syntax_ok"),
        F.col("verdict.is_write").alias("is_write"),
        F.col("verdict.errors").alias("errors"),
    ).drop("verdict")


def partition_error_summary(validated: DataFrame) -> DataFrame:
    """Structured parse/validation errors per partition (north_star contract).

    (partition_id, error_code) → count; map-side combine keeps the shuffle
    tiny (one row per partition × distinct code).
    """
    return (
        validated.withColumn("partition_id", F.spark_partition_id())
        .select("partition_id", F.explode_outer("errors").alias("error"))
        .groupBy("partition_id", F.col("error.code").alias("error_code"))
        .agg(F.count("*").alias("n"))
    )
