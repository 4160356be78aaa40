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


def schema_udf(
    spark: SparkSession, schema: DbSchema, row_fn, out_schema: StructType
):
    """An Arrow-batched pandas UDF over one string column: ``row_fn(value,
    schema)`` gives each row's tuple of `out_schema` fields, with the
    DbSchema on a broadcast."""
    bc = spark.sparkContext.broadcast(schema)
    names = out_schema.fieldNames()

    def batch(series_iter: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        # a task unpickles `bc` as the worker's `_broadcastRegistry`
        # entry, which loads `.value` once per worker process and keeps it
        db_schema = bc.value
        for series in series_iter:
            yield pd.DataFrame([row_fn(v, db_schema) for v in series], columns=names)

    return F.pandas_udf(batch, out_schema)


def with_schema_udf(
    spark: SparkSession,
    df: DataFrame,
    col: str,
    schema: DbSchema,
    row_fn,
    out_schema: StructType,
) -> DataFrame:
    """df + one column per `out_schema` field, from `schema_udf` over `col`."""
    udf = schema_udf(spark, schema, row_fn, out_schema)
    return df.withColumn("__udf", udf(F.col(col))).select("*", "__udf.*").drop("__udf")


def validation_udf(spark: SparkSession, schema: DbSchema):
    """Returns a pandas UDF computing the verdict struct for a cypher column."""
    return schema_udf(spark, schema, _verdict_row, VERDICT_SCHEMA)


def validate_dataframe(
    spark: SparkSession,
    df: DataFrame,
    schema: DbSchema,
    cypher_col: str = "cypher",
) -> DataFrame:
    """df + verdict columns (is_valid, syntax_ok, is_write, errors)."""
    return with_schema_udf(spark, df, cypher_col, schema, _verdict_row, VERDICT_SCHEMA)


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
