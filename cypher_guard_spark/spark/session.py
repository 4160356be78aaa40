"""SparkSession factory tuned for this engine.

Scale stance (SURVEY.md §4.2): everything rides on built-in Catalyst
machinery — AQE for runtime re-planning and skew-join splitting, Arrow for
the Python boundary, and a shuffle-partition count sized to the core count
(at cluster scale this is overridden to ~2-3× total executor cores).
"""

from __future__ import annotations

import os
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

# RawLocalFileSystem minus the permission shell-outs (see java/src/…/
# BareLocalFileSystem.java): without libhadoop native, every local-FS file
# create/commit fork+execs chmod — ~1600 forks per 256-file checkpoint,
# each copying a multi-GB JVM's page tables. Only relevant for file://
# (local mode / tests); on a cluster with HDFS/S3/Iceberg this is unused.
_BARE_FS_JAR = str(Path(__file__).resolve().parent.parent / "jars/barelocalfs.jar")


def _mem_total_gb() -> int:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // (1024 * 1024)
    except OSError:
        pass
    return 64


def _default_driver_mem(cores: int) -> str:
    """Heap sized to the core count but capped at ~75% of physical RAM —
    a 48g default on a 16 GB host would just invite the OOM killer."""
    if cores < 8:
        return "8g"
    return f"{max(2, min(48, (_mem_total_gb() * 3) // 4))}g"


def build_session(
    app_name: str = "cypher-guard-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core keeps every stage wide
        # without tiny-task overhead; on a real cluster set 2-3x total cores.
        shuffle_partitions = max(int(cores), 1)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # scan-split sizing for the local/bench scale: the default
        # 128MB+4MB(open-cost) merges a whole checkpointed stage table
        # into 2-10 splits, so every post-checkpoint stage runs the same
        # 2-10 tasks whether the session has 2 cores or 32 — measured as
        # flat/anti-scaling stages. 32MB/1MB keeps task counts ≥ cores at
        # test SFs; on a real cluster (TB tables, thousands of splits at
        # any setting) override via SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(32 * 1024 * 1024)),
        )
        .config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode runs all tasks in the driver JVM: size the heap for the
        # core count (32 concurrent tasks on 8g thrash GC and anti-scale);
        # on a cluster this maps to per-executor memory instead.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", _default_driver_mem(cores)),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    )
    if cores >= 8:
        # AlwaysPreTouch: growing a multi-GB heap under 32 concurrent
        # faulting threads serializes on the kernel's zone lock (measured:
        # 480 sys-cpu-s storms, ~2x user-CPU inflation); pre-touch faults
        # each committed region once, on the expansion path. Deliberately
        # WITHOUT -Xms: pinning the full heap up front sounds stricter but
        # was measured to add ~10s to the first python-UDF stage (every
        # cold worker spawn pays for the fully-committed 48GB image:
        # 17.2s vs 7.6s first guard_verdicts call with/without -Xms48g).
        builder = builder.config(
            "spark.driver.extraJavaOptions", "-XX:+AlwaysPreTouch"
        )
    if os.path.exists(_BARE_FS_JAR):
        builder = (
            builder.config("spark.jars", _BARE_FS_JAR)
            .config("spark.driver.extraClassPath", _BARE_FS_JAR)
            .config("spark.hadoop.fs.file.impl", "cypherguardspark.fs.BareLocalFileSystem")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A row list the driver already holds (tuples in schema order), as a
    DataFrame over one Arrow batch: the plan is a JVM ``LocalTableScan``.
    ``createDataFrame(list)`` would be ``sc.parallelize`` + ``Scan
    ExistingRDD``, so every job over the frame starts Python workers only
    to re-pickle its rows (docs/PERFORMANCE.md §28). ``schema`` is a DDL
    string or a ``StructType``; the result's schema, nullability included,
    is the one ``createDataFrame(rows, schema)`` gives."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema=struct)
