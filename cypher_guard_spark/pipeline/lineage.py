"""Per-stage lineage + checkpoint/resume.

Every stage writes its output table (parquet here; the writer format is
pluggable — on a cluster with an Iceberg catalog set
``SPARK_GRAFT_TABLE_FORMAT=iceberg``) plus lineage records
(stage, partition_id, rows, checksum, wall_ms). The checksum is a
bit_xor of xxhash64 over the stage's key columns: the XOR is
partition-invariant (and immune to ANSI overflow), which is what resume
verification compares. A stage whose (rows, checksum) was observed on a
write is ONE record with ``partition_id=-1``; a stage that had to be
scanned has one record per partition. Sum/XOR over a stage's records
(`global_checksum`) is the same either way.

Resume = skip any stage whose output already exists with a _SUCCESS marker
(atomic commit), loading it instead of recomputing. Incomplete outputs
(killed mid-write → no _SUCCESS) are recomputed. The existence probe goes
through the Hadoop FileSystem API (JVM gateway), so it works on any
cluster filesystem (HDFS/S3A/GCS) — not just file:// paths visible to the
driver's local OS.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..spark.session import local_frame

# the `_lineage` table's columns, one row per CheckpointManager.lineage entry
LINEAGE_SCHEMA = (
    "stage string, partition_id bigint, rows bigint, checksum bigint, wall_ms double"
)


def lineage_scan(df: DataFrame, stage: str, key_cols) -> DataFrame:
    """(stage, partition_id, h) pre-aggregation frame for ONE stage that
    has no observed checksum (a resumed table, an in-memory stage, or a
    pass-through frame whose consumer did not write).

    `CheckpointManager.finalize` unions every such frame and aggregates
    them in a single groupBy(stage, partition_id) collect, instead of one
    exchange per stage (per-stage groupBys dominated the orchestration
    floor at small inputs). A fresh checkpointed run has none."""
    return df.select(
        F.lit(stage).alias("stage"),
        F.spark_partition_id().alias("partition_id"),
        F.xxhash64(*key_cols).alias("h"),
    )


def _observe(df: DataFrame, obs: Observation, key_cols) -> DataFrame:
    """``df`` observed for (rows, checksum) on its first action."""
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64(*key_cols)).alias("checksum"),
    )


def _rows_checksum(obs: Observation) -> tuple:
    got = obs.get
    return int(got["rows"]), int(got["checksum"] or 0)


def global_checksum(lineage_rows, stage: str | None = None) -> tuple:
    """(rows, checksum) aggregated partition-invariantly (XOR)."""
    rows = [r for r in lineage_rows if stage is None or r["stage"] == stage]
    total_rows = sum(r["rows"] for r in rows)
    csum = 0
    for r in rows:
        csum ^= r["checksum"] or 0
    return total_rows, csum


def hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence check through the Hadoop FileSystem API — cluster-safe
    (HDFS/S3A/…), unlike a driver-local ``os.path.exists``."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    return bool(fs.exists(jpath))


class CheckpointManager:
    """Stage-level checkpoint/lineage/resume over a base directory."""

    def __init__(self, spark: SparkSession, base_dir: str | None, resume: bool = True):
        self.spark = spark
        self.base_dir = base_dir
        self.resume = resume
        self.fmt = os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "parquet")
        self.lineage: list = []
        self.resumed_stages: list = []
        # (stage, frame, key_cols, Observation | None) awaiting finalize()
        self._pending: list = []
        self._observed: dict[str, tuple] = {}
        self._walls: dict[str, float] = {}
        self._row_counts: dict[str, int] = {}

    def _path(self, stage: str) -> str:
        return os.path.join(self.base_dir, stage)

    def _complete(self, stage: str) -> bool:
        """Has this stage's output table been committed?

        The probe is FORMAT-GATED: Hadoop-committer formats (parquet/ORC/
        CSV/JSON) commit atomically via a ``_SUCCESS`` marker, but Iceberg
        commits never write one — probing ``_SUCCESS`` under Iceberg would
        silently disable resume and recompute+overwrite every run. For
        path-based Iceberg (HadoopTables) the committed marker is
        ``metadata/version-hint.text``, written only after the first
        successful snapshot commit (an interrupted write leaves data files
        but no version hint, so incomplete outputs still recompute).
        Catalog-managed Iceberg tables don't go through this path-based
        manager at all — point ``base_dir`` at a warehouse path or keep the
        default parquet checkpoints."""
        if self.fmt == "iceberg":
            marker = os.path.join(self._path(stage), "metadata", "version-hint.text")
        else:
            marker = os.path.join(self._path(stage), "_SUCCESS")
        return hadoop_path_exists(self.spark, marker)

    def row_count(self, stage: str) -> int | None:
        """Exact output row count of a stage, if known without a new job.

        Fresh writes observe count(*) on the write action itself (zero extra
        jobs); resumed stages fall back to a parquet-footer count on first
        ask (metadata-only scan)."""
        if stage not in self._row_counts:
            return None
        n = self._row_counts[stage]
        if callable(n):
            n = self._row_counts[stage] = n()
        return n

    def stage(self, name: str, compute, key_cols, materialize: bool = True) -> DataFrame:
        """Run (or resume) a stage. ``compute`` is a thunk returning the
        stage DataFrame; key_cols feed the checksum.

        ``materialize=False`` marks pass-through / single-consumer stages
        (e.g. the raw input table, a stacked projection): they get lineage
        but no checkpoint copy — writing them again costs more than
        recomputing them, and caching them is even worse (the columnar
        cache build for nested rows runs ~10x slower than the parquet
        write+rescan it would save).
        """
        t0 = time.time()
        obs = None
        if materialize and self.base_dir and self.resume and self._complete(name):
            df = self.spark.read.format(self.fmt).load(self._path(name))
            self.resumed_stages.append(name)
            self._row_counts[name] = df.count  # lazy: footer-only if asked
        else:
            df = compute()
            if materialize and self.base_dir:
                # right-size the file count: narrow chains inherit the
                # source's partitioning (e.g. 256 input files), and paying
                # a commit barrier over hundreds of tiny files per stage is
                # pure driver-serial overhead. coalesce is a no-op when the
                # plan already has <= target partitions, so it is applied
                # unconditionally — probing getNumPartitions first would
                # finalize the AQE plan and run every upstream shuffle's
                # map stages a second time. Row count AND the
                # partition-invariant XOR checksum ride the write action
                # itself (zero extra jobs).
                target = 4 * self.spark.sparkContext.defaultParallelism
                written = Observation(f"lineage_{name}")
                _observe(df.coalesce(target), written, key_cols).write.format(
                    self.fmt
                ).mode("overwrite").save(self._path(name))
                self._observed[name] = _rows_checksum(written)
                self._row_counts[name] = self._observed[name][0]
                # read back with the schema the driver already holds:
                # inferring it from the files costs one job per stage.
                # Iceberg tables carry their own schema.
                reader = self.spark.read.format(self.fmt)
                if self.fmt != "iceberg":
                    reader = reader.schema(df.schema)
                df = reader.load(self._path(name))
            elif materialize:
                # no checkpoint dir (in-memory run): lazily localCheckpoint
                # multi-consumer stage outputs so the first action
                # materializes them once instead of re-running the full
                # upstream DAG per downstream consumer.
                df = df.localCheckpoint(eager=False)
            elif self.base_dir:
                # pass-through frame: its (rows, checksum) rides the write
                # of its single consumer. Checkpointed runs only: a lazy
                # localCheckpoint (the in-memory path) completes the
                # observation before computing anything, with 0 rows.
                obs = Observation(f"lineage_{name}")
                df = _observe(df, obs, key_cols)
        self._walls[name] = (time.time() - t0) * 1000.0
        if name not in self._observed:
            self._pending.append((name, df, key_cols, obs))
        return df

    def finalize(self) -> None:
        """Turn this run's stages into lineage rows.

        A stage observed on a write (its own, or its consumer's for a
        pass-through frame) becomes one ``partition_id=-1`` row with its
        real row count: zero jobs. Every other stage — resumed tables
        (the scan IS the resume check), the in-memory path, a pass-through
        frame whose consumer was resumed — is hashed per partition, all
        of them in ONE union + groupBy(stage, partition_id) collect.
        `global_checksum` sums/XORs a stage's rows, so both forms give the
        same (rows, checksum)."""
        from pyspark.sql import Row

        scans = []
        for name, df, key_cols, obs in self._pending:
            # never `obs.get` an observation that did not fire: it blocks
            if obs is not None and obs._jo.future().isCompleted():
                self._observed[name] = _rows_checksum(obs)
            else:
                scans.append(lineage_scan(df, name, key_cols))
        parts = [(name, -1, *got) for name, got in self._observed.items()]
        if scans:
            u = scans[0]
            for frame in scans[1:]:
                u = u.unionByName(frame)
            agg = u.groupBy("stage", "partition_id").agg(
                F.count("*").alias("rows"), F.bit_xor("h").alias("checksum")
            )
            parts += [tuple(r) for r in agg.collect()]
        for stage, pid, rows, csum in parts:
            self.lineage.append(
                Row(
                    stage=stage,
                    partition_id=pid,
                    rows=rows,
                    checksum=csum,
                    wall_ms=float(self._walls.get(stage, 0.0)),
                )
            )
        self._pending = []
        self._observed = {}

    def write_lineage(self):
        self.finalize()
        if not self.base_dir or not self.lineage:
            return
        ldf = local_frame(self.spark, self.lineage, LINEAGE_SCHEMA)
        ldf.write.mode("append").parquet(os.path.join(self.base_dir, "_lineage"))
