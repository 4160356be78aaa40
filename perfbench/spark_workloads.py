"""``kg_pipeline``: the whole KG-construction pipeline on ``local[4]``.

One process drives a closed loop of ``pipeline.run_pipeline`` calls over the
same 4,000 synthesized documents, each call with a fresh checkpoint
directory. ``synthesize_documents`` fixes its own seed, so the benchmark
seed picks which window of that deterministic document stream is used.

Timing starts only in warm state: warm-up calls repeat until a call is no
faster than the best before it, and their cost is part of ``setup_s``. Each
timed call is bracketed by runs of a fixed Spark reference mix in the same
JVM, and calls are reported in reference-seconds: across processes the raw
call walls varied by a quarter with the host and the JVM's state, the
ratio to the reference mix by a few percent. (The pure-Python kernel the
guard workloads use did not track these calls.)

A traced run alternates untraced and traced calls (the difference is the
tracing overhead), reads Spark's status store for the traced calls' jobs,
re-checks the calls' MERGE batches with the guard on the driver, and ends
with one graph pass over the last call's output: apply the MERGE batches,
run two Cypher reads, and Louvain over the evidence-weighted entity pairs.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import metrics as M
from hostref import HostClock
from spans import Tracer

N_DOCS = 4_000
CORES = 4
DOC_FILES = 4  # the file count synthesize_documents writes for 4,000 docs
DRIVER_HEAP = "2g"
WARMUP_MIN, WARMUP_MAX = 8, 12
WARM_RATIO = 0.97  # warm once a call is not 3% faster than the best before it
WARMUP_BUDGET_S = 90.0
# one run of the Spark reference mix counts as this many reference-seconds
# (about its wall time on a 4-vCPU x86-64 VM at calibration)
SPARK_REF_MIX_S = 1.3

READ_QUERIES = (
    "MATCH (a:Person)-[:WORKS_FOR]->(c:Company)-[:LOCATED_IN]->(l:Location) "
    "WHERE a.lastName <> 'Smith' "
    "RETURN a.firstName, a.lastName, c.companyName, l.city",
    "MATCH (a:Person)-[:KNOWS]-(b:Person) "
    "RETURN a.firstName, a.lastName, count(b) AS n_knows",
)


def _prepare_env(root: Path, work: Path) -> None:
    """Python workers import the package from this checkout; every temp
    file the driver, JVM or workers make stays inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # every JVM started from here, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _session(work: Path):
    from cypher_guard_spark.spark.session import build_session

    spark = build_session(
        "perfbench",
        cores=CORES,
        extra_conf={
            # a fixed, pre-touched heap: the JVM's footprint is then the same
            # in every run instead of depending on how far G1 grew the heap
            # before the run ended
            "spark.driver.memory": DRIVER_HEAP,
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _ended(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] in "ZX"
    except OSError:
        return True


def _stop(spark) -> None:
    """Stop Spark, then wait until the gateway JVM and every process it
    started (the Python worker daemon and workers) have ended."""
    from pyspark import SparkContext

    started = M.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in started:
        while not _ended(pid):
            if time.monotonic() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
                deadline = time.monotonic() + 5
            time.sleep(0.05)


def write_documents(path: Path, start: int, n: int) -> None:
    """Documents ``start .. start+n`` of the deterministic synthetic stream,
    rendered by ``synth`` and written as ``DOC_FILES`` parquet files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cypher_guard_spark.pipeline import synth

    span_t = pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                 ("media_ref", pa.string()), ("offset", pa.int32())]))
    path.mkdir(parents=True, exist_ok=True)
    per = -(-n // DOC_FILES)
    for f in range(DOC_FILES):
        rows = [synth._render_doc(i) for i in range(start + f * per, start + min(n, (f + 1) * per))]
        table = pa.table({"doc_id": pa.array([r[0] for r in rows], pa.string()),
                          "spans": pa.array([r[1] for r in rows], span_t)})
        pq.write_table(table, path / f"part-{f:05d}.parquet")


class JobStats:
    """Spark counters for the jobs of one job group, from the status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def read(self, group: str) -> dict:
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        out = {"spark.jobs": len(jobs), "spark.tasks": 0, "spark.executor_run_s": 0.0,
               "spark.executor_cpu_s": 0.0, "spark.shuffle_write_mb": 0.0, "spark.spill_mb": 0.0}
        seen = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage skipped (AQE), never attempted
                    continue
                out["spark.tasks"] += st.numCompleteTasks()
                out["spark.executor_run_s"] += st.executorRunTime() / 1e3
                out["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                out["spark.spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
        return out


@contextlib.contextmanager
def _pipeline_spans(tracer: Tracer):
    """Spans around the stage-layer calls ``run_pipeline`` makes, and around
    the lineage layer's checkpoint writes, finalize and ``_lineage`` write."""
    from cypher_guard_spark.pipeline import lineage, runner

    cm = lineage.CheckpointManager
    orig_stage = cm.stage

    def stage(self, name, compute, key_cols, materialize=True):
        with tracer.span(f"pipeline.lineage.stage.{name}"):
            return orig_stage(self, name, compute, key_cols, materialize)

    targets = [
        (runner, "extract_triples_raw", "pipeline.mentions.extract_triples_raw"),
        (runner, "link_scores", "pipeline.mentions.link_scores"),
        (runner, "build_entity_map", "pipeline.canonicalize.build_entity_map"),
        (runner, "canonicalize_triples", "pipeline.canonicalize.canonicalize_triples"),
        (runner, "build_merge_batches", "pipeline.codegen.build_merge_batches"),
        (runner, "validate_dataframe", "spark.validate_udf.validate_dataframe"),
        (cm, "finalize", "pipeline.lineage.finalize"),
        (cm, "write_lineage", "pipeline.lineage.write_lineage"),
    ]

    with tracer.wrap(targets):
        cm.stage = stage
        try:
            yield tracer
        finally:
            cm.stage = orig_stage


class Pipeline:
    def __init__(self, spark, docs_path: Path, work: Path) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(str(docs_path))
        self.work = work
        self.calls = 0
        self.checksums = None
        self.failed = 0

    def call(self, group: str | None = None) -> tuple:
        """One timed ``run_pipeline`` call: (wall seconds, outputs)."""
        from cypher_guard_spark.pipeline import run_pipeline

        ck = self.work / f"ckpt-{self.calls}"
        self.calls += 1
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            out = run_pipeline(self.spark, self.docs, checkpoint_dir=str(ck))
        finally:
            wall = time.perf_counter() - t0
            if group:
                sc.setLocalProperty("spark.jobGroup.id", None)
        return wall, out, ck

    def check(self, out) -> None:
        """Untimed gate: every batch valid, lineage identical on every call."""
        from pyspark.sql import functions as F

        from cypher_guard_spark.pipeline.lineage import global_checksum

        sums = {s: global_checksum(out["lineage"], s) for s in sorted({r["stage"] for r in out["lineage"]})}
        invalid = out["verdicts"].where(~F.col("is_valid")).count()
        if invalid or (self.checksums is not None and sums != self.checksums):
            self.failed += 1
        if self.checksums is None:
            self.checksums = sums


def _stage_walls(out) -> tuple:
    """({stage: wall seconds}, {stage: rows}) from the lineage rows."""
    walls, rows = {}, {}
    for r in out["lineage"]:
        walls[r["stage"]] = r["wall_ms"] / 1000.0
        rows[r["stage"]] = rows.get(r["stage"], 0) + r["rows"]
    return walls, rows


def _guard_on_driver(batches: list, out: dict) -> None:
    """The guard's layer self times on this call's own MERGE batches."""
    import guard_workloads as G
    from cypher_guard_spark.guard import api
    from cypher_guard_spark.pipeline.synth import pipeline_db_schema

    schema = pipeline_db_schema()
    clock = HostClock()
    tracer = Tracer()
    n_stmts = sum(b.count("\n") + 1 for b in batches)
    results, self_ref = [], {}
    with G.guard_spans(tracer):
        for i in range(0, len(batches), G.MERGE_CHUNK_BATCHES):
            mark = len(tracer.spans)
            clock.begin()
            t0 = time.perf_counter()
            for b in batches[i:i + G.MERGE_CHUNK_BATCHES]:
                with tracer.span("guard.analyze"):
                    _, perr, verrors = api.analyze(b, schema)
                results.append((perr, verrors))
            wall = time.perf_counter() - t0
            ref = clock.end(wall)
            for name, s in tracer.self_times(mark).items():
                self_ref[name] = self_ref.get(name, 0.0) + s * ref / wall
    raw_wall = sum(e - s for n, s, e, _, _ in tracer.spans if n == "guard.analyze")
    per_k = 1000.0 / n_stmts
    for layer in ("parser", "extract", "validate", "analyze"):
        out[f"guard.{layer}.self_ref_s"] = self_ref.get(f"guard.{layer}", 0.0) * per_k
    out["guard.stmts_per_s_raw"] = n_stmts / raw_wall
    out["codegen.stmts_per_batch"] = n_stmts / len(batches)
    out.update(G.error_counts(results))


def _graph_pass(spark, stats: JobStats, out: dict, layer: dict) -> int:
    """Write side and read side over one call's canonical triples; returns
    the number of wrong results."""
    from pyspark.sql import functions as F

    from cypher_guard_spark.pipeline.apply_merge import apply_merge_batches, parse_merge_statements
    from cypher_guard_spark.pipeline.executor import execute_cypher, graph_frames
    from cypher_guard_spark.pipeline.graph_algo import louvain
    from cypher_guard_spark.pipeline.synth import pipeline_db_schema

    sc = spark.sparkContext
    batches, triples = out["merge_batches"], out["triples"]
    t0 = time.perf_counter()
    stmts = batches.select(F.explode(F.split("cypher", "\n")).alias("statement"))
    parse_merge_statements(spark, stmts, pipeline_db_schema()).write.format("noop").mode("overwrite").save()
    layer["apply_merge.parse_udf_s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    nodes, edges = apply_merge_batches(spark, batches)
    nodes, edges = nodes.localCheckpoint(eager=True), edges.localCheckpoint(eager=True)
    layer["graph.merge_apply_s"] = time.perf_counter() - t0
    want_nodes, want_edges = graph_frames(triples)
    wrong = int(bool(
        edges.select("edge_id").exceptAll(want_edges.select("edge_id")).count()
        + want_edges.select("edge_id").exceptAll(edges.select("edge_id")).count()
        + nodes.exceptAll(want_nodes).count() + want_nodes.exceptAll(nodes).count()
    ))

    compile_s = run_s = 0.0
    for q in READ_QUERIES:
        t0 = time.perf_counter()
        df = execute_cypher(spark, None, q, graph=(nodes, edges))
        t1 = time.perf_counter()
        rows = df.collect()
        run_s += time.perf_counter() - t1
        compile_s += t1 - t0
        wrong += not rows
    layer["executor.compile_ms"] = compile_s * 1e3
    layer["executor.run_ms"] = run_s * 1e3
    layer["graph.cypher_read_ms"] = (compile_s + run_s) * 1e3

    pairs = triples.where(F.col("subj") != F.col("obj")).select(
        F.least("subj", "obj").alias("u"), F.greatest("subj", "obj").alias("v"), "doc_id", "pred"
    )
    weighted = pairs.groupBy("u", "v").agg(F.countDistinct("doc_id", "pred").alias("w"))
    group = "perfbench-louvain"
    sc.setJobGroup(group, group)
    t0 = time.perf_counter()
    communities = louvain(spark, weighted, src="u", dst="v", weight="w").collect()
    layer["graph.louvain_s"] = time.perf_counter() - t0
    sc.setLocalProperty("spark.jobGroup.id", None)
    layer["graph_algo.louvain.spark_jobs"] = stats.read(group)["spark.jobs"]
    wrong += not communities
    return wrong


def run(workload: str, root: Path, seed: int, seconds: float, trace: bool,
        trace_path: Path) -> dict:
    t_start = time.perf_counter()
    work = root / ".perfbench" / "work" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(root, work)
    spark = _session(work)
    try:
        start = (seed % 8192) * N_DOCS
        write_documents(work / "documents", start, N_DOCS)
        p = Pipeline(spark, work / "documents", work)
        # warm state: repeat calls until one is no faster than the best before
        warm = []
        while True:
            wall, out, ck = p.call()
            p.check(out)
            shutil.rmtree(ck, ignore_errors=True)
            warm.append(wall)
            print(f"perfbench: warm-up call {len(warm)}: {wall:.3f} s", file=sys.stderr)
            spent = time.perf_counter() - t_start
            if len(warm) >= WARMUP_MAX or spent > WARMUP_BUDGET_S:
                break
            if len(warm) >= WARMUP_MIN and wall >= WARM_RATIO * min(warm[:-1]):
                break
        for _ in range(2):  # compile and warm the reference mix's own plans
            spark_reference_s(spark, p.work)
        setup_s = time.perf_counter() - t_start
        res = _measure(spark, p, seconds, trace, trace_path, setup_s, len(warm))
        res["attempted"] += len(warm)  # warm-up calls are checked too
        return res
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


def spark_reference_s(spark, work: Path) -> float:
    """Wall seconds of the Spark reference mix: four small jobs shaped like
    pipeline stages (scan, shuffle aggregate, parquet write, read back).

    It uses only Spark, none of the program's code, and runs in the same
    driver JVM as the timed calls, so it slows with them when the host or
    the JVM's state does, and not when the program does."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    for i in range(4):
        out = str(work / f"reference-{i}")
        spark.range(0, 50_000, 1, 8).select(
            (F.col("id") % 211).alias("k"), F.xxhash64("id").alias("h")
        ).groupBy("k").agg(F.bit_xor("h").alias("x"), F.count("*").alias("n")).write.mode(
            "overwrite").parquet(out)
        spark.read.parquet(out).agg(F.sum("n")).collect()
    return time.perf_counter() - t0


def _measure(spark, p: Pipeline, seconds, trace, trace_path, setup_s, n_warm) -> dict:
    deadline = time.perf_counter() + seconds
    walls, traced_walls, layer_calls = [], [], []
    stats = JobStats(spark)
    tracer = Tracer()
    clock = HostClock()
    attempted = 0
    last_ck = None
    refs = [spark_reference_s(spark, p.work)]  # mix walls before/after each call
    ref_walls = []  # untraced calls, in reference-seconds
    while not walls or (trace and not traced_walls) or time.perf_counter() < deadline:
        traced_call = trace and len(walls) > len(traced_walls)
        attempted += 1
        clock.sample()
        if traced_call:
            group = f"perfbench-call-{p.calls}"
            mark = len(tracer.spans)
            with _pipeline_spans(tracer):
                with tracer.span("pipeline.run_pipeline"):
                    wall, out, ck = p.call(group)
            tracer.op += 1
            traced_walls.append(wall)
            layer_calls.append((wall, out, stats.read(group), tracer.totals(mark), tracer.self_times(mark)))
        else:
            wall, out, ck = p.call()
            walls.append(wall)
        refs.append(spark_reference_s(spark, p.work))
        if not traced_call:
            ref_walls.append(wall * SPARK_REF_MIX_S / ((refs[-2] + refs[-1]) / 2))
        print(f"perfbench: {'traced' if traced_call else 'timed'} call: {wall:.3f} s, "
              f"reference mix {refs[-2]:.3f} / {refs[-1]:.3f} s", file=sys.stderr)
        if traced_call:
            batches = [r["cypher"] for r in out["merge_batches"].collect()]
        p.check(out)
        if last_ck is not None:
            shutil.rmtree(last_ck, ignore_errors=True)
        last, last_ck = out, ck
    result = {"correct": p.failed == 0, "attempted": attempted, "failed": p.failed}
    if not trace:
        result["end_to_end"] = {
            "throughput": N_DOCS / statistics.median(ref_walls),
            "setup_s": setup_s * SPARK_REF_MIX_S / refs[0],
            "peak_rss_mb": M.peak_rss_mb(),
        }
        return result

    layer: dict = {"setup.warmup_ops": n_warm}
    wall, out, jobs, totals, selfs = layer_calls[-1]
    stage_walls, stage_rows = _stage_walls(out)
    for s in M.STAGES:
        layer[f"pipeline.{s}.wall_s"] = stage_walls.get(s, 0.0)
        layer[f"pipeline.{s}.rows"] = stage_rows.get(s, 0)
    layer["pipeline.unattributed_s"] = wall - sum(stage_walls.values())
    layer["pipeline.lineage.finalize_s"] = totals.get("pipeline.lineage.finalize", (0, 0.0))[1]
    layer["pipeline.lineage.write_s"] = selfs.get("pipeline.lineage.write_lineage", 0.0)
    layer.update(jobs)
    layer["spark.core_busy_share"] = jobs["spark.executor_run_s"] / (wall * CORES)
    layer["trace.overhead_pct"] = 100.0 * (
        statistics.median(traced_walls) / statistics.median(walls) - 1.0)
    _guard_on_driver(batches, layer)
    # the graph pass is outside every timed call
    p.failed += _graph_pass(spark, stats, last, layer)
    layer["host.ref_ms"] = clock.ref_ms()
    tracer.dump(trace_path)
    result.update(correct=p.failed == 0, failed=p.failed, per_layer=layer)
    return result
