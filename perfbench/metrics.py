"""Metric names and units, and the process-tree memory probe.

Every run reports every metric of its kind: all end-to-end metrics when
untraced, all per-layer metrics when traced. A per-layer metric of a layer
that a workload does not exercise reads 0, which is the work that layer did.
"""

from __future__ import annotations

import os

END_TO_END = {
    # docs per Spark reference-second on kg_pipeline; statements (queries)
    # per reference-second on guard_merge / guard_corpus
    "throughput": "items/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

STAGES = ("triples_raw", "link_stats", "entity_map", "triples", "merge_batches", "verdicts")
PARSE_CODES = (
    "NomParsingError", "InvalidClauseOrder", "MissingRequiredClause",
    "ReturnBeforeOtherClauses", "WhereBeforeMatch", "MatchAfterReturn",
    "WithAfterReturn", "UnwindAfterReturn",
)
VALIDATION_CODES = (
    "InvalidNodeLabel", "InvalidRelationshipType", "InvalidNodeProperty",
    "InvalidRelationship", "InvalidPropertyAccess", "InvalidPropertyType",
    "UndefinedVariable",
)


def parse_error_metric(code: str) -> str:
    return f"guard.parse_errors.{code if code in PARSE_CODES else 'other'}"


def validation_error_metric(code: str) -> str:
    return f"guard.validation_errors.{code if code in VALIDATION_CODES else 'other'}"


PER_LAYER = {
    "guard.parser.self_ref_s": "ref_s/1k_stmts",
    "guard.extract.self_ref_s": "ref_s/1k_stmts",
    "guard.validate.self_ref_s": "ref_s/1k_stmts",
    "guard.analyze.self_ref_s": "ref_s/1k_stmts",
    "guard.stmts_per_s_raw": "1/s",
    "host.ref_ms": "ms",
    "trace.overhead_pct": "%",
    **{parse_error_metric(c): "count" for c in PARSE_CODES + ("other",)},
    **{validation_error_metric(c): "count" for c in VALIDATION_CODES + ("other",)},
    **{f"pipeline.{s}.wall_s": "s" for s in STAGES},
    **{f"pipeline.{s}.rows": "count" for s in STAGES},
    "pipeline.unattributed_s": "s",
    "pipeline.lineage.finalize_s": "s",
    "pipeline.lineage.write_s": "s",
    "codegen.stmts_per_batch": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.core_busy_share": "ratio",
    "setup.warmup_ops": "count",
    "graph.merge_apply_s": "s",
    "graph.cypher_read_ms": "ms",
    "graph.louvain_s": "s",
    "apply_merge.parse_udf_s": "s",
    "executor.compile_ms": "ms",
    "executor.run_ms": "ms",
    "graph_algo.louvain.spark_jobs": "count",
}


# per-layer metrics where a larger value is the better one; all others: lower
HIGHER_IS_BETTER = {
    "guard.stmts_per_s_raw", "codegen.stmts_per_batch", "spark.core_busy_share",
    *(f"pipeline.{s}.rows" for s in STAGES),
}


def _children() -> dict:
    """{ppid: [pid, ...]} over every process visible in /proc."""
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants() -> list:
    """Pids of this process's live descendants."""
    kids = _children()
    out, todo = [], list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its live descendants (the
    driver JVM and its Python workers, for the Spark workloads)."""
    return sum(_hwm_kb(pid) for pid in [os.getpid(), *descendants()]) / 1024.0


def fill(values: dict, names: dict) -> dict:
    """Every metric in ``names`` with its unit; absent values read 0."""
    return {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in names.items()}
