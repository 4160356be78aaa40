"""Single-threaded guard workloads: ``guard_merge`` and ``guard_corpus``.

Both are closed loops on one thread: the next chunk of statements is checked
only after the previous one returns. Each chunk (tens of ms) is bracketed by
the host reference kernel, so throughput is reported per reference-second
(see ``hostref``). A traced run spends its first half untraced and its second
half with spans around ``parse_query_result``, ``extract_query_elements`` and
``validate_query_elements`` as ``guard.api.analyze`` calls them; the
difference between the two halves is the tracing overhead.
"""

from __future__ import annotations

import json
import time
from collections import Counter
from pathlib import Path

import gen
import metrics as M
from hostref import HostClock
from spans import Tracer

from cypher_guard_spark.guard import DbSchema, api
from cypher_guard_spark.pipeline.synth import pipeline_db_schema

MERGE_CHUNK_BATCHES = 4  # ~200 statements, tens of ms per chunk


def guard_spans(tracer: Tracer):
    """The layer boundaries inside ``api.analyze``, patched in its module."""
    return tracer.wrap(
        [
            (api, "parse_query_result", "guard.parser"),
            (api, "extract_query_elements", "guard.extract"),
            (api, "validate_query_elements", "guard.validate"),
        ]
    )


def error_counts(results) -> Counter:
    """Exact per-code counts over ``(parse_error, [validation_error])`` pairs."""
    c: Counter = Counter()
    for perr, verrors in results:
        if perr is not None:
            c[M.parse_error_metric(perr.code)] += 1
        for e in verrors:
            c[M.validation_error_metric(e.code)] += 1
    return c


class GuardLoop:
    """Closed loop over chunks; ``check`` returns the number of wrong verdicts."""

    def __init__(self, chunks, run_chunk, check, units_per_chunk):
        self.chunks = chunks
        self.run_chunk = run_chunk
        self.check = check
        self.units = units_per_chunk
        self.clock = HostClock()

    def measure(self, seconds: float, tracer: Tracer | None = None) -> dict:
        units = attempted = failed = 0
        ref_total = wall_total = 0.0
        self_ref: Counter = Counter()
        deadline = time.perf_counter() + seconds
        i = 0
        while time.perf_counter() < deadline:
            chunk = self.chunks[i % len(self.chunks)]
            i += 1
            mark = len(tracer.spans) if tracer else 0
            self.clock.begin()
            t0 = time.perf_counter()
            results = self.run_chunk(chunk, tracer)
            wall = time.perf_counter() - t0
            ref = self.clock.end(wall)
            ref_total += ref
            wall_total += wall
            units += self.units(chunk)
            attempted += len(chunk)
            failed += self.check(chunk, results)
            if tracer is not None:
                for name, s in tracer.self_times(mark).items():
                    self_ref[name] += s * ref / wall
        return {
            "units": units, "attempted": attempted, "failed": failed,
            "ref_s": ref_total, "wall_s": wall_total, "self_ref": self_ref,
        }


def _analyze_all(items, schema_of, tracer):
    out = []
    if tracer is None:
        for it in items:
            _, perr, verrors = api.analyze(it.cypher, schema_of(it))
            out.append((perr, verrors))
        return out
    for it in items:
        with tracer.span("guard.analyze"):
            _, perr, verrors = api.analyze(it.cypher, schema_of(it))
        tracer.op += 1
        out.append((perr, verrors))
    return out


def merge_wrong(batches, results) -> int:
    bad = 0
    for b, (perr, verrors) in zip(batches, results):
        got = tuple((e.code, e.message) for e in verrors)
        bad += perr is not None or got != b.expected_errors
    return bad


def corpus_wrong(queries, results) -> int:
    """Schema-independent fields for eval-schema entries (the reference eval
    schema is not shipped); full sorted error lists for unit-schema ones."""
    bad = 0
    for q, (perr, verrors) in zip(queries, results):
        ok = (perr is None) == q.parse_ok and (
            perr is None or perr.code == q.exception_class
        )
        if ok and perr is None:
            ok = api.is_write(q.cypher) == q.is_write
        if ok and q.schema == "unit":
            msgs = ["Invalid Cypher syntax"] if perr else sorted(e.message for e in verrors)
            ok = tuple(msgs) == q.error_messages
        bad += not ok
    return bad


def _setup(workload: str, root: Path, seed: int):
    """(loop, gate items) for one guard workload."""
    if workload == "guard_merge":
        schema = pipeline_db_schema()
        batches = gen.merge_batches(seed)
        chunks = [
            batches[i:i + MERGE_CHUNK_BATCHES]
            for i in range(0, len(batches), MERGE_CHUNK_BATCHES)
        ]

        def run(chunk, tracer):
            return _analyze_all(chunk, lambda _: schema, tracer)

        loop = GuardLoop(chunks, run, merge_wrong,
                         lambda c: sum(b.n_statements for b in c))
        gate_items = batches
    else:
        schemas = {
            "unit": DbSchema.from_dict(
                json.loads((root / "tests/golden/unit_schema.json").read_text())
            ),
            "eval": pipeline_db_schema(),
        }
        queries = gen.golden_corpus(root, seed)

        def run(chunk, tracer):
            return _analyze_all(chunk, lambda q: schemas[q.schema], tracer)

        # one chunk is one full pass over the corpus in the seed's order
        loop = GuardLoop([queries], run, corpus_wrong, len)
        gate_items = queries
    return loop, gate_items


def run(workload: str, root: Path, seed: int, seconds: float, trace: bool,
        trace_path: Path) -> dict:
    """The result dict for ``run.py``: correct/attempted/failed/metrics."""
    from statistics import median

    # set up several times and report the median, host-normalized like the
    # timed chunks (reference-seconds)
    setups = []
    clock = HostClock()
    for _ in range(5):
        clock.begin()
        t0 = time.perf_counter()
        loop, gate_items = _setup(workload, root, seed)
        setups.append(clock.end(time.perf_counter() - t0))
    # correctness gate (untimed): one full pass over the seeded inputs
    gate_results = loop.run_chunk(gate_items, None)
    gate_failed = loop.check(gate_items, gate_results)
    counts = error_counts(gate_results)

    if not trace:
        m = loop.measure(seconds)
        metrics = {
            "throughput": m["units"] / m["ref_s"],
            "setup_s": median(setups),
            "peak_rss_mb": M.peak_rss_mb(),
        }
        layer = None
    else:
        plain = loop.measure(seconds / 2)
        tracer = Tracer()
        with guard_spans(tracer):
            m = loop.measure(seconds / 2, tracer)
        tracer.dump(trace_path)
        per_k = 1000.0 / m["units"]
        traced_rate = m["units"] / m["ref_s"]
        plain_rate = plain["units"] / plain["ref_s"]
        layer = {
            "guard.parser.self_ref_s": m["self_ref"]["guard.parser"] * per_k,
            "guard.extract.self_ref_s": m["self_ref"]["guard.extract"] * per_k,
            "guard.validate.self_ref_s": m["self_ref"]["guard.validate"] * per_k,
            "guard.analyze.self_ref_s": m["self_ref"]["guard.analyze"] * per_k,
            "guard.stmts_per_s_raw": (plain["units"] + m["units"])
            / (plain["wall_s"] + m["wall_s"]),
            "host.ref_ms": loop.clock.ref_ms(),
            "trace.overhead_pct": 100.0 * (plain_rate / traced_rate - 1.0),
            **{k: float(v) for k, v in counts.items()},
        }
        m = {k: plain[k] + m[k] for k in ("attempted", "failed")}
        metrics = None
    return {
        "correct": gate_failed == 0 and m["failed"] == 0,
        "attempted": m["attempted"] + len(gate_items),
        "failed": m["failed"] + gate_failed,
        "end_to_end": metrics,
        "per_layer": layer,
    }
