#!/usr/bin/env python3
"""Repository benchmark: one workload per invocation.

    python3 perfbench/run.py --workload guard_merge --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (every
end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1``; names and units in ``metrics.py``). Span traces of a traced
run are written to ``.perfbench/trace/``. See ``README.md`` for the
workloads and what each per-layer metric is expected to move.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("guard_merge", "guard_corpus", "kg_pipeline")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "cypher_guard_spark" / "__init__.py").is_file():
        print(f"perfbench: no cypher_guard_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    import metrics as M

    trace_path = ROOT / ".perfbench" / "trace" / f"{args.workload}-{args.seed}.jsonl"
    if args.workload == "kg_pipeline":
        import spark_workloads as W
    else:
        import guard_workloads as W
    res = W.run(args.workload, ROOT, args.seed, args.seconds, bool(args.trace), trace_path)

    if args.trace:
        metrics = M.fill(res["per_layer"], M.PER_LAYER)
    else:
        metrics = M.fill(res["end_to_end"], M.END_TO_END)
    out = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
