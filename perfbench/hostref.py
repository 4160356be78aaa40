"""Host-speed reference kernel for the pure-Python guard workloads.

The speed of this host's CPU for interpreted Python drifts by up to 2x over
minutes, and neither CPU time nor steal time tracks it. The guard workloads
therefore time short chunks of work and bracket each chunk, on the same
thread, with a fixed stdlib pure-Python parsing kernel: ``re._parser.parse``
over a fixed pattern list, run with ``gc`` disabled so the program's heap
cannot leak into it. A chunk's duration divided by the kernel's duration
measured around it is steady across host speeds; the guard parser and this
kernel are both branchy, allocation-heavy pure-Python parsers.

One reference-second is ``REF_SECOND_KERNELS`` kernel runs. The constant was
fixed once (about one wall second on a 4-vCPU x86-64 VM at calibration time)
and must not change, or every stored ``*_per_ref_s`` figure changes with it.
"""

from __future__ import annotations

import gc
import re
import statistics
import time

# re._parser is the stdlib's pure-Python regex parser (sre_parse before 3.11)
try:
    from re import _parser as _sre_parser
except ImportError:  # Python < 3.11
    import sre_parse as _sre_parser

PATTERNS = (
    r"^(?P<s>.+) works for (?P<o>.+)\.$",
    r"(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})(?:\.\d+)?(Z|[+-]\d{2}:\d{2})?",
    r"[A-Za-z_][A-Za-z0-9_]*\s*\(",
    r"(?:MATCH|MERGE|CREATE)\s+\((\w+)?(?::(\w+))?\s*(\{[^}]*\})?\)",
    r"\b(?:foo|bar|baz|qux)+\b",
    r"(?i)select\s+(.*?)\s+from\s+(\w+)(?:\s+where\s+(.*))?",
    r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"",
    r"(a|b|c|d|e)*?[xyz]{2,5}(?=end)",
    r"(?P<year>[12]\d{3})/(?P<month>0[1-9]|1[0-2])/(?P=month)",
    r"[^\x00-\x1f\x7f]{1,64}@[a-z0-9.-]+\.[a-z]{2,}",
)
PASSES = 16  # one kernel run parses every pattern PASSES times (~10 ms)
REF_SECOND_KERNELS = 120  # one reference-second == this many kernel runs


def kernel_s() -> float:
    """Wall seconds of one kernel run, with the cyclic GC off."""
    parse = _sre_parser.parse
    was_enabled = gc.isenabled()
    gc.disable()
    try:
        t0 = time.perf_counter()
        for _ in range(PASSES):
            for p in PATTERNS:
                parse(p)
        return time.perf_counter() - t0
    finally:
        if was_enabled:
            gc.enable()


class HostClock:
    """Brackets timed chunks with the kernel and converts wall seconds to
    reference-seconds, chunk by chunk."""

    def __init__(self) -> None:
        self.kernel_runs: list[float] = []
        self._before = 0.0

    def begin(self) -> None:
        self._before = kernel_s()

    def end(self, wall_s: float) -> float:
        """Reference-seconds for a chunk that took ``wall_s`` since ``begin``."""
        after = kernel_s()
        self.kernel_runs += (self._before, after)
        ref_unit = REF_SECOND_KERNELS * (self._before + after) / 2.0
        return wall_s / ref_unit

    def sample(self) -> None:
        """One unbracketed kernel run, kept only for ``ref_ms``."""
        self.kernel_runs.append(kernel_s())

    def ref_ms(self) -> float:
        """Median kernel run, in milliseconds: the host's speed during the run."""
        return statistics.median(self.kernel_runs) * 1000.0 if self.kernel_runs else 0.0
