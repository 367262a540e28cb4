"""Output checks and pass accounting.

Every pass of every workload ends with the same three checks on its
committed output, made from the rows the pipeline wrote (read back after
the pass, outside the timed region):

  - conservation: sampled + overflow + dlq rows == input rows, where the
    input count comes from the generator, not from the pipeline;
  - reservoir bound: at most k sampled conversations per window, and the
    sampler must have dropped something (k binds), or the workload does
    not exercise the reservoir;
  - determinism: a digest of the sampled (window, conversation) set equals
    the digest of every other pass and the one stored for (workload, seed).

A pass that raises or fails a check counts as failed.
"""

from __future__ import annotations

import hashlib
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass
from typing import Callable


@dataclass
class OutputSummary:
    sink_rows: "dict[str, int]"
    sampled: "list[tuple[int, str]]"  # distinct (window_start_s, conv_id)


@dataclass
class PassResult:
    wall_s: float
    latencies_s: "list[float]"
    # reads the committed output back; called after the timed region
    summary: "Callable[[], OutputSummary]"


def sampled_digest(pairs: "list[tuple[int, str]]") -> str:
    h = hashlib.sha256()
    for w, conv in sorted(pairs):
        h.update(f"{w}\t{conv}\n".encode())
    return h.hexdigest()[:32]


def check_output(
    summary: OutputSummary, input_rows: int, k: int, ref_digest: "str | None"
) -> "tuple[list[str], str]":
    """Returns (problems, digest); an empty problem list means the pass
    output is correct."""
    problems = []
    routed = sum(summary.sink_rows.values())
    if routed != input_rows:
        problems.append(
            f"conservation: {summary.sink_rows} sums to {routed}, input has {input_rows}"
        )
    per_window = Counter(w for w, _ in summary.sampled)
    if not per_window:
        problems.append("no sampled conversations")
    elif max(per_window.values()) > k:
        problems.append(f"a window holds {max(per_window.values())} sampled conversations, k={k}")
    if summary.sink_rows.get("overflow", 0) == 0:
        problems.append("no overflow rows: k never binds")
    digest = sampled_digest(summary.sampled)
    if ref_digest is not None and digest != ref_digest:
        problems.append(f"sampled-set digest {digest} != reference {ref_digest}")
    return problems, digest


@dataclass
class Tally:
    """Runs passes, checks each one and counts attempts and failures."""

    input_rows: int
    k: int
    ref_digest: "str | None" = None
    attempted: int = 0
    failed: int = 0
    check_s: float = 0.0  # time spent reading back and checking outputs

    def run(self, pass_fn: "Callable[[], PassResult]") -> "PassResult | None":
        self.attempted += 1
        try:
            result = pass_fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        t0 = time.perf_counter()
        try:
            summary = result.summary()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        finally:
            self.check_s += time.perf_counter() - t0
        problems, digest = check_output(summary, self.input_rows, self.k, self.ref_digest)
        if problems:
            print("pass failed its output check: " + "; ".join(problems), file=sys.stderr)
            self.failed += 1
            return None
        if self.ref_digest is None:
            self.ref_digest = digest
        return result
