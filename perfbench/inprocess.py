"""Oracle and kernel timings in this process, on one core, without Spark."""

from __future__ import annotations

import time
from collections import defaultdict

import pyarrow as pa

REPS = 5


def _batch(turns: list[dict]) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict({
        "conv_id": [t["conv_id"] for t in turns],
        "turn_idx": pa.array([t["turn_idx"] for t in turns], pa.int32()),
        "role": [t["role"] for t in turns],
        "text": [t["text"] for t in turns],
        "tool": [t["tool"] for t in turns],
    })


def measure(turns: list[dict]) -> dict[str, float]:
    """Per-family oracle µs per turn, the lean kernel's turns/s on the
    same turns as one Arrow batch, and the share of kernel time that is
    not oracle time (the Arrow conversion and assembly around it)."""
    from batukh_spark.kernels import extract_turns_lean
    from batukh_spark.oracle.extract import extract

    per_family: dict[str, list[float]] = defaultdict(list)
    oracle_total, kernel_total = [], []
    batch = _batch(turns)
    for _ in range(REPS):
        spent: dict[str, float] = defaultdict(float)
        for t in turns:
            t0 = time.perf_counter()
            extract(t["text"], role=t["role"], tool=t["tool"])
            spent[t["family"]] += time.perf_counter() - t0
        for fam, s in spent.items():
            per_family[fam].append(s)
        oracle_total.append(sum(spent.values()))
        t0 = time.perf_counter()
        for _out in extract_turns_lean(iter([batch])):
            pass
        kernel_total.append(time.perf_counter() - t0)
    counts = defaultdict(int)
    for t in turns:
        counts[t["family"]] += 1
    # fastest repetition: the least disturbed by other work on the host
    out = {f"oracle.{fam}_us_per_turn":
           min(per_family[fam]) / counts[fam] * 1e6
           for fam in ("html", "pdf", "plain")}
    kernel = min(kernel_total)
    out["kernels.turns_per_s_1core"] = len(turns) / kernel
    out["kernels.arrow_overhead_share"] = 1.0 - min(oracle_total) / kernel
    return out
