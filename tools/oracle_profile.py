"""Python profile of the extraction kernel on one core, without Spark.

    PYTHONPATH=. python tools/oracle_profile.py [--seed 1601] [--reps 5]

Rebuilds the `extract_files` benchmark corpus of `--seed` in this
process (the conversations `perfbench.inputs.draw_conversations` picks,
each turn from `synth.make_turn`, no Spark), pins the process to one
core and prints one JSON line:

  turns                  turns in the corpus, and `families` per family
  oracle_us_per_turn     per family (html, pdf, plain, empty) and
                         `all`: `oracle.extract` time per turn, fastest
                         of `--reps` passes over every turn
  kernel_turns_per_s     `kernels.extract_turns_lean` over the whole
                         corpus as one Arrow batch, fastest of `--reps`
  top_self               the 15 functions by self time under
                         cProfile, over one kernel pass on every
                         third turn

Only reads `perfbench`; it writes nothing.
"""

from __future__ import annotations

import argparse
import cProfile
import json
import os
import pstats
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

_FAMILY = {"html": "html", "pdf_layout": "pdf", "plain": "plain",
           "empty": "empty"}
TOP = 15
PROFILE_EVERY = 3


def corpus_turns(seed: int) -> list[dict]:
    """Every turn of seed's `extract_files` corpus, in file-draw order."""
    from batukh_spark import synth
    from perfbench import inputs
    return [synth.make_turn(ci, ti, seed=inputs.POOL_SEED)
            for ci in inputs.draw_conversations(seed)
            for ti in range(synth.turns_in_conv(
                ci, seed=inputs.POOL_SEED, mega_turns=inputs.MEGA_TURNS))]


def _batch(turns: list[dict]):
    import pyarrow as pa
    return pa.RecordBatch.from_pydict({
        "conv_id": [t["conv_id"] for t in turns],
        "turn_idx": pa.array([t["turn_idx"] for t in turns], pa.int32()),
        "role": [t["role"] for t in turns],
        "text": [t["text"] for t in turns],
        "tool": [t["tool"] for t in turns],
    })


def _kernel_pass(batch) -> float:
    from batukh_spark.kernels import extract_turns_lean
    t0 = time.perf_counter()
    for _ in extract_turns_lean(iter([batch])):
        pass
    return time.perf_counter() - t0


def _top_self(batch) -> list[dict]:
    prof = cProfile.Profile()
    prof.enable()
    _kernel_pass(batch)
    prof.disable()
    stats = pstats.Stats(prof).stats
    rows = sorted(stats.items(), key=lambda kv: -kv[1][2])[:TOP]
    return [{"func": f"{os.path.basename(fn)}:{line}({name})",
             "calls": nc, "self_s": round(tt, 4), "cum_s": round(ct, 4)}
            for (fn, line, name), (_cc, nc, tt, ct, _callers) in rows]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1601)
    ap.add_argument("--reps", type=int, default=5)
    args = ap.parse_args(argv)
    os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})

    from batukh_spark.oracle.extract import detect_family, extract
    turns = corpus_turns(args.seed)
    fams = [_FAMILY[detect_family(t["text"])] for t in turns]
    calls = [(t["text"], t["role"], t["tool"]) for t in turns]
    counts: dict[str, int] = defaultdict(int)
    for f in fams:
        counts[f] += 1

    best: dict[str, float] = {}
    best_all = float("inf")
    clock = time.perf_counter
    for _ in range(args.reps):
        spent: dict[str, float] = defaultdict(float)
        for fam, (text, role, tool) in zip(fams, calls):
            t0 = clock()
            extract(text, role=role, tool=tool)
            spent[fam] += clock() - t0
        for fam, s in spent.items():
            best[fam] = min(best.get(fam, s), s)
        best_all = min(best_all, sum(spent.values()))
    us = {fam: round(best[fam] / counts[fam] * 1e6, 2) for fam in counts}
    us["all"] = round(best_all / len(turns) * 1e6, 2)

    batch = _batch(turns)
    kernel_s = min(_kernel_pass(batch) for _ in range(args.reps))
    print(json.dumps({
        "seed": args.seed, "turns": len(turns), "families": dict(counts),
        "reps": args.reps, "oracle_us_per_turn": us,
        "kernel_turns_per_s": round(len(turns) / kernel_s, 1),
        "top_self": _top_self(_batch(turns[::PROFILE_EVERY])),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
