"""CPU of the session's JVM by thread class over a cold capstone pass.

    PYTHONPATH=. python tools/jvm_threads.py [--seed 1201] [--cores 4]
        [--work .perfbench_work]

Starts a `local[cores]` session with `get_spark`, warms it up as the
benchmark's `train_capstones` workload does (every Python worker forked,
then its four warm-up registry queries over a small documents table),
then runs the two capstones, `training_batches` and `sft_mix`, each for
the first time in the process, through the registry to a collected
result.  Inputs are the benchmark's seeded tables, made under `--work`
if they are not there yet.  Prints one JSON line with the JVM's CPU-s
(user+sys) per thread class, for the setup (session start and warm-up)
and for the capstone pass:

  c1_compiler   `C1 CompilerThread*`
  c2_compiler   `C2 CompilerThread*`
  executor      `Executor task launch worker*`
  py4j          `Thread-N`: Catalyst planning on behalf of Python
  gc            `GC Thread*`, `G1 *`
  other         every other live thread
  exited        threads that ended inside the phase (the process's
                CPU minus its live threads'; HotSpot retires idle
                compiler threads)

Linux only: the JVM's pid comes from `ProcessHandle.current().pid()`
over py4j, its threads from /proc/<pid>/task/*/{comm,stat}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")
sys.path.insert(0, ROOT)

_TICK = os.sysconf("SC_CLK_TCK")
CLASSES = ("c1_compiler", "c2_compiler", "executor", "py4j", "gc", "other",
           "exited")


def _cpu_s(stat_path: str) -> float:
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def _thread_class(comm: str) -> str:
    if comm.startswith("C1 CompilerThr"):
        return "c1_compiler"
    if comm.startswith("C2 CompilerThr"):
        return "c2_compiler"
    if comm.startswith("Executor task"):
        return "executor"
    if comm.startswith("Thread-") and comm[7:].isdigit():
        return "py4j"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    return "other"


def snapshot(pid: int) -> tuple[float, dict[int, tuple[str, float]]]:
    """(process CPU s, tid -> (thread class, CPU s)) of a live JVM."""
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        base = f"/proc/{pid}/task/{tid}"
        try:
            with open(f"{base}/comm") as f:
                comm = f.read().strip()
            threads[int(tid)] = (_thread_class(comm), _cpu_s(f"{base}/stat"))
        except OSError:                      # the thread ended meanwhile
            continue
    return _cpu_s(f"/proc/{pid}/stat"), threads


def by_class(before, after) -> dict[str, float]:
    """CPU s per thread class between two snapshots; a thread that
    started between them counts from 0."""
    (p0, t0), (p1, t1) = before, after
    out = dict.fromkeys(CLASSES, 0.0)
    for tid, (cls, cpu) in t1.items():
        out[cls] += cpu - (t0[tid][1] if tid in t0 else 0.0)
    out["exited"] = (p1 - p0) - sum(out.values())
    out = {k: round(v, 2) for k, v in out.items()}
    out["total"] = round(p1 - p0, 2)
    return out


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1201)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 4)
    ap.add_argument("--work", default=os.path.join(ROOT, ".perfbench_work"))
    a = ap.parse_args(argv)

    from batukh_spark.queries import QUERIES
    from batukh_spark.session import get_spark
    from perfbench import inputs
    from perfbench.workloads import CAPSTONES, WARM_QUERIES

    warm_dir = inputs.ensure_capstone_warm(a.work)
    sf_dir, _ = inputs.ensure_capstone_tables(a.work, a.seed, a.cores)
    spark = get_spark(app_name="jvm-threads", cores=a.cores)
    try:
        pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        start = (0.0, {})                    # a JVM's CPU counts from 0
        df = spark.range(a.cores, numPartitions=a.cores)
        df.mapInArrow(lambda batches: batches, df.schema).collect()
        for name in WARM_QUERIES:
            QUERIES[name][0](spark, warm_dir).collect()
        warm = snapshot(pid)
        t0 = time.perf_counter()
        for name in CAPSTONES:
            QUERIES[name][0](spark, sf_dir).collect()
        wall = time.perf_counter() - t0
        done = snapshot(pid)
        args = list(spark._jvm.java.lang.management.ManagementFactory
                    .getRuntimeMXBean().getInputArguments())
    finally:
        spark.stop()
    print(json.dumps({
        "seed": a.seed, "cores": a.cores, "capstones_wall_s": round(wall, 2),
        "jit_flags": [x for x in args if "Tiered" in x or "Compiler" in x],
        "setup_cpu_s": by_class(start, warm),
        "capstones_cpu_s": by_class(warm, done)}))


if __name__ == "__main__":
    main()
