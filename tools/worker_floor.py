"""Fixed Python cost of a Spark task: N identity `mapInArrow` tasks.

    PYTHONPATH=. python tools/worker_floor.py --tasks 64 [--rows 16384]
        [--cores 4] [--repeats 3]

Starts a `local[cores]` session, warms the Python workers up with one
untimed job, then times `--repeats` jobs of `--tasks` tasks each: an
identity `mapInArrow` over `spark.range(rows)` into the `noop` sink.
The identity function imports `batukh_spark` in the worker, as every
engine crossing does.  Prints one JSON line:

  python_cpu_s_per_task  median CPU-s (user+sys) of all `pyspark.daemon`
                         processes under this one (daemons, their
                         forked workers and reaped children) per task
  wall_s                 median wall time of one job
  daemons                `pyspark.daemon` process trees after the runs
                         (Spark keys worker pools by environment)

Linux only: CPU and processes are read from /proc.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

_TICK = os.sysconf("SC_CLK_TCK")


def _procs() -> dict[int, tuple[int, str, float, float]]:
    """pid -> (ppid, cmdline, own CPU s, reaped children's CPU s)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        own = (int(fields[11]) + int(fields[12])) / _TICK
        reaped = (int(fields[13]) + int(fields[14])) / _TICK
        out[int(d)] = (int(fields[1]), cmd, own, reaped)
    return out


def _daemon_tree() -> tuple[float, int]:
    """(CPU s of the `pyspark.daemon` processes under this process,
    number of daemons, i.e. of those whose parent is not one)."""
    procs = _procs()
    mine, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, v in procs.items() if v[0] in frontier}
        mine |= frontier
    py = {p for p in mine if "pyspark.daemon" in procs[p][1]}
    roots = {p for p in py if procs[p][0] not in py}
    cpu = sum(procs[p][2] for p in py) + sum(procs[p][3] for p in roots)
    return cpu, len(roots)


def _identity(batches):
    import batukh_spark  # noqa: F401  (what an engine crossing imports)
    yield from batches


def main(argv=None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--tasks", type=int, default=64)
    ap.add_argument("--rows", type=int, default=16384)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 4)
    ap.add_argument("--repeats", type=int, default=3)
    a = ap.parse_args(argv)

    from batukh_spark.session import get_spark
    spark = get_spark(app_name="worker-floor", cores=a.cores)
    df = spark.range(a.rows, numPartitions=a.tasks)
    job = df.mapInArrow(_identity, df.schema).write.format("noop")
    try:
        job.mode("overwrite").save()                   # fork the workers
        cpu, wall = [], []
        for _ in range(a.repeats):
            c0, t0 = _daemon_tree()[0], time.perf_counter()
            job.mode("overwrite").save()
            wall.append(time.perf_counter() - t0)
            cpu.append(_daemon_tree()[0] - c0)
        daemons = _daemon_tree()[1]
    finally:
        spark.stop()
    print(json.dumps({
        "tasks": a.tasks, "rows": a.rows, "cores": a.cores,
        "python_cpu_s_per_task": round(statistics.median(cpu) / a.tasks, 4),
        "wall_s": round(statistics.median(wall), 3),
        "daemons": daemons,
        "python_cpu_s": [round(c, 2) for c in cpu],
        "wall_s_runs": [round(w, 3) for w in wall]}))


if __name__ == "__main__":
    main()
