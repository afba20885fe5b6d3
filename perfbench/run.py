"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_files --seed 1 \
        --seconds 14 --trace 0

Runs one workload of BENCHMARK.json in a local[N] Spark session, N being
SPARK_GRAFT_CPUS or else the number of usable cores, checks every result,
and prints as its last stdout line one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`; with `--trace 1` the per-layer metrics, taken from one more,
traced pass.  Everything it writes goes under `.perfbench_work/` in the
checkout; `.perfbench_work/runs/` keeps each run's record.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _metric_units(kind: str) -> dict[str, str]:
    """Names and units of the `end_to_end` or `per_layer` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _cores() -> int:
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def _environment(work: str) -> None:
    """Python workers import the engine from the checkout; timestamps
    compare in UTC, as the DuckDB gate does; temp files stay in `work`
    (no JVM writes its perf-data file under /tmp)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    java = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ.update(PYTHONPATH=os.pathsep.join(paths), TZ="UTC",
                      TMPDIR=tmp,
                      JAVA_TOOL_OPTIONS=f"{java} -XX:-UsePerfData".strip())
    time.tzset()


def run_once(workload: str, seed: int, seconds: float, traced: bool):
    from perfbench import inprocess, inputs, workloads

    run = workloads.Run(workload, seed, seconds, traced, ROOT, _cores())
    warm_up, body = workloads.WORKLOADS[workload]
    try:
        run.setup(warm_up)
        body(run)
    finally:
        run.spans.unwrap_all()
        run.stop()
    if traced:
        run.trace_layers()
        run.layers.update(inprocess.measure(inputs.oracle_sample(seed)))
    return run


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "batukh_spark")):
        print(f"perfbench: no batukh_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import procstat, workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    _environment(work)
    # a TERM unwinds like an error, so the session and the JVM are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return _measure(args, work)
    finally:
        # whatever path leads out, no process started here outlives the run
        procstat.stop_descendants()


def _measure(args, work: str) -> int:
    run = run_once(args.workload, args.seed, args.seconds, bool(args.trace))
    e2e = run.end_to_end()
    values, kind = (run.layers, "per_layer") if args.trace \
        else (e2e, "end_to_end")
    metrics = {k: {"value": values[k], "unit": u}
               for k, u in _metric_units(kind).items()}

    record = os.path.join(work, "runs")
    os.makedirs(record, exist_ok=True)
    name = f"{args.workload}_s{args.seed}_t{args.trace}"
    with open(os.path.join(record, f"{name}.json"), "w") as f:
        json.dump({"info": run.info, "end_to_end": e2e, "passes": run.passes,
                   "traced_pass": run.traced_pass, "layers": run.layers,
                   "failures": run.tally.failures}, f, indent=1)
    if args.trace:
        run.spans.write(os.path.join(record, f"{name}_spans.json"),
                        {"layers": run.layers})

    tally = run.tally
    summary = dict(e2e, failed_share=tally.failed_share)
    if "turns" in run.info:
        summary["turns_per_s"] = run.info["turns"] / e2e["wall_s"]
    corpus = run.info.get("corpus", {})
    print(f"perfbench {args.workload} seed={args.seed} "
          f"passes={len(run.passes)} input_rows={corpus.get('rows')} "
          f"input_text_bytes={corpus.get('text_bytes')} "
          + " ".join(f"{k}={v:.4g}" for k, v in summary.items()))
    for failure in tally.failures:
        print(f"FAILED: {failure}")
    print(json.dumps({"correct": tally.failed == 0,
                      "attempted": tally.attempted, "failed": tally.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
