"""Round-7 optimization harness (bench.py is FROZEN for measurement —
this file exists so plan capture and noop-sink isolation never touch
the driver's timing contract).

Usage:
  python bench_extra.py time  [reps] [query ...]   noop-sink per-query wall
  python bench_extra.py plan  <tag> [query ...]    write plans/r07/<q>_<tag>.txt

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PLAN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "plans", "r07")


def get_spark():
    from batukh_spark.session import get_spark as gs
    spark = gs(app_name="bench-extra", cores=CPUS,
               shuffle_partitions=CPUS * 2)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def explain_str(df, mode: str = "formatted") -> str:
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    m = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return jdf.queryExecution().explainString(m)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def cmd_time(reps: int, names: list[str]) -> None:
    from batukh_spark.queries import QUERIES
    spark = get_spark()
    names = names or list(QUERIES)
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(reps):
        for n in names:
            fn, _sql = QUERIES[n]
            spark.sparkContext.setJobDescription(n)
            t0 = time.time()
            noop(fn(spark, SF_DIR))
            samples[n].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    out = {n: {"median": round(statistics.median(s), 3), "samples": s}
           for n, s in samples.items()}
    print(json.dumps(out, indent=1))
    spark.stop()


def cmd_plan(tag: str, names: list[str]) -> None:
    from batukh_spark.queries import QUERIES
    spark = get_spark()
    os.makedirs(PLAN_DIR, exist_ok=True)
    names = names or list(QUERIES)
    for n in names:
        fn, _sql = QUERIES[n]
        try:
            df = fn(spark, SF_DIR)
            txt = explain_str(df)
        except Exception as e:  # noqa: BLE001 - report and continue
            txt = f"EXPLAIN FAILED: {e}"
        path = os.path.join(PLAN_DIR, f"{n}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
    spark.stop()


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    cmd = sys.argv[1]
    if cmd == "time":
        reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
        cmd_time(reps, sys.argv[3:])
    elif cmd == "plan":
        cmd_plan(sys.argv[2], sys.argv[3:])
    else:
        print(__doc__)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
