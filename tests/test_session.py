"""The session factory's JIT policy: the driver JVM runs C1 only.

A caller's `spark.driver.extraJavaOptions` adds to the flag (Spark puts
the default options first), and Spark's own
`spark.driver.defaultJavaOptions` replaces it, which restores C2.  The
factory's flag applies only to a JVM it launches, so the caller cases
each start their own session in a subprocess."""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
C1_ONLY = "-XX:TieredStopAtLevel=1"

_PROBE = """
import json, sys
from batukh_spark.session import get_spark
s = get_spark(app_name="session-probe", cores=1,
              extra_conf=json.loads(sys.argv[1]))
print(json.dumps(list(s._jvm.java.lang.management.ManagementFactory
                      .getRuntimeMXBean().getInputArguments())))
s.stop()
"""


def _subprocess_jvm_args(extra_conf: dict) -> list[str]:
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, json.dumps(extra_conf)],
        capture_output=True, text=True, timeout=300, env=env, cwd=REPO)
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_driver_runs_c1_only(spark):
    assert C1_ONLY in list(spark._jvm.java.lang.management
                           .ManagementFactory.getRuntimeMXBean()
                           .getInputArguments())


def test_extra_java_options_add_to_the_flag():
    args = _subprocess_jvm_args(
        {"spark.driver.extraJavaOptions": "-Dbatukh.probe=1"})
    assert C1_ONLY in args
    assert "-Dbatukh.probe=1" in args


def test_default_java_options_restore_c2():
    args = _subprocess_jvm_args(
        {"spark.driver.defaultJavaOptions": "-Dbatukh.probe=2"})
    assert "-Dbatukh.probe=2" in args
    assert not any(a.startswith("-XX:TieredStopAtLevel") for a in args)
