"""The session defaults that are not query semantics: the driver JVM's
compiler and PySpark's call-site capture (see `aci_export_spark.session`)."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import textwrap

from pyspark.errors.utils import is_debugging_enabled

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_jvm_runs_c1_and_keeps_caller_java_options():
    """The C1-only flags reach the driver JVM, and a caller's own
    `spark.driver.extraJavaOptions` (perfbench sets `-Xms`) is kept beside
    it. Runs in its own process: the JVM options apply only at launch."""
    script = textwrap.dedent("""
        from aci_export_spark.session import get_spark

        spark = get_spark("session-jvm-options", master="local[1]",
                          extra_conf={"spark.driver.extraJavaOptions": "-Xms256m"})
        mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        print("ARGS", list(mx.getRuntimeMXBean().getInputArguments()))
        spark.stop()
    """)
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    done = subprocess.run([sys.executable, "-c", script], cwd=REPO, env=env,
                          capture_output=True, text=True, timeout=300)
    assert done.returncode == 0, done.stderr[-2000:]
    line = next(l for l in done.stdout.splitlines() if l.startswith("ARGS "))
    args = ast.literal_eval(line[len("ARGS "):])
    assert "-XX:TieredStopAtLevel=1" in args, args
    assert "-XX:ReservedCodeCacheSize=240m" in args, args
    assert "-Xms256m" in args, args


def test_call_site_capture_is_off(spark):
    """PySpark records no Python call site per Column function: it reads
    the conf once per process, from the first active session."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
