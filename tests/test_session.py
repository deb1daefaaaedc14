"""Launch settings of the engine's driver JVM (session.get_spark)."""

import json
import os
import subprocess
import sys

C1_ONLY = "-XX:TieredStopAtLevel=1"


def test_driver_jvm_runs_c1_only(spark):
    mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    assert C1_ONLY in [str(a) for a in mx.getInputArguments()]


def test_caller_java_options_add_to_c1_only():
    """A caller's spark.driver.extraJavaOptions (the benchmark harness,
    a deployer) must reach the JVM beside the C1-only flag, not replace
    it. The JVM starts once per process, so this needs its own."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    probe = (
        "import json, sys\n"
        f"sys.path.insert(0, {root!r})\n"
        "from sparrow_spark.session import get_spark\n"
        "spark = get_spark('sparrow-session-probe', master='local[1]',\n"
        "    extra_conf={'spark.driver.extraJavaOptions': '-Dsparrow.probe=1',\n"
        "                'spark.driver.memory': '512m'})\n"
        "mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()\n"
        "print(json.dumps([str(a) for a in mx.getInputArguments()]))\n"
        "spark.stop()\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    ).stdout
    args = json.loads(out.strip().splitlines()[-1])
    assert C1_ONLY in args
    assert "-Dsparrow.probe=1" in args
