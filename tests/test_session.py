"""The driver JVM's JIT policy (``session.BUILDER_CONF``) is in effect.

Spark launches the driver with ``-XX:+IgnoreUnrecognizedVMOptions``, so a
misspelt flag would be dropped without a word: these tests read the values
HotSpot actually runs with, not the conf string.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

# JDK 17 HotSpot defaults of the tier-4 (C2) promotion thresholds; the
# policy raises each 4x
HOTSPOT_TIER4 = {
    "Tier4InvocationThreshold": 5000,
    "Tier4MinInvocationThreshold": 600,
    "Tier4CompileThreshold": 15000,
    "Tier4BackEdgeThreshold": 40000,
}


def _vm_options(jvm, names) -> dict[str, str]:
    bean_cls = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean_cls)
    return {n: bean.getVMOption(n).getValue() for n in names}


def test_driver_jvm_runs_with_tier4_policy(spark):
    got = _vm_options(spark.sparkContext._jvm, HOTSPOT_TIER4)
    assert got == {n: str(4 * v) for n, v in HOTSPOT_TIER4.items()}


_PROBE = """
import json, sys
sys.path.insert(0, sys.argv[1])
from fink_filters_spark.session import get_session
from tests.test_session import HOTSPOT_TIER4, _vm_options
spark = get_session("jit-policy-probe", cpus=1)
print(json.dumps(_vm_options(spark.sparkContext._jvm, [*HOTSPOT_TIER4, "UsePerfData"])))
spark.stop()
"""


def test_tier4_policy_survives_caller_extra_java_options(tmp_path):
    """A caller's ``spark.driver.extraJavaOptions`` (as the benchmark
    passes) keeps the policy and its own flag: both reach the JVM."""
    repo = str(Path(__file__).resolve().parent.parent)
    env = dict(
        os.environ,
        PYSPARK_SUBMIT_ARGS="--conf spark.driver.extraJavaOptions=-XX:-UsePerfData pyspark-shell",
        SPARK_DRIVER_MEMORY="1g",
        SPARK_LOCAL_DIRS=str(tmp_path),
    )
    p = subprocess.run(
        [sys.executable, "-c", _PROBE, repo], cwd=repo, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    got = json.loads(p.stdout.strip().splitlines()[-1])
    assert got.pop("UsePerfData") == "false"
    assert got == {n: str(4 * v) for n, v in HOTSPOT_TIER4.items()}
