"""The session factory's driver JVM options: the JIT flags of
``session.DRIVER_JIT_FLAGS`` reach a local driver JVM, alongside a caller's
own ``--driver-java-options``."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from kf_task_fhir_etl_spark.session import DRIVER_JIT_FLAGS, TIER4_THRESHOLDS, driver_java_options

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JIT_FLAGS = DRIVER_JIT_FLAGS.split()


def _jvm_arguments(spark) -> list[str]:
    bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    return list(bean.getInputArguments())


def test_driver_jvm_runs_with_jit_flags(spark):
    """Two compiler threads, the fewest tiered compilation allows, and the
    four C2 thresholds at 5x the JDK 17 defaults."""
    args = _jvm_arguments(spark)
    assert "-XX:CICompilerCount=2" in JIT_FLAGS
    assert set(JIT_FLAGS) <= set(args), args
    assert TIER4_THRESHOLDS == {
        "Tier4InvocationThreshold": 5 * 5000,
        "Tier4MinInvocationThreshold": 5 * 600,
        "Tier4CompileThreshold": 5 * 15000,
        "Tier4BackEdgeThreshold": 5 * 40000,
    }


_PROBE = """
import json
from kf_task_fhir_etl_spark.session import get_spark

spark = get_spark("jvm-options-probe")
bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(bean.getInputArguments())))
spark.stop()
"""


def test_caller_driver_java_options_keep_jit_flags(tmp_path):
    """A caller's ``--driver-java-options`` sets ``extraJavaOptions``; the
    JIT flags live in ``defaultJavaOptions``, so the JVM carries both sets,
    the caller's last. Were the flags in ``extraJavaOptions``, the
    caller's options would replace them."""
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_SUBMIT_ARGS="--driver-java-options -XX:-UsePerfData pyspark-shell",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    args = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(JIT_FLAGS) <= set(args), args
    assert "-XX:-UsePerfData" in args
    assert max(args.index(f) for f in JIT_FLAGS) < args.index("-XX:-UsePerfData")


def test_cluster_master_keeps_site_java_options():
    """Only a ``local`` master gets the JIT flags; for any other the
    builder sets no ``defaultJavaOptions``, which would replace the ones a
    cluster sets in its ``spark-defaults.conf``."""
    for master in ("local", "local[4]", "local[*]", "local-cluster[2,1,1024]"):
        assert driver_java_options(master) == DRIVER_JIT_FLAGS
    for master in ("spark://head:7077", "yarn", "k8s://https://api:6443"):
        assert driver_java_options(master) is None
