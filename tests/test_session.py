"""Session policy: the driver JVM compiles with C1 only, and a caller's own
driver JVM options apply beside that flag rather than replacing it; the
default master runs one task thread per host core; shuffle partitions
default to the session's parallelism."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# runs in a fresh interpreter: JVM options only apply to the JVM a builder
# launches, and the test session's JVM is already up
PROBE = """
import json
from ta2_minmod_kg_spark.session import get_spark

spark = get_spark(
    app_name="session-probe",
    master="local[1]",
    extra_conf={"spark.driver.extraJavaOptions": "-Dkg.probe=1"},
)
rt = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(rt.getInputArguments())))
spark.stop()
"""


SHUFFLE_PROBE = """
import json
from ta2_minmod_kg_spark.session import get_spark

spark = get_spark(app_name="session-probe", master="local[2]")
print(json.dumps(spark.conf.get("spark.sql.shuffle.partitions")))
spark.stop()
"""


def _probe(code: str):
    """Run ``code`` in a fresh interpreter, with ``SPARK_GRAFT_CPUS`` and
    ``SPARK_GRAFT_MASTER`` unset, and return the JSON value its last
    stdout line holds."""
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    env.pop("SPARK_GRAFT_CPUS", None)
    env.pop("SPARK_GRAFT_MASTER", None)
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_driver_jvm_is_c1_only_and_keeps_caller_options():
    args = _probe(PROBE)
    assert "-XX:TieredStopAtLevel=1" in args, args
    assert "-Dkg.probe=1" in args, args


def test_shuffle_partitions_default_to_session_parallelism():
    """With neither ``shuffle_partitions`` nor ``SPARK_GRAFT_CPUS`` given,
    a ``local[2]`` session shuffles into 2 partitions, not a fixed 32."""
    assert _probe(SHUFFLE_PROBE) == "2"


CORES_PROBE = """
import json
from ta2_minmod_kg_spark.session import get_spark

spark = get_spark(app_name="session-probe")
print(json.dumps(spark.sparkContext.defaultParallelism))
spark.stop()
"""


def test_default_master_uses_the_host_cores():
    """With neither ``SPARK_GRAFT_MASTER`` nor ``SPARK_GRAFT_CPUS`` set,
    the session runs one task thread per host core, not a fixed 32."""
    assert _probe(CORES_PROBE) == os.cpu_count()
