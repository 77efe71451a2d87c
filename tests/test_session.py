"""The session factory's JVM policy: the JIT flag reaches every driver
JVM whatever ``extraJavaOptions`` a caller passes, and the default driver
heap fits the memory the process may use."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from pdf_ocr_comparison_tool_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a fresh driver JVM started the way perfbench starts its own:
# with a caller-set extraJavaOptions
_PROBE = """
import json
from pdf_ocr_comparison_tool_spark.session import get_spark
spark = get_spark(app_name="session-probe", cores="1",
                  extra_conf={"spark.driver.extraJavaOptions": "-Dgraft.probe=1"})
jvm = spark.sparkContext._jvm
print(json.dumps({
    "args": list(jvm.java.lang.management.ManagementFactory
                 .getRuntimeMXBean().getInputArguments()),
}))
spark.stop()
"""


@pytest.fixture(scope="module")
def probe() -> dict:
    # a small heap: this JVM runs beside the suite's shared one
    env = {**os.environ, "SPARK_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _PROBE], cwd=ROOT, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_shared_session_jvm_runs_jit_policy(spark):
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    assert session.JIT_POLICY in list(bean.getInputArguments())
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.driver.defaultJavaOptions") == session.JIT_POLICY


def test_caller_extra_java_options_keep_jit_policy(probe):
    assert "-Dgraft.probe=1" in probe["args"]
    assert session.JIT_POLICY in probe["args"]


def _mib(mem: str) -> int:
    assert mem.endswith("m")
    return int(mem[:-1])


def test_default_driver_memory_fits_host():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert _mib(session._default_driver_memory()) * 2**20 <= phys // 2


def test_default_driver_memory_follows_cgroup_limit(tmp_path, monkeypatch):
    limit = tmp_path / "memory.max"
    limit.write_text(f"{2 * 2**30}\n")
    monkeypatch.setattr(session, "_CGROUP_LIMITS", (str(limit),))
    assert session._default_driver_memory() == "1024m"
    limit.write_text("max\n")
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert _mib(session._default_driver_memory()) == phys // 2 // 2**20
