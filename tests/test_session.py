"""The session profiles' JIT posture: a batch-profile driver JVM is
launched C1-only with the tiered 240 MiB code cache, a serving-profile one
keeps full tiered compilation, a batch job that passes ``TIERED_JIT`` gets
full tiered compilation back, and no posture drops a caller's own
``spark.driver.extraJavaOptions`` (perfbench passes some)."""

from __future__ import annotations

import inspect
import json
import os
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

from product_data_pipelining_spark import session

C1_ONLY = "-XX:TieredStopAtLevel=1"
CALLER_OPT = "-Dpdp.caller=1"
CODE_CACHE = str(240 * 1024 * 1024)  # the tiered default; C1-only's is 48 MiB
ROOT = Path(__file__).resolve().parents[1]


def jvm_posture(jvm) -> tuple[list[str], str]:
    """The driver JVM's launch arguments and its code cache size."""
    mf = jvm.java.lang.management.ManagementFactory
    diag = mf.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    return (list(mf.getRuntimeMXBean().getInputArguments()),
            diag.getVMOption("ReservedCodeCacheSize").getValue())


# one fresh JVM per profile: the posture is fixed when the JVM launches
_CHILD = inspect.getsource(jvm_posture) + f"""
import json, sys
sys.path.insert(0, {str(ROOT)!r})
from product_data_pipelining_spark.session import get_spark
s = get_spark(app_name="pdp-posture", cpus=1,
              extra_conf={{"spark.driver.extraJavaOptions": {CALLER_OPT!r}}})
print(json.dumps(jvm_posture(s._jvm)))
s.stop()
"""


def test_session_jvm_posture_follows_its_profile(spark):
    """The conftest session runs in whichever profile the shell selects:
    batch by default, serving when ``SPARK_GRAFT_AQE=0`` is exported."""
    args, code_cache = jvm_posture(spark._jvm)
    batch = os.environ.get("SPARK_GRAFT_AQE", "1") != "0"
    assert (C1_ONLY in args) is batch
    if batch:
        assert code_cache == CODE_CACHE


@pytest.mark.parametrize("aqe, c1_only", [("0", False), ("1", True)],
                         ids=["serving", "batch"])
def test_profile_jit_posture_keeps_caller_java_options(aqe, c1_only):
    env = dict(os.environ, SPARK_GRAFT_AQE=aqe, SPARK_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, "-c", _CHILD], env=env, capture_output=True,
        text=True, check=True, timeout=300,
    ).stdout
    args, code_cache = json.loads(out.strip().splitlines()[-1])
    assert CALLER_OPT in args
    assert (C1_ONLY in args) is c1_only
    if c1_only:
        assert code_cache == CODE_CACHE


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the confs that
    ``get_spark`` sets and returns them instead of launching a JVM."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def master(self, _):
        return self

    def appName(self, _):  # noqa: N802 — pyspark's builder method name
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):  # noqa: N802
        return self.conf


@pytest.mark.parametrize("aqe, extra, want", [
    ("1", None, session.BATCH_JAVA_OPTIONS),
    ("1", session.TIERED_JIT, ""),
    ("0", None, None),
], ids=["batch", "batch-tiered-jit", "serving"])
def test_profile_sets_the_driver_jit_flags(monkeypatch, aqe, extra, want):
    monkeypatch.setenv("SPARK_GRAFT_AQE", aqe)
    monkeypatch.setattr(session, "SparkSession",
                        SimpleNamespace(builder=_RecordingBuilder()))
    conf = session.get_spark(cpus=1, extra_conf=extra)
    assert conf.get("spark.driver.defaultJavaOptions") == want
