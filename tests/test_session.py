"""The session profiles' JIT posture: a batch-profile driver JVM is
launched C1-only with the tiered 240 MiB code cache, a serving-profile one
keeps full tiered compilation, a batch job that passes ``TIERED_JIT`` gets
full tiered compilation back, and no posture drops a caller's own
``spark.driver.extraJavaOptions`` (perfbench passes some).

Every profile also starts the driver JVM from the persisted class archive
(``class_archive``): the first session trains it, later ones map it, and
a bad archive, a real conf dir or two concurrent first sessions still
start a working session. Each archive test runs its sessions in child
processes with ``XDG_CACHE_HOME`` under ``tmp_path``."""

from __future__ import annotations

import inspect
import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

from product_data_pipelining_spark import class_archive, session

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


TRAIN = "-XX:ArchiveClassesAtExit={part} -Xlog:cds*=off -Xlog:cds*=warning:stderr"


@pytest.mark.parametrize("aqe, extra, launching, want", [
    ("1", None, True, f"{session.BATCH_JAVA_OPTIONS} {TRAIN}"),
    ("1", session.TIERED_JIT, True, TRAIN),
    ("0", None, True, TRAIN),
    ("1", None, False, session.BATCH_JAVA_OPTIONS),
    ("0", None, False, None),
], ids=["batch", "batch-tiered-jit", "serving", "batch-running-jvm",
        "serving-running-jvm"])
def test_profile_sets_the_driver_jit_flags(monkeypatch, tmp_path, aqe, extra,
                                           launching, want):
    """A session that launches its JVM on an empty cache adds the
    archive's training flags to the profile's JIT flags; one that reuses
    a running JVM sets the JIT flags alone (they are not applied)."""
    monkeypatch.setenv("SPARK_GRAFT_AQE", aqe)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    for var in ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(class_archive, "_training", None)
    monkeypatch.setattr(session, "SparkSession",
                        SimpleNamespace(builder=_RecordingBuilder()))
    monkeypatch.setattr(session, "SparkContext", SimpleNamespace(
        _gateway=None if launching else object()))
    conf = session.get_spark(cpus=1, extra_conf=extra)
    part = class_archive._training
    if launching:
        assert part.parent == tmp_path / class_archive.APP / "cds"
        assert re.fullmatch(rf"[0-9a-f]{{16}}\.{os.getpid()}\.part", part.name)
        assert os.environ["SPARK_CONF_DIR"] == str(
            tmp_path / class_archive.APP / "spark-conf")
    else:
        assert part is None
    want = want and want.format(part=part)
    assert conf.get("spark.driver.defaultJavaOptions") == want


# A fresh JVM in a child process: the archive flags apply at launch, and
# the archive is promoted when the child exits.
_ARCHIVE_CHILD = f"""
import json, sys
sys.path.insert(0, {str(ROOT)!r})
from product_data_pipelining_spark.session import get_spark, jvm_posture
s = get_spark(app_name="pdp-archive", cpus=1, extra_conf=json.loads(sys.argv[1]))
rt = s._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps({{
    "count": s.range(10).count(),
    "probe": s.sparkContext.getConf().get("spark.pdp.probe", None),
    "args": list(rt.getInputArguments()),
    **jvm_posture(s.sparkContext),
}}))
s.stop()
"""


def _archive_child(cache: Path, conf: dict | None = None, **env) -> subprocess.Popen:
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_DRIVER_MEM="1g",
               SPARK_GRAFT_AQE="1", **env)
    return subprocess.Popen(
        [sys.executable, "-c", _ARCHIVE_CHILD, json.dumps(conf or {})],
        env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def _session_report(proc: subprocess.Popen) -> dict:
    """The child's one stdout line: no CDS message may reach stdout."""
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, err[-3000:]
    lines = out.splitlines()
    assert len(lines) == 1, out
    report = json.loads(lines[0])
    assert report["count"] == 10
    return report


def _cds_files(cache: Path) -> list[str]:
    cds = cache / class_archive.APP / "cds"
    return sorted(f.name for f in cds.iterdir()) if cds.is_dir() else []


@pytest.fixture(scope="module")
def trained_archive(tmp_path_factory) -> Path:
    """A cache trained by one first session; returns its archive."""
    cache = tmp_path_factory.mktemp("cache")
    report = _session_report(_archive_child(cache))
    assert report["class_archive"] == "training"
    assert report["driver_java_options"] == session.BATCH_JAVA_OPTIONS
    (name,) = _cds_files(cache)
    assert name.endswith(".jsa")
    return cache / class_archive.APP / "cds" / name


def test_first_session_trains_the_archive_and_the_next_maps_it(
        trained_archive, tmp_path):
    log = tmp_path / "class-load.txt"
    report = _session_report(_archive_child(
        trained_archive.parents[2],
        {"spark.driver.extraJavaOptions": f"-Xlog:class+load:file={log}"}))
    assert report["class_archive"] == "mapped"
    assert _cds_files(trained_archive.parents[2]) == [trained_archive.name]
    assert "org.apache.spark.SparkContext source: shared objects file (top)" \
        in log.read_text()


@pytest.mark.parametrize("kind", ["junk", "header-zeroed", "other-classpath"])
def test_a_bad_archive_at_the_key_path_still_starts(trained_archive, tmp_path, kind):
    """The JVM falls back to a plain start. An archive trained by another
    cache dir is one of another classpath: the engine's empty conf dir
    sits first on it."""
    path = tmp_path / class_archive.APP / "cds" / trained_archive.name
    path.parent.mkdir(parents=True)
    if kind == "junk":
        path.write_bytes(b"not an archive" * 4096)
    else:
        shutil.copyfile(trained_archive, path)
        if kind == "header-zeroed":
            with open(path, "r+b") as f:
                f.write(bytes(4096))
    report = _session_report(_archive_child(tmp_path))
    assert report["class_archive"] == "off"
    assert any(a.startswith("-XX:SharedArchiveFile=") for a in report["args"])


def test_a_real_conf_dir_is_kept_and_starts_without_an_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.pdp.probe kept\n")
    report = _session_report(_archive_child(tmp_path / "cache",
                                            SPARK_CONF_DIR=str(conf)))
    assert report["probe"] == "kept"
    assert report["class_archive"] == "off"
    assert not [a for a in report["args"] if a.startswith(class_archive.ARCHIVE_FLAGS)]
    assert _cds_files(tmp_path / "cache") == []


def test_two_concurrent_first_sessions_leave_one_archive(tmp_path):
    children = [_archive_child(tmp_path) for _ in range(2)]
    reports = [_session_report(c) for c in children]
    assert [r["class_archive"] for r in reports] == ["training"] * 2
    (name,) = _cds_files(tmp_path)
    assert name.endswith(".jsa")
