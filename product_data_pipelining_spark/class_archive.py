"""The driver JVM's persisted AppCDS class archive.

A fresh driver JVM loads about 10k Spark classes before it runs a job.
A dynamic AppCDS archive holds those classes pre-parsed, so a JVM that
maps it starts on about a third less CPU. JDK 17 builds one with
``-XX:ArchiveClassesAtExit`` (dumped when the JVM exits) and maps it
with ``-XX:SharedArchiveFile``; it has no ``-XX:+AutoCreateSharedArchive``
(JDK 19), so this module does that job:

- One archive per key, at
  ``${XDG_CACHE_HOME:-~/.cache}/product_data_pipelining_spark/cds/<key>.jsa``.
  The key hashes the JDK (``java.home`` and its ``release`` file), the
  ``$SPARK_HOME/jars`` listing (name, size, mtime) and the conf dirs on
  the classpath, so a new JDK or jar set trains a new archive.
- On a hit the JVM maps it. On a miss it trains
  ``<key>.<pid>.part``; the part is promoted with ``os.replace`` only
  after this process has seen its JVM exit 0 (it waits for the JVM at
  interpreter exit). A JVM killed mid-dump leaves a partial file, and a
  partial archive with an intact header crashes the JVM that maps it
  (SIGBUS), so no JVM ever reads a part. Promotion deletes other keys'
  archives and the parts of dead processes.
- The JVM refuses an archive while its classpath holds a non-empty
  directory, and Spark puts ``$SPARK_CONF_DIR`` (default
  ``$SPARK_HOME/conf``, templates only in a plain install) first on it.
  A conf dir that holds only ``*.template`` files, or does not exist, is
  swapped for an empty directory the engine owns. One that holds
  anything else (a deployment's ``spark-defaults.conf``,
  ``log4j2.properties``) is left alone and the JVM starts without an
  archive. ``HADOOP_CONF_DIR`` and ``YARN_CONF_DIR``, when set, follow
  the same rule.
- A cache dir that cannot be written also starts the JVM without one.
- CDS messages go to stderr, never stdout (a JVM whose classpath does not
  match the archive prints a warning and starts without it).

The first run pays for training: about 4 s more set-up CPU and a
single-threaded dump of about 12 s while the JVM exits (4 cores, JDK
17.0.20, Spark 4.1.2; perfbench trains a 175 MB archive). Delete the
cache directory to drop the archive; the next session trains a new one.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
from pathlib import Path

from pyspark.find_spark_home import _find_spark_home

APP = "product_data_pipelining_spark"
# an empty stdout config for the cds tags, then the default level on stderr
_LOG = "-Xlog:cds*=off -Xlog:cds*=warning:stderr"
_MAP, _TRAIN = "-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit="
ARCHIVE_FLAGS = (_MAP, _TRAIN, "-Xlog:cds")
_CONF_VARS = ("SPARK_CONF_DIR", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
_EXIT_WAIT_S = 600  # a dump is seconds; a JVM still alive then is hung

# the part this process's JVM trains, if any: one per process, because
# the part is named by pid and is promoted only at interpreter exit
_training: Path | None = None


def cache_dir() -> Path:
    base = os.environ.get("XDG_CACHE_HOME") or Path.home() / ".cache"
    return Path(base) / APP


def _java_home() -> Path | None:
    """The JDK that Spark's launcher runs: ``$JAVA_HOME``, else ``java``
    on the PATH (``bin/spark-class``)."""
    if os.environ.get("JAVA_HOME"):
        return Path(os.environ["JAVA_HOME"])
    java = shutil.which("java")
    return Path(os.path.realpath(java)).parents[1] if java else None


def _holds_config(d: Path) -> bool:
    """Whether a conf dir holds anything but ``*.template`` files (one
    that cannot be listed is left alone too)."""
    try:
        return any(not e.name.endswith(".template") for e in d.iterdir())
    except FileNotFoundError:
        return False
    except OSError:
        return True


def _key(java_home: Path, jars: Path, conf_vars: list[str]) -> str:
    h = hashlib.sha256()
    h.update(str(java_home.resolve()).encode())
    h.update((java_home / "release").read_bytes())
    for jar in sorted(jars.iterdir()):
        st = jar.stat()
        h.update(f"\0{jar.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    h.update("\0".join(conf_vars).encode())
    return h.hexdigest()[:16]


def launch_options() -> str:
    """The archive flags for a driver JVM this process is about to
    launch, or ``""`` when it cannot use an archive (module docstring).

    Points the templates-only conf dirs at the engine's empty one in
    ``os.environ``, which the launcher inherits."""
    global _training
    spark_home = _find_spark_home()
    conf = {v: os.environ[v] for v in _CONF_VARS if os.environ.get(v)}
    conf.setdefault("SPARK_CONF_DIR", os.path.join(spark_home, "conf"))
    java_home = _java_home()
    if java_home is None or any(_holds_config(Path(d)) for d in conf.values()):
        return ""
    cds, empty = cache_dir() / "cds", cache_dir() / "spark-conf"
    try:
        cds.mkdir(parents=True, exist_ok=True)
        empty.mkdir(exist_ok=True)
        key = _key(java_home, Path(spark_home) / "jars", sorted(conf))
    except OSError:
        return ""
    if not os.access(cds, os.W_OK):
        return ""
    os.environ.update(dict.fromkeys(conf, str(empty)))
    archive = cds / f"{key}.jsa"
    if archive.is_file():
        return f"{_MAP}{archive} {_LOG}"
    if _training is not None:  # this process already trains one
        return ""
    _training = cds / f"{key}.{os.getpid()}.part"
    return f"{_TRAIN}{_training} {_LOG}"


def promote_at_exit(proc: subprocess.Popen | None, options: str) -> None:
    """If ``proc``, the JVM just launched with ``options`` (from
    :func:`launch_options`), trains an archive, promote it once the JVM
    has exited 0. Runs at interpreter exit, closing the JVM's stdin
    first (the gateway JVM exits when it closes), so no JVM is still
    dumping after Python exits."""
    for o in options.split():
        if o.startswith(_TRAIN) and proc is not None:
            atexit.register(_promote, proc, Path(o[len(_TRAIN):]))


def _promote(proc: subprocess.Popen, part: Path) -> None:
    if proc.poll() is None:
        proc.stdin.close()
        try:
            proc.wait(timeout=_EXIT_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or not part.is_file():
        part.unlink(missing_ok=True)
        return
    key = part.name.split(".", 1)[0]
    os.replace(part, part.with_name(f"{key}.jsa"))
    for f in part.parent.iterdir():
        if (f.suffix == ".jsa" and f.stem != key) or (
                f.suffix == ".part" and not _alive(f.name.split(".")[1])):
            f.unlink(missing_ok=True)


def _alive(pid: str) -> bool:
    try:
        os.kill(int(pid), 0)
    except (ValueError, ProcessLookupError):
        return False
    except PermissionError:  # another user's process
        pass
    return True


def state(jvm) -> str:
    """``mapped`` | ``training`` | ``off``: whether the live driver JVM
    maps an archive (seen in its memory map, so a refused archive reads
    ``off``), is training one, or runs without."""
    args = list(jvm.java.lang.management.ManagementFactory
                .getRuntimeMXBean().getInputArguments())
    if any(a.startswith(_TRAIN) for a in args):
        return "training"
    mapped = [a[len(_MAP):] for a in args if a.startswith(_MAP)]
    if not mapped:
        return "off"
    pid = jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(f"/proc/{pid}/maps") as f:
            return "mapped" if mapped[0] in f.read() else "off"
    except OSError:  # no procfs: trust the flag
        return "mapped"
