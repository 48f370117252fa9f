"""Commit provenance for generated measurement artifacts.

Every probe/bench artifact embeds the output of :func:`provenance` so a
reader can reconcile its numbers with the exact tree they were measured
on — the r11 verdict flagged that BENCH_SF* mixed round-10 timing with
round-11 adjudication blocks and only prose recorded which was which.
The stamp is taken at WRITE time, so a multi-stage probe that rewrites
its artifact (bench legs, then correctness, then adjudication) stamps
each rewrite; a mixed-provenance artifact is visible from the stamps
alone.
"""

from __future__ import annotations

import datetime
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


# paths whose uncommitted changes make a measurement unreproducible;
# regenerated artifact JSONs / docs at the repo root are NOT code — a
# probe chain rewrites several artifacts before they are committed, and
# those must not flag the later probes' measurements as dirty
_CODE_PATHS = (
    "product_data_pipelining_spark", "scripts", "tests",
    "bench.py", "__spark_entry__.py",
)


def provenance() -> dict:
    """{"code_commit": ..., "code_dirty": ..., "measured_utc": ...} —
    degrade to "unknown" rather than fail a probe if git is unavailable.
    ``code_dirty`` covers only the measured-code paths (package, scripts,
    tests, bench, entry), not artifact/doc churn at the repo root.

    While this process has an active SparkContext, the stamp also names
    its driver JVM's posture (``session.jvm_posture``: the JIT flags as
    ``driver_java_options`` and ``class_archive``), so a record says
    whether it ran C1-only and from a class archive."""
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=REPO, capture_output=True, text=True, check=True,
        ).stdout.strip()
        dirty = bool(subprocess.run(
            ["git", "status", "--porcelain", "--", *_CODE_PATHS],
            cwd=REPO, capture_output=True, text=True, check=True,
        ).stdout.strip())
    except (OSError, subprocess.CalledProcessError):
        commit, dirty = "unknown", None
    return {
        "code_commit": commit,
        "code_dirty": dirty,
        "measured_utc": datetime.datetime.now(
            datetime.timezone.utc
        ).isoformat(timespec="seconds"),
        **_jvm_posture(),
    }


def _jvm_posture() -> dict:
    # a process that never built a session has no JVM to stamp (and
    # this module imports no pyspark for it)
    session = sys.modules.get("product_data_pipelining_spark.session")
    sc = session and session.SparkContext._active_spark_context
    return session.jvm_posture(sc) if sc else {}
