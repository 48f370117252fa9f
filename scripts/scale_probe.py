#!/usr/bin/env python3
"""Scale probe: measure how the headline set scales from sf0.1 upward.

Generates a complete scaled directory with the deterministic distributed
generator (``sources/generator.py`` — schema-identical to the driver's
testdata, verified by ``test_generate_scale_matches_testdata_schemas``),
then runs ``bench.py`` back-to-back at the target SF and at sf0.1 under
identical machine conditions and records per-query scaling factors.
Unless ``--no-check``, the headline set is then value-checked against
its DuckDB oracles at the target SF by ``scripts/correctness_sweep.py``
(run as a child) and the verdicts stored as ``correctness_at_scale``.

Usage:  python scripts/scale_probe.py [--sf 1] [--dir /tmp/sfN] [--regen]
Writes: BENCH_SF{N}.json at the repo root (e.g. BENCH_SF1.json,
BENCH_SF5.json).

Reading the artifact: data grows (sf/0.1)x between the runs, so a query
at or under that factor in wall-time is linear-or-better; sort-based
operators (exact percentile) legitimately run at ~n log n. Each run
also carries its own in-process interleaved DuckDB baseline, so
``ratio_vs_duckdb`` stays contention-robust at every scale factor.
Rows whose bench-tail ratio exceeds 2x the baseline get a fresh-JVM
``isolated_adjudication`` block embedded in the artifact (also
available standalone via ``--adjudicate-only``), so the known
heap-carryover inflation of late in-context rows is reconciled in the
artifact itself rather than in source docstrings.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
TESTDATA_SF01 = "/root/testdata/sf0.1"

sys.path.insert(0, str(REPO / "scripts"))
from _posture import HEADLINE  # noqa: E402
from _provenance import provenance  # noqa: E402


def write_artifact(out_path: Path, artifact: dict) -> None:
    """Stamp commit provenance at WRITE time, then write. A probe that
    rewrites its artifact in stages (bench → correctness → adjudication)
    refreshes the stamp each time, so the artifact always names the
    tree its NEWEST block was measured on (r11 verdict ask #2)."""
    artifact["provenance"] = provenance()
    out_path.write_text(json.dumps(artifact, indent=2) + "\n")


def run_bench(sf_dir: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        env=env, capture_output=True, text=True, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


# Bench-tail rows above this Spark/DuckDB ratio get a fresh-JVM
# isolated re-measurement attached to the artifact: the bench context
# (one JVM, 30 queries back-to-back, warm caches) is the serving
# posture but its tail rows carry JVM heap-state carryover that
# isolated A/Bs have repeatedly disproved (r10: sim02 55.5 s tail vs
# 25.3 s isolated; a03 14.76 vs 8.43). The adjudication used to live
# in source docstrings only; the artifact a reader opens first should
# carry both numbers (r10 verdict ask #3).
ADJUDICATE_RATIO = 2.0


def attach_isolated_adjudication(artifact: dict, big_key: str,
                                 big_dir: str) -> None:
    """Re-measure every >2x bench-tail row in its own fresh JVM (via
    scripts/isolated_bench.py, one JVM + one DuckDB per query) and
    embed the adjudicated numbers beside the bench-tail ones."""
    big = artifact.get(big_key) or {}
    duck = big.get("duckdb_queries") or {}
    over = sorted(
        name for name, t in (big.get("queries") or {}).items()
        if duck.get(name) and t / duck[name] > ADJUDICATE_RATIO
    )
    # Rows with no (or zero) DuckDB baseline can't be ratio-screened;
    # name them so an empty `rows` dict reads as "nothing exceeded the
    # threshold among the BASELINED rows", not as a clean pass over
    # everything (ADVICE r11). The rows-only queries land here by
    # design (no oracle); a missing duckdb_queries key entirely means
    # the bench leg skipped the baseline.
    block: dict = {
        "threshold_ratio": ADJUDICATE_RATIO,
        "skipped_no_baseline": sorted(
            name for name in (big.get("queries") or {})
            if not duck.get(name)
        ),
        "methodology": (
            "bench_tail = this artifact's in-context row (one JVM runs "
            "the whole headline set; warm caches + heap carryover); "
            "isolated = scripts/isolated_bench.py (one fresh JVM + "
            "fresh DuckDB per query, same repeats/median rules). Rows "
            f"over {ADJUDICATE_RATIO}x vs the interleaved DuckDB "
            "baseline are re-measured isolated; judge the isolated "
            "ratio, the tail row keeps the serving-context number. "
            "For SUB-SECOND rows the ratio is the fixed per-job floor "
            "in BOTH contexts (isolated adds fresh-cache cost while "
            "DuckDB stays at ~10-40 ms) — FLOOR_PROBE.json is the "
            "evidence for those; the adjudication matters for the "
            "multi-second rows, where it removes heap carryover."
        ),
        "rows": {},
    }
    if over:
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=big_dir)
        proc = subprocess.run(
            [sys.executable, str(REPO / "scripts" / "isolated_bench.py"),
             "--queries", ",".join(over)],
            env=env, capture_output=True, text=True,
        )
        lines = [ln for ln in proc.stdout.splitlines()
                 if ln.startswith("{")]
        if proc.returncode != 0 or not lines:
            block["error"] = (
                f"isolated_bench failed rc={proc.returncode}: "
                f"{proc.stderr[-500:]}"
            )
            artifact["isolated_adjudication"] = block
            return
        iso = json.loads(lines[-1])
        for name in over:
            i_s = iso["queries"].get(name)
            i_d = iso.get("duckdb_queries", {}).get(name)
            block["rows"][name] = {
                "bench_tail_sec": big["queries"][name],
                "bench_tail_ratio": round(
                    big["queries"][name] / duck[name], 2
                ),
                "isolated_sec": i_s,
                "isolated_rel_spread": iso.get(
                    "queries_rel_spread", {}
                ).get(name),
                "isolated_duckdb_sec": i_d,
                "isolated_ratio": (
                    round(i_s / i_d, 2) if i_s and i_d else None
                ),
            }
    artifact["isolated_adjudication"] = block


def check_at_scale(sf_dir: str) -> dict:
    """Value-level oracle parity for the headline set AT the probe SF.

    Runs ``scripts/correctness_sweep.py`` over ``HEADLINE`` as a child
    process (the one checker, with its own C2 JVM and capped in-process
    DuckDB) and returns its artifact, whatever its exit code: the sweep
    exits non-zero on any MISMATCH or ERROR, and those verdicts are the
    point of the check. Callers run it only after every bench leg has
    exited, and the child's JVM is gone before any later leg starts.
    """
    with tempfile.TemporaryDirectory() as tmp:
        out = Path(tmp) / "sweep.json"
        proc = subprocess.run(
            [sys.executable, str(REPO / "scripts" / "correctness_sweep.py"),
             "--sf-dir", sf_dir, "--queries", ",".join(HEADLINE),
             "--out", str(out)],
            cwd=REPO,
        )
        if not out.exists():
            sys.exit(f"correctness sweep exited rc={proc.returncode} "
                     "without an artifact")
        return json.loads(out.read_text())


def verdict_summary(sweep: dict) -> str:
    return (f"{sweep['match']}/{sweep['total']} match, "
            f"{sweep['mismatch']} mismatched, {sweep['error']} error")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=1.0,
                    help="target scale factor (sf0.1 is the baseline side)")
    ap.add_argument("--dir", default=None,
                    help="directory for the generated data "
                         "(default /tmp/sf{N})")
    ap.add_argument("--regen", action="store_true",
                    help="regenerate the scaled data even if the "
                         "directory exists")
    ap.add_argument("--no-check", action="store_true",
                    help="skip the at-scale value-level oracle check")
    ap.add_argument("--check-only", action="store_true",
                    help="skip generation and the bench legs: run the "
                         "at-scale value check (correctness_sweep.py over "
                         "the headline set) and merge correctness_at_scale "
                         "into the existing BENCH_SF{N}.json")
    ap.add_argument("--adjudicate-only", action="store_true",
                    help="skip everything else: re-measure the existing "
                         "artifact's >2x bench-tail rows in fresh JVMs "
                         "and merge isolated_adjudication into "
                         "BENCH_SF{N}.json")
    args = ap.parse_args()

    sf_label = f"{args.sf:g}".replace(".", "_")
    big_dir = args.dir or f"/tmp/sf{sf_label}"

    if args.adjudicate_only:
        out_path = REPO / f"BENCH_SF{sf_label}.json"
        artifact = json.loads(out_path.read_text())
        attach_isolated_adjudication(artifact, f"sf{sf_label}", big_dir)
        write_artifact(out_path, artifact)
        print(json.dumps({
            "artifact": out_path.name,
            "isolated_adjudication": {
                n: r.get("isolated_ratio")
                for n, r in artifact["isolated_adjudication"]["rows"].items()
            },
        }))
        return

    if args.check_only:
        out_path = REPO / f"BENCH_SF{sf_label}.json"
        artifact = json.loads(out_path.read_text())
        sweep = check_at_scale(big_dir)
        artifact["correctness_at_scale"] = sweep["results"]
        write_artifact(out_path, artifact)
        print(json.dumps({"artifact": out_path.name,
                          "correct_at_scale": verdict_summary(sweep)}))
        return

    if args.regen or not os.path.isdir(big_dir):
        subprocess.run(
            [sys.executable, "-m",
             "product_data_pipelining_spark.sources.generator",
             "--sf", f"{args.sf:g}", "--out", big_dir],
            cwd=REPO, check=True,
        )

    big = run_bench(big_dir)
    sf01 = run_bench(TESTDATA_SF01)

    factor = args.sf / 0.1
    scaling = {
        q: round(big["queries"][q] / sf01["queries"][q], 2)
        for q in big["queries"]
        if sf01.get("queries", {}).get(q)
    }
    artifact = {
        "metric": f"sf{sf_label}_scale_probe",
        "data_scale_factor": round(factor, 2),
        f"sf{sf_label}": big,
        "sf0_1": sf01,
        "per_query_time_scaling": scaling,
        "worst_scaling": max(scaling.values()),
        "notes": (
            "Back-to-back runs on the same machine; each bench carries "
            "its own interleaved in-process DuckDB baseline, so judge "
            "ratio_vs_duckdb per SF, not absolute seconds. Scaling at or "
            f"under ~{factor:g}x is linear-or-better for {factor:g}x "
            "data; exact-percentile a03 runs at ~n log n by design."
        ),
    }
    # Write the bench results BEFORE the correctness stage: the benches
    # are ~an hour of wall-clock at sf5+, and a crash in the at-scale
    # oracle re-check (e.g. DuckDB OOM beside a live Spark JVM) must
    # not lose them. The file is rewritten with the extra key after.
    # If the file already carries a correctness_at_scale block from a
    # prior run, CARRY IT FORWARD marked stale rather than dropping it
    # (round 8 regenerated timing with --no-check and silently deleted
    # the at-scale value evidence); a completed check below replaces it.
    out_path = REPO / f"BENCH_SF{sf_label}.json"
    if out_path.exists():
        try:
            prior = json.loads(out_path.read_text())
            # a prior --no-check run leaves only the _prior_run key;
            # fall back to it so repeated timing refreshes can't drop
            # the carried value evidence one run later
            carried = prior.get(
                "correctness_at_scale",
                prior.get("correctness_at_scale_prior_run", {}).get(
                    "results"
                ),
            )
            if carried is not None:
                artifact["correctness_at_scale_prior_run"] = {
                    "note": ("carried forward from the previous artifact; "
                             "the timing above is from a NEWER run — rerun "
                             "--check-only to refresh"),
                    "results": carried,
                }
        except (json.JSONDecodeError, OSError):
            pass
    write_artifact(out_path, artifact)
    sweep = None
    if not args.no_check:
        # the bench legs above were subprocesses and have exited, so the
        # sweep child has the machine to itself
        sweep = check_at_scale(big_dir)
        artifact["correctness_at_scale"] = sweep["results"]
        artifact.pop("correctness_at_scale_prior_run", None)
        write_artifact(out_path, artifact)
    # fresh-JVM adjudication of any >2x bench-tail row, embedded so the
    # artifact is self-contained (runs AFTER the bench/check children
    # have exited — each isolated leg gets the machine to itself)
    attach_isolated_adjudication(artifact, f"sf{sf_label}", big_dir)
    write_artifact(out_path, artifact)
    summary = {"artifact": out_path.name,
               "worst_scaling": artifact["worst_scaling"],
               "big_ratio_vs_duckdb": big["ratio_vs_duckdb"],
               "sf0_1_ratio_vs_duckdb": sf01["ratio_vs_duckdb"]}
    if sweep is not None:
        summary["correct_at_scale"] = verdict_summary(sweep)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
