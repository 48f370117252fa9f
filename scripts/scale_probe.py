#!/usr/bin/env python3
"""Scale probe: measure how the headline set scales from sf0.1 upward.

Generates a complete scaled directory with the deterministic distributed
generator (``sources/generator.py`` — schema-identical to the driver's
testdata, verified by ``test_generate_scale_matches_testdata_schemas``),
then runs ``bench.py`` back-to-back at the target SF and at sf0.1 under
identical machine conditions and records per-query scaling factors.

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


# value-compare is driver-bounded (both result sets come to pandas);
# headline outputs are aggregate-sized except sessionize, which grows
# with users — above this cap record a distributed row-count check only.
# normalize() is vectorized (checks/oracle_compare._canon_series), so
# 10M rows x a handful of columns compares in tens of seconds / a few
# GB of driver memory; the cap guards the truly unbounded case.
MAX_COMPARE_ROWS = 10_000_000


def stage_oracles(sf_dir: str, stage_dir: str) -> None:
    """ORACLE STAGE (child process, NO JVM): materialize every headline
    oracle's result to parquet.

    Round 6 ran the DuckDB oracles in-process beside a live Spark JVM
    holding a ~100 GB heap; the heavyweight ANN/dedup oracles
    (dd13/sim07/sim08/pipe01) died of IOException/OOM at sf10 and the
    flagship queries ended up with ZERO at-scale value evidence. This
    stage runs in its own process BEFORE Spark starts, so DuckDB gets
    the whole machine; ``COPY (query) TO parquet`` streams the result
    without driver-side materialization. Per-query failures land in
    ``meta.json`` and become ``check_error:oracle:<type>`` rows.
    """
    sys.path.insert(0, str(REPO))
    import duckdb

    from product_data_pipelining_spark.checks.oracle_compare import (
        duck_view_sql,
    )
    from product_data_pipelining_spark.io import TPCH_TABLES
    from product_data_pipelining_spark.registry import all_queries

    os.makedirs(stage_dir, exist_ok=True)
    specs = all_queries()
    con = duckdb.connect()
    con.execute("SET temp_directory='/tmp/duck_spill'")
    # No JVM is alive, but DuckDB's default (~80% of RAM) still OOM-
    # killed the first sf10 staging run on dd14's banded self-join —
    # cap it below the box and let the spill directory absorb the rest.
    con.execute(
        f"SET memory_limit='{os.environ.get('ORACLE_STAGE_MEM', '64GB')}'"
    )
    budget = int(os.environ.get("ORACLE_STAGE_TIMEOUT_SEC", "1800"))
    meta_path = os.path.join(stage_dir, "meta.json")
    meta: dict[str, dict] = {}
    if os.path.exists(meta_path):  # resume a killed run
        with open(meta_path) as f:
            meta = json.load(f)
    for name in HEADLINE:
        spec = specs[name]
        if spec.oracle is None:
            continue
        pq = os.path.join(stage_dir, f"{name}.parquet")
        prior = meta.get(name, {})
        if prior.get("rows") is not None and os.path.exists(pq):
            continue  # staged by a previous (possibly killed) run
        if prior.get("error") == "in_flight":
            # this query OOM-killed the previous child — don't let it
            # kill every retry; record and move on
            meta[name] = {"error": "killed_child_process"}
            with open(meta_path, "w") as f:
                json.dump(meta, f, indent=2)
            continue
        meta[name] = {"error": "in_flight"}
        with open(meta_path, "w") as f:
            json.dump(meta, f, indent=2)
        # one pathological oracle must not eat the probe: interrupt the
        # connection after the per-query budget (recorded as an error
        # row, same as any other staging failure)
        import threading

        timer = threading.Timer(budget, con.interrupt)
        timer.start()
        try:
            # fresh views per query so a poisoned catalog can't leak
            for t in TPCH_TABLES:
                con.execute(duck_view_sql(sf_dir, t).replace(
                    "CREATE VIEW", "CREATE OR REPLACE VIEW"))
            final = spec.oracle
            if spec.oracle_stage is not None:
                # resource-shaped staging twin (same values, pinned by
                # pytest): run the sequenced prep statements, COPY the
                # final SELECT — statements are the only boundary DuckDB
                # won't parallelize across, which is the whole point
                *prep, final = spec.oracle_stage
                for stmt in prep:
                    con.execute(stmt)
            con.execute(
                f"COPY ({final}) TO '{pq}' (FORMAT PARQUET)"
            )
            n = con.execute(
                f"SELECT COUNT(*) FROM read_parquet('{pq}')"
            ).fetchone()[0]
            meta[name] = {"rows": int(n), "path": pq}
        except Exception as exc:  # noqa: BLE001 — record, keep staging
            meta[name] = {"error": type(exc).__name__}
        finally:
            timer.cancel()
        print(f"# staged {name}: {meta[name]}", file=sys.stderr)
        # write meta after EVERY query: a SIGKILL (OOM) mid-run must
        # not lose the finished stages — the rerun resumes from here
        with open(meta_path, "w") as f:
            json.dump(meta, f, indent=2)
    con.close()


def run_correctness(sf_dir: str, stage_dir: str) -> dict:
    """Value-level oracle parity for the headline set AT the probe SF.

    The driver verifies correctness at sf0.01; this re-runs the same
    contract (shared ``checks.oracle_compare`` normalization — sorted
    columns, canonical cells, sorted rows) against the PRE-STAGED
    DuckDB oracle results (see :func:`stage_oracles` — computed in a
    separate process before the JVM starts, so the two engines never
    contend for memory). Reading a staged result back goes through
    ``duckdb.read_parquet(...).df()``, the same materialization path a
    live oracle used, so dtype-kind parity is preserved.
    """
    sys.path.insert(0, str(REPO))
    import duckdb

    from product_data_pipelining_spark.checks.oracle_compare import (
        frames_match,
    )
    from product_data_pipelining_spark.registry import all_queries
    from product_data_pipelining_spark.session import TIERED_JIT, get_spark

    with open(os.path.join(stage_dir, "meta.json")) as f:
        meta = json.load(f)
    specs = all_queries()
    # minutes of query work in one JVM: C2 pays back (session.TIERED_JIT)
    spark = get_spark(app_name="pdp-scale-check", extra_conf=TIERED_JIT)
    con = duckdb.connect()  # only reads staged parquet — tiny footprint

    results: dict[str, str] = {}
    for name in HEADLINE:
        spec = specs[name]
        try:
            df = spec.fn(spark, sf_dir)
            if spec.oracle is None:
                results[name] = f"rows_only:{df.count()}"
                continue
            m = meta.get(name)
            if m is None or "error" in m:
                err = (m or {}).get("error", "not_staged")
                results[name] = f"check_error:oracle:{err}"
                continue
            n = df.count()
            want_n = m["rows"]
            if n > MAX_COMPARE_ROWS:
                results[name] = (
                    f"rowcount_only:{n}" if n == want_n
                    else f"ROWCOUNT_MISMATCH:{n}!={want_n}"
                )
                continue
            if n != want_n:
                results[name] = f"ROWCOUNT_MISMATCH:{n}!={want_n}"
                continue
            want = con.execute(
                f"SELECT * FROM read_parquet('{m['path']}')"
            ).df()
            ok, reason = frames_match(df.toPandas(), want)
            results[name] = "match" if ok else f"MISMATCH:{reason}"
        except Exception as exc:  # noqa: BLE001 — one query's failure
            # must not lose the whole artifact; record it honestly and
            # move on. MISMATCH stays a loud string the summary counts;
            # check_error does too.
            results[name] = f"check_error:{type(exc).__name__}"
    con.close()
    # Tear the check session's JVM down before returning: the full-run
    # path goes straight into attach_isolated_adjudication, whose
    # "fresh JVM per query" legs otherwise share the box with THIS
    # session's probe-SF heap and cached tables. The r12 full-run at
    # sf10 measured a03 isolated at 28.5 s beside the live check JVM
    # where the standalone --adjudicate-only leg (no JVM alive)
    # measures ~8 s — the adjudication exists to REMOVE heap/carryover
    # effects, so it must never run beside one.
    spark.stop()
    return results


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
    ap.add_argument("--oracle-stage", metavar="STAGE_DIR", default=None,
                    help="internal: run ONLY the DuckDB oracle staging "
                         "for --dir into STAGE_DIR, then exit (invoked "
                         "as a child process so no JVM is alive)")
    ap.add_argument("--check-only", action="store_true",
                    help="skip generation and the bench legs: run the "
                         "oracle staging + at-scale value check and "
                         "merge correctness_at_scale into the existing "
                         "BENCH_SF{N}.json")
    ap.add_argument("--adjudicate-only", action="store_true",
                    help="skip everything else: re-measure the existing "
                         "artifact's >2x bench-tail rows in fresh JVMs "
                         "and merge isolated_adjudication into "
                         "BENCH_SF{N}.json")
    args = ap.parse_args()

    sf_label = f"{args.sf:g}".replace(".", "_")
    big_dir = args.dir or f"/tmp/sf{sf_label}"

    if args.oracle_stage:
        stage_oracles(big_dir, args.oracle_stage)
        return

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
        stage_dir = f"/tmp/oracle_stage_sf{sf_label}"
        for _attempt in range(3):
            rc = subprocess.run(
                [sys.executable, str(REPO / "scripts" / "scale_probe.py"),
                 "--dir", big_dir, "--oracle-stage", stage_dir],
                cwd=REPO,
            ).returncode
            if rc == 0:
                break
            print(f"# oracle staging exited rc={rc}; resuming",
                  file=sys.stderr)
        artifact["correctness_at_scale"] = run_correctness(big_dir, stage_dir)
        write_artifact(out_path, artifact)
        vals = list(artifact["correctness_at_scale"].values())
        print(json.dumps({
            "artifact": out_path.name,
            "correct_at_scale": (
                f"{sum(v == 'match' for v in vals)}/{len(vals)} match, "
                f"{sum('MISMATCH' in v for v in vals)} mismatched, "
                f"{sum('check_error' in v for v in vals)} check_error"
            ),
        }))
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
    if not args.no_check:
        # oracle staging runs in a CHILD process while no JVM is alive
        # (the benches above were subprocesses and have exited), so
        # DuckDB gets most of the machine for the heavyweight oracles.
        # Staging is resumable (per-query meta writes), so an OOM-killed
        # child is retried and picks up where it died; a query that
        # kills the child twice is recorded as not_staged rather than
        # losing the whole correctness stage.
        stage_dir = f"/tmp/oracle_stage_sf{sf_label}"
        for _attempt in range(3):
            rc = subprocess.run(
                [sys.executable, str(REPO / "scripts" / "scale_probe.py"),
                 "--dir", big_dir, "--oracle-stage", stage_dir],
                cwd=REPO,
            ).returncode
            if rc == 0:
                break
            print(f"# oracle staging exited rc={rc}; resuming",
                  file=sys.stderr)
        artifact["correctness_at_scale"] = run_correctness(big_dir, stage_dir)
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
    if "correctness_at_scale" in artifact:
        vals = list(artifact["correctness_at_scale"].values())
        summary["correct_at_scale"] = (
            f"{sum(v == 'match' for v in vals)}/{len(vals)} match, "
            f"{sum('MISMATCH' in v for v in vals)} mismatched, "
            f"{sum('check_error' in v for v in vals)} check_error"
        )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
