"""The measurement harness in scripts/: the bench posture module, the
same-process A/B core, the correctness sweep's verdicts and the scale
probe's use of it, that every script still compiles and (for the
argparse ones) answers --help, so no probe imports a deleted helper, and
that the docs name no script that is gone."""

from __future__ import annotations

import json
import os
import re
import runpy
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace
from unittest import mock

import pytest

SCRIPTS = Path(__file__).resolve().parents[1] / "scripts"
PERFBENCH = SCRIPTS.parent / "perfbench"
sys.path.insert(0, str(SCRIPTS))

POSTURE_ENV = ("SPARK_GRAFT_CACHE_TABLES", "SPARK_GRAFT_PLAN_CACHE",
               "SPARK_GRAFT_AQE", "SPARK_GRAFT_SHUFFLE_PARTITIONS")
TEXT_ARROW = "SPARK_GRAFT_TEXT_ARROW"


@pytest.fixture(autouse=True)
def _env_unchanged():
    """Posture and A/B arms must leave no env behind: a leaked
    SPARK_GRAFT_CACHE_TABLES=1 changes every later test's plans."""
    before = {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}
    yield
    after = {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}
    assert after == before, "test leaked SPARK_GRAFT_* env"


def test_importing_posture_leaves_env_unchanged():
    code = ("import os; before = dict(os.environ); import _posture; "
            "assert dict(os.environ) == before, 'import changed env'")
    subprocess.run([sys.executable, "-c", code], cwd=SCRIPTS, check=True)


def test_posture_apply_sets_defaults_and_forces_plan_cache_off(tmp_path):
    import _posture

    # patch.dict restores the whole environment, so apply() cannot leak
    # the serving posture into later tests' plans
    with mock.patch.dict(os.environ):
        for var in POSTURE_ENV:
            os.environ.pop(var, None)
        os.environ["SPARK_GRAFT_AQE"] = "1"  # a set value wins
        os.environ["SPARK_GRAFT_PLAN_CACHE"] = "1"
        _posture.apply(str(tmp_path), cpus=32, plan_cache=False)
        assert [os.environ[v] for v in POSTURE_ENV] == ["1", "0", "1", "8"]


def test_sized_shuffle_partitions_floor_and_cap(tmp_path):
    from _posture import sized_shuffle_partitions

    chunk = 64 * 1024 * 1024
    table = tmp_path / "t.parquet"
    table.mkdir()
    # sparse files: apparent size counts, no disk is used
    with open(table / "part-0.parquet", "wb") as f:
        f.truncate(20 * chunk)
    with open(table / "_SUCCESS", "wb") as f:  # metadata files are skipped
        f.truncate(100 * chunk)
    tiny = tmp_path / "tiny"
    tiny.mkdir()
    (tiny / "a.parquet").write_bytes(b"x")

    assert sized_shuffle_partitions(str(tmp_path), 32) == 20
    assert sized_shuffle_partitions(str(tmp_path), 16) == 16  # cap
    assert sized_shuffle_partitions(str(tiny), 32) == 8  # floor
    assert sized_shuffle_partitions(str(tiny), 4) == 4  # cap beats floor
    assert sized_shuffle_partitions(str(tmp_path / "missing"), 32) == 8


def test_ab_text_arrow_arms_plan_differently_and_agree(spark, sf_dir, tmp_path):
    import ab

    out = tmp_path / "ab.json"
    res = ab.run_ab(
        spark, sf_dir, ["tx02_quality_score"],
        {"a": {TEXT_ARROW: "1"}, "b": {TEXT_ARROW: "0"}},
        reps=1, out=str(out),
    )
    q = res["queries"]["tx02_quality_score"]
    assert q["plans_differ"] and q["outputs_equal"] and q["rows"] > 0
    assert len(q["a_samples"]) == len(q["b_samples"]) == 1
    # stamped inside a live session, so it names the driver JVM's posture
    assert set(res["provenance"]) == {"code_commit", "code_dirty", "measured_utc",
                                      "driver_java_options", "class_archive"}
    assert json.loads(out.read_text()) == res


@pytest.mark.parametrize("arm", ["0", "1"])
def test_ab_rejects_arms_that_change_nothing(spark, sf_dir, arm):
    import ab

    with pytest.raises(ValueError, match="plan identically"):
        ab.run_ab(
            spark, sf_dir, ["tx02_quality_score"],
            {"a": {TEXT_ARROW: arm}, "b": {TEXT_ARROW: arm}}, reps=1,
        )


def test_ab_rejects_arms_whose_outputs_differ(spark, sf_dir, monkeypatch):
    import ab

    fake = SimpleNamespace(
        fn=lambda spark, _sf: spark.range(int(os.environ["AB_TEST_ROWS"]))
    )
    monkeypatch.setattr(ab, "all_queries", lambda: {"fake": fake})
    with pytest.raises(ValueError, match="outputs differ"):
        ab.run_ab(
            spark, sf_dir, ["fake"],
            {"a": {"AB_TEST_ROWS": "3"}, "b": {"AB_TEST_ROWS": "4"}}, reps=1,
        )


def test_ab_refuses_an_existing_out(spark, sf_dir, tmp_path):
    import ab

    out = tmp_path / "ab.json"
    out.write_text("earlier result\n")
    with pytest.raises(FileExistsError):
        ab.run_ab(
            spark, sf_dir, ["tx02_quality_score"],
            {"a": {TEXT_ARROW: "1"}, "b": {TEXT_ARROW: "0"}},
            reps=1, out=str(out),
        )
    assert out.read_text() == "earlier result\n"


def test_sweep_gives_each_verdict(spark, sf_dir, monkeypatch):
    """The one oracle checker over fake specs on real tables: a value
    match, a value mismatch, a row-count mismatch, a query with no
    oracle, a result over the value-compare cap and a query that
    raises each get their own verdict, and no failure stops the
    sweep."""
    import correctness_sweep

    from product_data_pipelining_spark.checks.oracle_compare import (
        duck_connect,
    )
    from product_data_pipelining_spark.io import load_table

    def region(spark, sf):
        return load_table(spark, sf, "region")

    def boom(spark, sf):
        raise RuntimeError("boom")

    def spec(fn, oracle):
        return SimpleNamespace(fn=fn, oracle=oracle)

    specs = {
        "match": spec(region, "SELECT * FROM region"),
        "mismatch": spec(
            region,
            "SELECT * REPLACE (r_regionkey + 1 AS r_regionkey) FROM region",
        ),
        "rowcount": spec(region, "SELECT * FROM region LIMIT 2"),
        "rows_only": spec(region, None),
        "error": spec(boom, "SELECT * FROM region"),
    }
    con = duck_connect(sf_dir)
    try:
        got = correctness_sweep.sweep(spark, con, sf_dir, specs)
        monkeypatch.setattr(correctness_sweep, "MAX_COMPARE_ROWS", 2)
        capped = correctness_sweep.sweep(
            spark, con, sf_dir, {"capped": specs["match"]}
        )
    finally:
        con.close()
    assert got == {
        "match": "match",
        "mismatch": "MISMATCH:5/5 rows differ",
        "rowcount": "ROWCOUNT_MISMATCH:5!=2",
        "rows_only": "rows_only:5",
        "error": "ERROR:RuntimeError:boom",
    }
    assert capped == {"capped": "rowcount_only:5"}


def test_scale_probe_check_only_stores_the_sweep_results(
    monkeypatch, tmp_path
):
    """``scale_probe --check-only`` runs the correctness sweep as a child
    over the headline set at the probe's directory and stores the
    child's ``results`` as ``correctness_at_scale``, also when the child
    exits non-zero on a mismatch. The child is faked: no JVM starts."""
    import scale_probe

    results = {"tpch_q1_pricing_summary": "match",
               "ev02_sessionize": "MISMATCH:1/9 rows differ"}
    calls = []
    real_run = subprocess.run

    def fake_run(argv, **kwargs):
        if not str(argv[1]).endswith("correctness_sweep.py"):
            return real_run(argv, **kwargs)  # provenance's git calls
        calls.append(argv)
        out = Path(argv[argv.index("--out") + 1])
        out.write_text(json.dumps({"total": 2, "match": 1, "mismatch": 1,
                                   "error": 0, "results": results}))
        return subprocess.CompletedProcess(argv, 1)

    artifact_path = tmp_path / "BENCH_SF1.json"
    artifact_path.write_text(json.dumps({"metric": "sf1_scale_probe"}))
    monkeypatch.setattr(scale_probe, "REPO", tmp_path)
    monkeypatch.setattr(scale_probe.subprocess, "run", fake_run)
    monkeypatch.setattr(sys, "argv", ["scale_probe.py", "--sf", "1",
                                      "--dir", "/data/sf1", "--check-only"])
    scale_probe.main()

    artifact = json.loads(artifact_path.read_text())
    assert artifact["metric"] == "sf1_scale_probe"
    assert artifact["correctness_at_scale"] == results
    [argv] = calls
    assert argv[argv.index("--sf-dir") + 1] == "/data/sf1"
    assert argv[argv.index("--queries") + 1].split(",") == scale_probe.HEADLINE


SCRIPT_FILES = sorted(SCRIPTS.glob("*.py"))


@pytest.mark.parametrize("path", SCRIPT_FILES, ids=lambda p: p.name)
def test_script_compiles_and_answers_help(path, tmp_path):
    source = path.read_text()
    compile(source, str(path), "exec")
    if "argparse" not in source:
        return
    proc = subprocess.run(
        [sys.executable, str(path), "--help"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.startswith("usage:")


DOCS = [SCRIPTS.parent / "README.md",
        SCRIPTS.parent / ".claude" / "skills" / "verify" / "SKILL.md"]


@pytest.mark.parametrize("doc", DOCS, ids=lambda p: p.name)
def test_docs_name_only_existing_scripts(doc):
    named = set(re.findall(r"\bscripts/(\w+\.py)", doc.read_text()))
    missing = sorted(n for n in named if not (SCRIPTS / n).is_file())
    assert named and not missing, f"{doc.name} names deleted scripts: {missing}"


def test_generator_cli_leaves_cpus_to_the_session_rule(monkeypatch):
    """Without ``--cpus`` the generator CLI passes none, so ``get_spark``
    applies ``session.DEFAULT_CPUS``; a fixed default of 32 started
    ``local[32]`` on every smaller host."""
    from product_data_pipelining_spark import session
    from product_data_pipelining_spark.sources import generator

    class Launched(Exception):
        pass

    def fake_get_spark(**kwargs):
        raise Launched(kwargs)

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    monkeypatch.setattr(sys, "argv", ["generator", "--sf", "1", "--out", "x"])
    monkeypatch.setattr(sys, "path", list(sys.path))
    with pytest.raises(Launched) as launched:
        runpy.run_path(generator.__file__, run_name="__main__")
    kwargs = launched.value.args[0]
    assert kwargs["cpus"] is None
    assert kwargs["extra_conf"] is session.TIERED_JIT


def test_snapshot_stage_writes_are_traced_as_upsert(monkeypatch):
    """The benchmark names the span of a ``snap_<table>`` stage write after
    the raw table it upserts; a stage suffix it does not strip would read
    the traced ``upsert.*`` metrics as 0."""
    from product_data_pipelining_spark.io import STAGE_SUFFIX

    monkeypatch.syspath_prepend(str(PERFBENCH))
    import refresh

    name = f"snap_raw_product_prices{STAGE_SUFFIX}"
    assert refresh.layer_of(name) == "upsert.raw_product_prices"
