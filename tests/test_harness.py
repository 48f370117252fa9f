"""The measurement harness in scripts/: the bench posture module, the
same-process A/B core, and that every script still compiles and (for
the argparse ones) answers --help, so no probe imports a deleted helper."""

from __future__ import annotations

import json
import os
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
    assert set(res["provenance"]) == {"code_commit", "code_dirty", "measured_utc"}
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


def test_snapshot_stage_writes_are_traced_as_upsert(monkeypatch):
    """The benchmark names the span of a ``snap_<table>`` stage write after
    the raw table it upserts; a stage suffix it does not strip would read
    the traced ``upsert.*`` metrics as 0."""
    from product_data_pipelining_spark.io import STAGE_SUFFIX

    monkeypatch.syspath_prepend(str(PERFBENCH))
    import refresh

    name = f"snap_raw_product_prices{STAGE_SUFFIX}"
    assert refresh.layer_of(name) == "upsert.raw_product_prices"
