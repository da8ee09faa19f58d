"""Tests of the benchmark itself. Run from the repository root:

    python -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gob_gen  # noqa: E402
import run  # noqa: E402
import star_gen  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")
TINY = 400  # nummeraanduiding rows of the Spark-backed tests, which
# import all 15 tables so that every generated table and the bridge
# meet the real gates


def _same_tree(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def test_same_seed_same_bytes(tmp_path):
    for name in ("a", "b"):
        gob_gen.generate(str(tmp_path / f"gob_{name}"), 5, 2_000)
        star_gen.generate(str(tmp_path / f"star_{name}"), 5, 0.001)
    assert _same_tree(tmp_path / "gob_a", tmp_path / "gob_b")
    assert _same_tree(tmp_path / "star_a", tmp_path / "star_b")
    gob_gen.generate(str(tmp_path / "gob_c"), 6, 2_000)
    assert not _same_tree(tmp_path / "gob_a", tmp_path / "gob_c")
    gob_gen.generate(str(tmp_path / "gob_d"), 5, 2_000, replay=False)
    assert _same_tree(tmp_path / "gob_a" / "v1", tmp_path / "gob_d" / "v1")
    assert not (tmp_path / "gob_d" / "v2").exists()


def test_row_counts_do_not_depend_on_seed(tmp_path):
    a = gob_gen.generate(str(tmp_path / "a"), 1, 2_000)
    b = gob_gen.generate(str(tmp_path / "b"), 2, 2_000)
    for key in ("load", "replay"):
        assert a[key] == b[key]
        assert a[f"{key}_csv_rows"] == b[f"{key}_csv_rows"]


def test_last_place_tie_rule():
    tie = run._last_place_tie
    assert tie("1234.56", "1234.57", 2) and tie("-0.125", "-0.124", 3)
    # %.9g wrote 4651532.00 as 4651532: padded back to the column's places
    assert tie("4651532", "4651532.01", 2) and tie("0.479", "0.4791", 4)
    assert not tie("5", "5.1", 2)  # ten units apart at the column's places
    assert not tie("0.99", "1.00", 2)  # the tie carries into the integer part
    assert not tie("1.23", "1.25", 2)  # two units apart
    assert not tie("1.5e+05", "1.6e+05", 0)
    assert not tie("7", "8", 0)  # integers are never a rounding tie
    assert [run._places(c) for c in ("12.340", "-0.5", "7", "1e-05", "abc")] == [3, 1, 0, 0, 0]


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    assert set(e2e) == set(run.E2E_UNITS)
    assert layer == list(run.per_layer_units(run.headline()))
    assert len(set(e2e + layer)) == len(e2e) + len(layer)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m
        assert m["better"] in ("higher", "lower")
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert [w["name"] for w in spec["workloads"]] == ["bagh_load", "headline_queries"]


@pytest.fixture(scope="module")
def spark():
    from dso_import_spark.session import get_spark

    return get_spark("perfbench_tests", cpus=2, extra_conf={"spark.driver.memory": "2g"})


@pytest.fixture(scope="module")
def tiny_load(spark, tmp_path_factory, monkeypatch_module):
    monkeypatch_module.setattr(run, "WORK", str(tmp_path_factory.mktemp("work")))
    monkeypatch_module.setattr(run, "BAGH_N_NUM", TINY)
    monkeypatch_module.setattr(run, "BAGH_TABLES", list(gob_gen.TABLE_ORDER))
    os.makedirs(os.path.join(run.WORK, "data"))
    wl = run.BaghLoad(seed=3)
    wl.op(spark, 0)
    return wl


@pytest.fixture(scope="module")
def monkeypatch_module():
    mp = pytest.MonkeyPatch()
    yield mp
    mp.undo()


def test_tiny_import_matches_expected_reports(spark, tiny_load):
    attempted, failed, problems = tiny_load.check(spark)
    assert (attempted, failed, problems) == (len(gob_gen.TABLE_ORDER) + 1, 0, [])


def test_wrong_expectation_is_a_failed_operation(spark, tiny_load):
    exp = tiny_load.exp["load"]["verblijfsobject"]
    exp["staged_rows"] += 1
    try:
        attempted, failed, problems = tiny_load.check(spark)
    finally:
        exp["staged_rows"] -= 1
    assert (attempted, failed) == (len(gob_gen.TABLE_ORDER) + 1, 1)
    assert problems and problems[0].startswith("verblijfsobject")


def test_tiny_replay_matches_expected_reports(spark, tiny_load, tmp_path):
    """The generator's second snapshot: 1% new versions, 2% changed
    rows, no deletes — exactly what the merge reports."""
    from dataclasses import asdict

    from dso_import_spark.plans.bagh_job import BagHJob

    # the benchmark generates no replay snapshot; its first snapshot is
    # the same with or without one
    exp = gob_gen.generate(str(tmp_path), 3, TINY)
    wh, _, _ = tiny_load.runs[0]
    reports = BagHJob(spark, str(tmp_path / "v2"), wh).run(tables=run.BAGH_TABLES)
    assert {r.table: asdict(r) for r in reports} == {
        t: {"table": t, **exp["replay"][t]} for t in run.BAGH_TABLES
    }
    assert exp["replay_bridge_rows"] > exp["load_bridge_rows"] > 0
    for t, n in exp["replay_final_rows"].items():
        assert spark.read.parquet(os.path.join(wh, t)).count() == n, t
