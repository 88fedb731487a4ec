"""``scripts/query.py``: the cost gate's rule on synthetic records, and
measurements through the test session."""

from __future__ import annotations

import copy
import importlib.util
import json
import os

from ecommerce_etl_pipeline_spark import session

_spec = importlib.util.spec_from_file_location(
    "query_tool",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "query.py"),
)
query = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(query)

KEYS = {
    "build_s", "build_jobs", "action_s", "action_jobs", "first_s", "warm_s",
    "median_s", "stages", "tasks", "scan_rows", "scan_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "retained_rdds",
}
BASE = {
    "sf_dir": "sf0.1",
    "queries": {
        "q": {"shuffle_write_bytes": 100_000, "scan_bytes": 50_000},
        "tiny": {"shuffle_write_bytes": 990, "scan_bytes": 990},
    },
}
#: BASE measured at a second scale too, as ``--sf sf0.1 --sf localdata/sf1``
#: records it
BASE2 = {
    **BASE,
    "sf_dir2": "localdata/sf1",
    "queries2": {"q": {"shuffle_write_bytes": 1_000_000, "scan_bytes": 500_000}},
}


def _run(base: dict = BASE, **counters) -> dict:
    """``base`` with ``query_key=value`` (first scale) or
    ``query_key_2=value`` (second scale) counters replaced."""
    run = copy.deepcopy(base)
    for name_key, value in counters.items():
        name, key = name_key.split("__")
        slot = "queries2" if key.endswith("_2") else "queries"
        run[slot][name][key.removesuffix("_2")] = value
    return run


def _violations(base: dict, run: dict) -> list[str]:
    got, skipped = query.cost_violations(base, run)
    assert skipped == []
    return got


def test_gate_passes_an_unchanged_run_and_growth_up_to_twice():
    assert _violations(BASE, _run()) == []
    assert _violations(BASE, _run(q__shuffle_write_bytes=200_000)) == []


def test_gate_fails_shuffle_growth_past_twice():
    got = _violations(BASE, _run(q__shuffle_write_bytes=200_001))
    assert got == ["sf0.1: q.shuffle_write_bytes: 100000 -> 200001 (2.00x > 2.0x)"]


def test_gate_fails_scan_growth_past_twice():
    got = _violations(BASE, _run(q__scan_bytes=150_000))
    assert got == ["sf0.1: q.scan_bytes: 50000 -> 150000 (3.00x > 2.0x)"]


def test_gate_floor_passes_small_deltas_only_below_16k():
    # 3x, but 2 KB more and still under 4 x 4 KiB: noise, not a plan
    assert _violations(BASE, _run(tiny__shuffle_write_bytes=2_990)) == []
    # past 16 KiB the ratio gates however small the baseline was
    assert _violations(BASE, _run(tiny__scan_bytes=17_000)) == [
        "sf0.1: tiny.scan_bytes: 990 -> 17000 (17.17x > 2.0x)"
    ]


def test_gate_fails_a_query_missing_from_the_run():
    run = _run()
    del run["queries"]["tiny"]
    assert _violations(BASE, run) == ["sf0.1: tiny: in the baseline but missing from the run"]


def test_gate_skips_runs_at_another_scale():
    run = _run(q__shuffle_write_bytes=10**9)
    run["sf_dir"] = "sf1"
    assert query.cost_violations(BASE, run) == ([], ["sf0.1", "sf1"])
    # another spelling of the same directory still gates
    run["sf_dir"] = "./sf0.1/"
    assert _violations(BASE, run) == [
        "sf0.1: q.shuffle_write_bytes: 100000 -> 1000000000 (10000.00x > 2.0x)"
    ]


def test_gate_fails_growth_at_the_second_scale_and_names_it():
    assert _violations(BASE2, _run(BASE2, q__shuffle_write_bytes_2=2_000_000)) == []
    got = _violations(BASE2, _run(BASE2, q__shuffle_write_bytes_2=2_000_001))
    assert got == ["localdata/sf1: q.shuffle_write_bytes: 1000000 -> 2000001 (2.00x > 2.0x)"]
    run = _run(BASE2)
    del run["queries2"]["q"]
    assert _violations(BASE2, run) == [
        "localdata/sf1: q: in the baseline but missing from the run"
    ]


def test_gate_without_the_second_scale_gates_the_first_and_skips_the_second():
    run = _run(q__scan_bytes=150_000)
    assert query.cost_violations(BASE2, run) == (
        ["sf0.1: q.scan_bytes: 50000 -> 150000 (3.00x > 2.0x)"], ["localdata/sf1"]
    )
    assert query.cost_violations(BASE2, _run()) == ([], ["localdata/sf1"])
    # the scales match by name, not by slot: sf1 alone gates against sf_dir2
    alone = {"sf_dir": "localdata/sf1",
             "queries": {"q": {"shuffle_write_bytes": 3_000_000, "scan_bytes": 500_000}}}
    assert query.cost_violations(BASE2, alone) == (
        ["localdata/sf1: q.shuffle_write_bytes: 1000000 -> 3000000 (3.00x > 2.0x)"],
        ["sf0.1"],
    )


def test_gate_compares_scales_recorded_in_another_checkout(tmp_path, monkeypatch):
    # a directory under the checkout is recorded relative to it, also when
    # the checkout's localdata links into another checkout (c's does into
    # a's); any other directory keeps its real path
    for checkout in ("a", "b"):
        (tmp_path / checkout / "localdata" / "sf1").mkdir(parents=True)
    (tmp_path / "c").mkdir()
    (tmp_path / "c" / "localdata").symlink_to(tmp_path / "a" / "localdata")
    (tmp_path / "sf0.1").mkdir()
    ids = {}
    for checkout in ("a", "b", "c"):
        monkeypatch.setattr(query, "ROOT", str(tmp_path / checkout))
        ids[checkout] = (query.scale_id(str(tmp_path / "sf0.1")),
                         query.scale_id(str(tmp_path / checkout / "localdata" / "sf1")))
    assert ids["a"] == ids["b"] == ids["c"] == (
        os.path.realpath(tmp_path / "sf0.1"), "localdata/sf1"
    )
    base = {**BASE2, "sf_dir": ids["a"][0], "sf_dir2": ids["a"][1]}
    run = _run(base, q__scan_bytes_2=1_500_000)
    run.update(sf_dir=ids["b"][0], sf_dir2=ids["b"][1])
    assert _violations(base, run) == [
        "localdata/sf1: q.scan_bytes: 500000 -> 1500000 (3.00x > 2.0x)"
    ]


def test_committed_baseline_covers_the_default_queries():
    with open(os.path.join(query.ROOT, "COSTS.json")) as fh:
        base = json.load(fh)
    defaults = query.bench.HEADLINE + query.bench.EXTENDED + list(query.ALSO_GATED)
    assert os.path.basename(base["sf_dir"]) == "sf0.1" and base["sf_dir2"] == "localdata/sf1"
    assert sorted(base["queries"]) == sorted(base["queries2"]) == sorted(defaults)


def test_measure_records_every_key_and_repeats_its_counters(spark, sf_dir):
    names = ["a1_daily_sales", "ml_kmeans_train"]
    first = query.measure(spark, names, sf_dir, reps=2)
    again = query.measure(spark, names, sf_dir, reps=1)
    for name in names:
        rec = first[name]
        assert set(rec) == KEYS
        assert rec["retained_rdds"] == 0
        assert rec["stages"] > 0 and rec["tasks"] >= rec["stages"] and rec["scan_rows"] > 0
        assert rec["first_s"] > 0 and rec["warm_s"] > 0
        assert abs(rec["median_s"] - (rec["first_s"] + rec["warm_s"]) / 2) <= 0.001
        assert again[name]["warm_s"] is None
        assert again[name]["median_s"] == again[name]["first_s"]
        assert {k: again[name][k] for k in query.COUNTERS} == {k: rec[k] for k in query.COUNTERS}


def test_check_exits_one_on_a_violation(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.setattr(session, "get_spark", lambda **_: spark)
    out = tmp_path / "run.json"
    args = ["a1_daily_sales", "--sf", sf_dir, "--reps", "1"]
    assert query.main(args + ["--out", str(out)]) == 0
    base = json.loads(out.read_text())
    assert query.main(args + ["--check", str(out)]) == 0

    base["queries"]["a1_daily_sales"]["shuffle_write_bytes"] //= 3
    base["queries"]["dropped"] = base["queries"]["a1_daily_sales"]
    (tmp_path / "base.json").write_text(json.dumps(base))
    assert query.main(args + ["--check", str(tmp_path / "base.json")]) == 1
