"""BENCHMARK.json follows the benchmark contract and matches the metric
names the benchmark prints."""

import json
import os
import re

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


@pytest.fixture(scope="module")
def bench():
    path = os.path.join(ROOT, "BENCHMARK.json")
    assert os.path.getsize(path) <= 64 * 1024
    with open(path) as f:
        return json.load(f)


def test_top_level_keys(bench):
    assert set(bench) == {"command", "paths", "run_seconds", "workloads",
                          "end_to_end", "per_layer"}
    assert isinstance(bench["run_seconds"], int)
    assert 1 <= bench["run_seconds"] <= 60


def test_command_and_paths(bench):
    cmd = bench["command"]
    assert 1 <= len(cmd) <= 32 and all(len(a) <= 200 for a in cmd)
    assert not any(a.startswith("/") or ".." in a.split("/") for a in cmd)
    assert 1 <= len(bench["paths"]) <= 16
    for p in bench["paths"]:
        assert PATH.match(p) and not p.startswith("/") and ".." not in p
        assert os.path.isdir(os.path.join(ROOT, p))
    # every file the command names lies under a benchmark path
    for a in cmd[1:]:
        if os.path.exists(os.path.join(ROOT, a)):
            assert any(a.startswith(p.rstrip("/") + "/")
                       for p in bench["paths"])


def test_names_units_and_limits(bench):
    wl, e2e, per = bench["workloads"], bench["end_to_end"], bench["per_layer"]
    assert 2 <= len(wl) <= 8
    assert 1 <= len(e2e) <= 16
    assert 1 <= len(per) <= 128
    for w in wl:
        assert set(w) == {"name", "why"}
        assert NAME.match(w["name"])
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in per:
        assert set(m) == {"name", "unit", "better"}
    for m in e2e + per:
        assert NAME.match(m["name"]), m["name"]
        assert UNIT.match(m["unit"]), m["unit"]
        assert m["better"] in ("higher", "lower")
    names = [m["name"] for m in wl] + [m["name"] for m in e2e + per]
    assert len(names) == len(set(names))
    setup = [m for m in e2e if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in e2e)


def test_matches_what_the_benchmark_prints(bench):
    import run
    import workloads

    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} \
        == run._per_layer()
    assert tuple(w["name"] for w in bench["workloads"]) \
        == workloads.BENCHMARKED
