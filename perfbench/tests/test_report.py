"""Failures are counted, and the result line and BENCHMARK.json follow the
benchmark contract."""

import json
import re

import pytest

import run
import spec
import worker

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _result(failed=0, failures=()):
    r = {m["name"]: 1.5 for m in spec.END_TO_END}
    r.update({"attempted": 48, "failed": failed, "failures": list(failures),
              "layers": {"session.build_s": 7.5}})
    return r


def test_wrong_results_are_failures():
    ops = [{"name": "q", "round": r, "digest": d} for r, d in enumerate("aab")]
    assert len(worker.wrong_ops(ops, {"q": "a"})) == 1
    assert len(worker.wrong_ops(ops, {"q": "z"})) == 3


def test_failures_make_the_line_incorrect():
    line = run.summary_line({"interactive": _result(failed=2, failures=["x", "y"])}, 0)
    assert line["correct"] is False and line["failed"] == 2 and line["attempted"] == 48
    assert run.summary_line({"interactive": _result()}, 0)["correct"] is True


@pytest.mark.parametrize("trace", [0, 1])
def test_line_carries_exactly_the_metrics_of_its_mode(trace):
    line = run.summary_line({"ingest": _result()}, trace)
    names = spec.PER_LAYER if trace else spec.END_TO_END
    assert list(line["metrics"]) == [m["name"] for m in names]
    for m in line["metrics"].values():
        assert set(m) == {"value", "unit"} and isinstance(m["value"], (int, float))


def test_every_per_layer_metric_says_what_it_should_move():
    assert sorted(spec.MOVES) == sorted(m["name"] for m in spec.PER_LAYER)


def test_benchmark_json_meets_the_contract():
    b = spec.BENCHMARK
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(b["workloads"]) <= 8 and 1 <= b["run_seconds"] <= 60
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert all(NAME.match(n) for n in names) and len(names) == len(set(names))
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in b["end_to_end"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert len(json.dumps(b)) < 64 * 1024
