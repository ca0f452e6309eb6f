"""Self-tests of the benchmark at a tiny size.

    python3 -m pytest perfbench/selftest.py -q

The input tests are pure Python. The last test starts the system under
test once per workload and trace mode on tiny inputs (a few minutes).
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import gen, run  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _bodies(seed, n):
    stream = gen.bodies(gen.TelegrafAgent(seed, range(gen.N_HOSTS), gen.DASH_END_NS), 1000)
    return [next(stream) for _ in range(n)]


def test_one_seed_gives_identical_lp_bodies():
    assert _bodies(5, 3) == _bodies(5, 3)
    assert _bodies(5, 1) != _bodies(6, 1)
    assert gen.dashboard_lines(5) == gen.dashboard_lines(5)


def test_one_seed_gives_identical_corpus():
    a, b = gen.corpus(3, 200, 10, 4), gen.corpus(3, 200, 10, 4)
    assert json.dumps(a) == json.dumps(b)
    assert json.dumps(a) != json.dumps(gen.corpus(4, 200, 10, 4))


def test_bodies_are_telegraf_shaped():
    body, n_lines, rows = _bodies(1, 1)[0]
    lines = body.decode().split("\n")
    assert n_lines == len(lines) == 1000
    assert {ln.split(",", 1)[0] for ln in lines} == {"cpu", "mem", "disk", "net", "system"}
    assert rows == sum(map(gen.field_rows, lines))
    ts = [int(ln.rsplit(" ", 1)[1]) for ln in lines]
    assert ts == sorted(ts)
    churned = sum(",pod=" in ln for ln in lines) / len(lines)
    assert 0.02 < churned < 0.08


def test_planted_families_are_near_duplicates():
    c = gen.corpus(2, 300, 15, 6)
    text = {d: t for d, t, _ in c["docs"]}
    for fam in c["families"]:
        a, b = (set(text[d].split()) for d in fam[:2])
        assert len(a & b) / len(a | b) > 0.6
    assert len(gen.planted_pairs([[1, 2, 3]])) == 3


def test_spec_metrics_are_well_formed():
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(run.WORKLOADS)


@pytest.fixture
def tiny(monkeypatch, tmp_path):
    monkeypatch.setattr(run, "RESULTS", str(tmp_path))
    monkeypatch.setattr(gen, "N_HOSTS", 8)
    monkeypatch.setattr(run, "CURATION_DOCS", 120)
    monkeypatch.setattr(run, "CURATION_FAMILIES", 6)
    monkeypatch.setattr(run, "CURATION_CONTAMINATED", 3)
    monkeypatch.setattr(run, "LINES_PER_BODY", 50)
    monkeypatch.setattr(run, "WARMUP_PASSES", 1)
    monkeypatch.setattr(run, "WARMUP_JOBS", 1)
    monkeypatch.setattr(run, "TIMED_PASSES", 1)
    monkeypatch.setattr(run, "TIMED_JOBS", 1)


@pytest.mark.parametrize("traced", [False, True])
@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_every_metric_is_printed_with_its_unit(tiny, workload, traced):
    rec = run.run(workload, seed=1, seconds=0.1, traced=traced)
    line = run.result_line(SPEC, rec, traced)
    assert line["correct"], rec["failures"]
    assert line["attempted"] >= 1 and line["failed"] == 0
    want = SPEC["per_layer"] if traced else SPEC["end_to_end"]
    assert line["metrics"] == {
        m["name"]: {"value": line["metrics"][m["name"]]["value"], "unit": m["unit"]} for m in want
    }
    for m in want:
        assert isinstance(line["metrics"][m["name"]]["value"], (int, float))
