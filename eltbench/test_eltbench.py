"""Tests of the benchmark itself: its metric contract, its closed-form
answers, and its failure counting.

Run from the repository root::

    python -m pytest eltbench/ -q

The last two tests run a whole workload on a tiny tree in a child
process (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import run  # noqa: E402
from inputs import Layout  # noqa: E402

TINY = Layout(rows=300, replicas=2)
AGES = (17, 404)


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_runner():
    spec = _bench_json()
    assert {w["name"] for w in spec["workloads"]} == set(run.layouts())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: unit for k, (unit, _) in run.END_TO_END.items()
    }
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: unit for k, (unit, _) in run.PER_LAYER.items()
    }
    for m in spec["end_to_end"] + spec["per_layer"]:
        table = run.END_TO_END if m in spec["end_to_end"] else run.PER_LAYER
        assert m["better"] == table[m["name"]][1]
    assert spec["command"][1:] == ["eltbench/run.py"]
    assert spec["paths"] == ["eltbench"]


def _parse_tree(tree: str):
    """Python reference reading of a generated tree: (age, cp, wl_c, flam_c)
    per data row, headers skipped."""
    rows = []
    for part, cp in inputs.PARTS:
        for name in sorted(os.listdir(os.path.join(tree, part))):
            age = int(inputs.AGE_RE.search(name).group(1))
            with open(os.path.join(tree, part, name)) as f:
                for line in f.read().splitlines()[3:]:
                    wl, fl = line.split()
                    rows.append((age, cp, inputs.cents(float(wl)), inputs.cents(float(fl))))
    return rows


def test_closed_forms_match_generated_files(tmp_path):
    tree = str(tmp_path / "tree")
    inputs.write_tree(tree, TINY, AGES)
    rows = _parse_tree(tree)
    assert len(rows) == TINY.total_rows
    below = inputs.WL0 + 123
    for age in AGES:
        for _, cp in inputs.PARTS:
            leaf = [r for r in rows if r[0] == age and r[1] == cp]
            assert inputs.group_sums(TINY, age, cp) == (
                len(leaf), sum(r[2] for r in leaf), sum(r[3] for r in leaf)
            )
            cut = [r for r in leaf if r[2] < below]
            assert inputs.group_sums(TINY, age, cp, below)[::2] == (len(cut), sum(r[3] for r in cut))
    assert all(r[3] == inputs.flam_c(r[0], r[2], r[1]) for r in rows)


def test_statement_checks_accept_right_and_reject_wrong_answers():
    stream = list(inputs.stream(seed=5, layout=TINY, blocks=2))
    assert sorted(s.template for s in stream) == sorted(inputs.MIX * 2)
    agg = next(s for s in stream if s.template == "table_agg")
    right = [
        (a, cp, *inputs.group_sums(TINY, a, cp, agg.params[0])[::2])
        for a in AGES for _, cp in inputs.PARTS
        if inputs.group_sums(TINY, a, cp, agg.params[0])[0]
    ]
    assert inputs.check_statement(agg, right, TINY, AGES)
    wrong = [r[:-1] + (r[-1] + 1,) for r in right]
    assert not inputs.check_statement(agg, wrong, TINY, AGES)

    fetch = next(s for s in stream if s.template == "table_fetch")
    n = fetch.params[0]
    good = [(AGES[0], (inputs.WL0 + i) / 100, inputs.flam_c(AGES[0], inputs.WL0 + i, 0) / 100, 0)
            for i in range(n)]
    assert inputs.check_statement(fetch, good, TINY, AGES)
    assert not inputs.check_statement(fetch, good[:-1], TINY, AGES)
    bad = list(good)
    bad[0] = (AGES[0], bad[0][1], bad[0][2] + 0.01, 0)
    assert not inputs.check_statement(fetch, bad, TINY, AGES)


def test_wrong_answer_and_error_are_counted_not_raised():
    r = run.Run()
    wall, _ = r.call("x", lambda: 41, lambda v: v == 42)
    assert wall is None and (r.attempted, r.failed) == (1, 1)

    def boom():
        raise RuntimeError("engine down")

    wall, _ = r.call("x", boom, lambda v: True)
    assert wall is None and (r.attempted, r.failed) == (2, 2)
    wall, _ = r.call("x", lambda: 42, lambda v: v == 42)
    assert wall is not None and (r.attempted, r.failed) == (3, 2)
    assert r.walls == {"x": [wall]}


def test_runner_refuses_a_directory_without_the_engine(tmp_path):
    os.makedirs(tmp_path / "eltbench")
    for name in ("run.py", "inputs.py", "tracing.py"):
        with open(os.path.join(HERE, name)) as src, open(tmp_path / "eltbench" / name, "w") as dst:
            dst.write(src.read())
    p = subprocess.run(
        [sys.executable, "eltbench/run.py", "--workload", "m33_4files", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""


_CHILD = """
import json, sys
sys.path.insert(0, {here!r})
import inputs, run
from inputs import Layout
if {corrupt}:
    inputs.CP_OFFSET += 1  # every cp answer now disagrees with its check
r, out = run.run_workload(Layout(300, 2), 3, 1.0, {trace}, {work!r})
print(json.dumps({{"attempted": r.attempted, "failed": r.failed, "metrics": out["metrics"]}}))
"""


def _child(tmp_path, trace: bool, corrupt: bool) -> dict:
    code = _CHILD.format(here=HERE, trace=trace, corrupt=corrupt, work=str(tmp_path / "work"))
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_tiny_workload_passes_every_check_and_reports_every_metric(tmp_path):
    untraced = _child(tmp_path, trace=False, corrupt=False)
    assert untraced["failed"] == 0 and untraced["attempted"] > 100
    assert set(untraced["metrics"]) == set(run.END_TO_END)
    assert all(v > 0 for v in untraced["metrics"].values())
    traced = _child(tmp_path, trace=True, corrupt=False)
    assert traced["failed"] == 0
    assert set(traced["metrics"]) == set(run.PER_LAYER)


def test_wrong_expected_answer_becomes_counted_failure(tmp_path):
    out = _child(tmp_path, trace=False, corrupt=True)
    assert 0 < out["failed"] < out["attempted"]
