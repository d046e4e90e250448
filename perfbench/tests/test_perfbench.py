"""Tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""
import ast
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import inputs  # noqa: E402
import layers  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_metric_names_are_well_formed_and_declared():
    b = _benchmark()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    names += [w["name"] for w in b["workloads"]]
    assert all(NAME.match(n) for n in names), names
    assert len(names) == len(set(names))
    assert [m["name"] for m in b["per_layer"]] == layers.metric_names()
    assert sorted(w["name"] for w in b["workloads"]) == sorted(
        workloads.WORKLOADS)
    for m in b["per_layer"]:
        assert m["unit"] == layers.metric_unit(m["name"])


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},   # overlaps 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # clipped at 10
        {"id": 4, "parent": 2, "start": 2.5, "end": 4.0},   # grandchild
    ]
    st = layers.self_times(spans)
    assert st[0] == pytest.approx(10 - (4 + 1))
    assert st[1] == pytest.approx(2)
    assert st[2] == pytest.approx(3 - 1.5)
    assert st[4] == pytest.approx(1.5)


def test_covered_merges_and_clips():
    assert layers.covered([], 0, 1) == 0
    assert layers.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert layers.covered([(-5, 20)], 0, 10) == 10
    assert layers.covered([(4, 3)], 0, 10) == 0


@pytest.mark.parametrize("text,value", [
    ("1,234", 1234.0),
    ("0", 0.0),
    ("total (min, med, max (stageId: taskId))\n"
     "12.5 MiB (1.0 MiB, 2.0 MiB, 4.0 MiB (stage 3.0: task 7))",
     12.5 * 1024 * 1024),
    ("total (min, med, max (stageId: taskId))\n"
     "1.2 s (10 ms, 0.3 s, 0.5 s (stage 1.0: task 2))", 1.2),
    ("35 ms", 0.035),
    ("2.0 m", 120.0),
    (None, 0.0),
])
def test_parse_metric(text, value):
    assert layers.parse_metric(text) == pytest.approx(value)


def _driver_check_norm():
    """``norm`` from scripts/driver_check.py, which runs a gate when
    imported, so the function alone is extracted from its source."""
    path = os.path.join(ROOT, "scripts", "driver_check.py")
    with open(path) as fh:
        tree = ast.parse(fh.read())
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == "norm")
    ns = {"math": __import__("math")}
    exec(compile(ast.Module([fn], []), path, "exec"), ns)
    return ns["norm"]


def test_norm_agrees_with_driver_check_on_mixed_rows():
    import datetime
    import decimal
    rows = [
        (1, "a", 0.1 + 0.2, None, True, datetime.date(2024, 1, 2)),
        (2, None, float("nan"), 3, False,
         datetime.datetime(2024, 1, 2, 3, 4, 5, 6)),
        (-7, "é", 1e300, decimal.Decimal("1.50"), None, "x"),
        (0, "", -0.0, 2**62, True, b"raw"),
    ]
    cols = ["z", "b", "a", "y", "c", "d"]
    assert workloads.norm(rows, cols) == _driver_check_norm()(rows, cols)
    assert workloads.norm(rows[::-1], cols) == workloads.norm(rows, cols)


def test_same_seed_gives_byte_identical_parquet(tmp_path):
    a = inputs.ensure(str(tmp_path / "a"), 7, 2, 2)
    b = inputs.ensure(str(tmp_path / "b"), 7, 2, 2)
    c = inputs.ensure(str(tmp_path / "c"), 8, 2, 2)
    assert inputs.digest(a) == inputs.digest(b)
    assert inputs.digest(a) != inputs.digest(c)
    with open(os.path.join(a, "_DONE")) as fh:
        assert fh.read().strip() == inputs.digest(a)


def test_shingles_mirror_the_engine_tokenizer():
    assert workloads._shingles("The cat, the HAT!") == {
        "the cat the", "cat the hat"}
    assert workloads._shingles("two words") == {"two words"}
    assert workloads._shingles("  ") == set()
    docs = [(1, "a b c d e"), (2, "a b c d e dup"), (3, "x y z w v")]
    assert workloads._jaccard_pairs(docs, 0.5) == [(1, 2)]


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "relational",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
