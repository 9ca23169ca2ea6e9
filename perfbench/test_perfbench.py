"""Self-tests for the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.report import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.stats import (METRIC_NAME, TAIL_MIN_BEYOND,  # noqa: E402
                             tail_percentile)


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def test_same_seed_gives_identical_warehouse(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    assert gen.write_warehouse(a, 7, 0.001) == gen.write_warehouse(b, 7, 0.001)
    gen.write_warehouse(c, 8, 0.001)
    assert _tree_bytes(a) == _tree_bytes(b)
    assert _tree_bytes(a) != _tree_bytes(c)


def test_same_seed_gives_identical_drops(tmp_path):
    sizes = dict(n_small=9, n_large=1, large_rows=200, n_books=3,
                 book_rows=20)
    drops = []
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        root = tmp_path / name
        drops.append(gen.make_drop(str(root / "drops"), str(root / "drive"),
                                   seed, 1, **sizes))
    trees = [_tree_bytes(str(tmp_path / n)) for n in "abc"]
    assert trees[0] == trees[1] and trees[0] != trees[2]
    a = drops[0]
    assert (a.csv_rows, a.book_rows, a.log_rows) == \
        (drops[1].csv_rows, drops[1].book_rows, drops[1].log_rows)
    # every routed table lands rows from both sources, so each logs
    assert all(a.csv_rows.values()) and a.log_rows == len(a.csv_rows) + 3
    # the drop covers all four encodings, empty files and the unrouted dir
    names = list(trees[0])
    assert any(gen.UNROUTED_DIR in n for n in names)
    assert any(not v for v in trees[0].values())


@pytest.mark.parametrize("n", list(range(1, 20)))
def test_tail_needs_twenty_samples(n):
    assert tail_percentile(list(range(n))) is None


@pytest.mark.parametrize("n", [20, 21, 29, 37, 50, 99, 100, 101, 250, 1000])
def test_tail_leaves_ten_samples_beyond(n):
    samples = [float(i) for i in range(n)]
    pct, value = tail_percentile(samples)
    assert sum(1 for s in samples if s > value) >= TAIL_MIN_BEYOND
    # the next whole percentile would leave fewer than ten beyond it
    assert (100 * (n - TAIL_MIN_BEYOND)) // n == pct
    assert n * (pct + 1) > 100 * (n - TAIL_MIN_BEYOND)


def test_metric_names_are_well_formed_and_declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared_e2e == END_TO_END
    assert declared_layer == {n: u for n, (u, _b) in PER_LAYER.items()}
    for name in [*declared_e2e, *declared_layer,
                 *(w["name"] for w in bench["workloads"])]:
        assert METRIC_NAME.fullmatch(name) and len(name) <= 64, name
