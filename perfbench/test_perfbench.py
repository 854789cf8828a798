"""Tests of the benchmark's own code: generator determinism, the span
arithmetic, pair F1, and one end-to-end smoke run from a temporary
working directory.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from run import pair_f1  # noqa: E402
from spans import self_times  # noqa: E402

GENERATORS = {
    "contacts": (lambda seed, d: gen.contacts(seed, 300, d),
                 ["gmail.csv", "linkedin.csv", "mac.vcf", "truth.json"]),
    "corpus": (lambda seed, d: gen.corpus(seed, 400, d),
               ["docs.parquet", "eval.parquet", "truth.json"]),
}


@pytest.mark.parametrize("kind", sorted(GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, kind):
    make, files = GENERATORS[kind]
    dirs = {}
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        dirs[name] = tmp_path / name
        dirs[name].mkdir()
        make(seed, str(dirs[name]))
    for f in files:
        assert filecmp.cmp(dirs["a"] / f, dirs["b"] / f, shallow=False), f
    assert any(not filecmp.cmp(dirs["a"] / f, dirs["c"] / f, shallow=False)
               for f in files)


def test_contacts_truth_plants_duplicates_and_near_misses(tmp_path):
    info = gen.contacts(3, 600, str(tmp_path))
    truth = json.loads((tmp_path / "truth.json").read_text())
    assert info["records"] == sum(len(v) for v in truth.values())
    # every LinkedIn / vCard row duplicates a Gmail person
    assert set(truth["linkedin"]) | set(truth["mac_vcf"]) <= \
        set(truth["gmail"])
    vcf = (tmp_path / "mac.vcf").read_text()
    gm = (tmp_path / "gmail.csv").read_text()
    gm_first = {line.split(",")[0] for line in gm.splitlines()[1:]}
    fn = [line.split(":", 1)[1].split()[0] for line in vcf.splitlines()
          if line.startswith("FN:")]
    assert sum(f not in gm_first for f in fn) > len(fn) // 4   # variants


def test_corpus_truth_is_consistent(tmp_path):
    gen.corpus(5, 800, str(tmp_path))
    truth = json.loads((tmp_path / "truth.json").read_text())
    assert truth["near_dups"] and truth["contaminated"]
    assert all(copy > base for copy, base in truth["near_dups"])
    planted = {c for c, _ in truth["near_dups"]}
    assert not planted & set(truth["contaminated"])


def test_self_times_subtract_children():
    spans = [
        {"id": "r", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "a", "parent": "r", "start": 1.0, "end": 4.0},
        {"id": "b", "parent": "r", "start": 5.0, "end": 9.0},
        {"id": "c", "parent": "b", "start": 6.0, "end": 7.0},
    ]
    st = self_times(spans)
    assert st == {"r": 3.0, "a": 3.0, "b": 3.0, "c": 1.0}


def test_pair_f1():
    truth = {1: "p", 2: "p", 3: "q", 4: "q"}
    assert pair_f1(dict(truth), truth) == 1.0
    # pred pairs 12, 13, 23 vs true 12, 34: P = 1/3, R = 1/2
    assert pair_f1({1: "x", 2: "x", 3: "y", 4: "z"} | {3: "x"}, truth) \
        == pytest.approx(0.4)


def test_smoke_from_temporary_cwd(tmp_path):
    """Spark's Python workers must import the package even though the
    benchmark is launched from an unrelated directory."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "corpus_curate", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    spec = json.load(open(os.path.join(os.path.dirname(HERE),
                                       "BENCHMARK.json")))
    assert set(res["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())
