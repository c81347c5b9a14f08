"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests start Spark once per workload and mode (about half a
minute each).
"""

from __future__ import annotations

import decimal
import json
import os
import shutil
import subprocess
import sys
from collections import Counter, defaultdict

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import report  # noqa: E402
from tracing import Span, covered, self_times  # noqa: E402


# --------------------------------------------------------------------------
# span arithmetic
# --------------------------------------------------------------------------
def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 4), (3, 6), (8, 9)], 0, 10) == pytest.approx(6)
    assert covered([(1, 4), (3, 6)], 2, 5) == pytest.approx(3)
    assert covered([(5, 6)], 0, 4) == 0
    assert covered([], 0, 4) == 0


def test_self_time_on_a_synthetic_span_tree():
    spans = [
        Span(0, 0, "op", 0.0, 10.0),
        Span(1, 0, "plans.build_dims", 1.0, 4.0, parent=0),
        Span(2, 0, "plans.build_fact", 3.0, 6.0, parent=0),  # overlaps its sibling
        Span(3, 0, "sources.save", 1.5, 2.5, parent=1),
        Span(4, 0, "sources.save", 3.5, 7.0, parent=2),  # runs past its parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3 - 2.5)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(3.5)


# --------------------------------------------------------------------------
# generator
# --------------------------------------------------------------------------
def _files(d: str) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    for name, seed in (("a", 11), ("b", 11), ("c", 12)):
        gen.write_star(str(tmp_path / name), seed, sf=0.001)
        gen.write_corpus(str(tmp_path / name), seed, n_docs=400)
    a, b, c = (_files(str(tmp_path / n)) for n in "abc")
    assert len(a) == 10
    assert a == b
    assert a["documents.parquet"] != c["documents.parquet"]
    assert a["lineitem.parquet"] != c["lineitem.parquet"]


def _reference_pairs(texts: list[str], threshold: float) -> list[tuple[int, int, float]]:
    """Pure-Python 3-shingle Jaccard join, the reference for the
    DuckDB query in ``gen.corpus_stats``."""
    sets = [{tuple(t.split()[i : i + 3]) for i in range(len(t.split()) - 2)} for t in texts]
    postings = defaultdict(list)
    for i, s in enumerate(sets):
        for g in s:
            postings[g].append(i)
    common = Counter()
    for ids in postings.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                common[(ids[x], ids[y])] += 1
    out = []
    for (a, b), c in common.items():
        j = c / (len(sets[a]) + len(sets[b]) - c)
        if j >= threshold:
            out.append((a, b, j))
    return out


def test_corpus_stats_match_a_python_reference(tmp_path):
    gen.write_corpus(str(tmp_path), seed=5, n_docs=600)
    stats = gen.corpus_stats(str(tmp_path))
    texts = pd.read_parquet(tmp_path / "documents.parquet")["text"].tolist()
    pairs = _reference_pairs(texts, 0.3)
    near = [p for p in pairs if p[2] >= 0.5]
    assert stats["pairs_per_doc"] == pytest.approx(len(near) / len(texts), abs=1e-5)
    assert stats["near_dup_share"] == pytest.approx(
        len({d for a, b, _ in near for d in (a, b)}) / len(texts), abs=1e-5
    )
    assert stats["pairs_between_0.3_and_0.5"] == len(pairs) - len(near)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_corpus_matches_sf01_duplicate_structure(tmp_path, seed):
    gen.write_corpus(str(tmp_path), seed=seed, n_docs=5000)
    s = gen.corpus_stats(str(tmp_path))
    assert s["docs"] == 5000
    assert abs(s["near_dup_share"] - 0.095) <= 0.01
    assert abs(s["pairs_per_doc"] - 0.05) <= 0.005
    assert s["min_planted_jaccard"] >= 0.9
    assert s["pairs_between_0.3_and_0.5"] == 0
    assert s["exact_dup_share"] == pytest.approx(8 / 5000)
    assert s["distinct_vectors"] == s["vectors"] == 2000
    docs = pd.read_parquet(tmp_path / "documents.parquet")
    n_tokens = docs["text"].str.split().str.len()
    assert n_tokens.min() >= 10 and n_tokens.max() <= 101
    assert 0.37 <= (docs["lang"] == "en").mean() <= 0.45
    assert docs["source"].nunique() == gen.N_SOURCES


# --------------------------------------------------------------------------
# output digests
# --------------------------------------------------------------------------
def test_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, None]})
    b = pd.DataFrame({"v": [None, 0.5, 1.25], "k": [3, 1, 2]})
    assert checks.digest(a) == checks.digest(b)
    assert checks.digest(a) != checks.digest(a.assign(v=[0.5, 1.25, 2.0]))


def test_digest_equates_engine_representations():
    # Spark: a null in an integer column arrives as NaN in a float column,
    # decimals as Decimal objects; DuckDB: Python ints and floats.
    spark = pd.DataFrame({"n": [1.0, np.nan], "pct": [decimal.Decimal("0.4590"), decimal.Decimal("0.0000")]})
    duck = pd.DataFrame({"n": pd.Series([1, None], dtype=object), "pct": [0.459, 0.0]})
    assert checks.digest(spark) == checks.digest(duck)


def test_digest_keeps_multiset_counts():
    a = pd.DataFrame({"x": ["a", "a", "b"]})
    b = pd.DataFrame({"x": ["a", "b", "b"]})
    assert checks.digest(a) != checks.digest(b)


def test_components_label_by_smallest_node():
    import workloads

    got = sorted(workloads.components([(5, 3), (3, 9), (2, 7)]))
    assert got == [(2, 2), (3, 3), (5, 3), (7, 2), (9, 3)]


# --------------------------------------------------------------------------
# the contract file and the end-to-end smoke runs
# --------------------------------------------------------------------------
def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_lists_what_the_runner_prints():
    bj = _bench_json()
    assert [(m["name"], m["unit"], m["better"]) for m in bj["end_to_end"]] == report.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bj["per_layer"]] == report.PER_LAYER
    assert any(m["name"] == "setup_s" for m in bj["end_to_end"])


def _run(args: list[str], cwd: str = ROOT, timeout: int = 300) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=timeout,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _bench_json()["workloads"]])
def test_smoke_run(workload, trace):
    out = _run(["--workload", workload, "--seed", "3", "--seconds", "2", "--trace", str(trace), "--smoke"])
    assert out.returncode == 0, out.stderr[-3000:] + out.stdout[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    names = report.PER_LAYER if trace else report.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {n: u for n, u, _ in names}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".runs", "__pycache__"))
    out = _run(["--workload", "curation", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=str(tmp_path), timeout=60)
    assert out.returncode != 0
    assert not out.stdout.strip()


def test_close_enough_tolerates_last_digit_float_noise_only():
    a = pd.DataFrame({"g": ["x", "y"], "avg": [274136.4575, 1.0]})
    b = pd.DataFrame({"avg": [1.0, 274136.45749999996], "g": ["y", "x"]})
    assert checks.digest(a) != checks.digest(b)
    assert checks.close_enough(a, b)
    assert not checks.close_enough(a, b.assign(avg=[1.0, 274136.46]))
    assert not checks.close_enough(a, b.assign(g=["y", "z"]))
