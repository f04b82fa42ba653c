"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import checks, run, workloads
from perfbench.counters import covered_seconds

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_lists_the_metrics_the_runner_prints():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("trace", [False, True])
def test_every_metric_is_printed_with_its_unit(trace):
    units = run.PER_LAYER if trace else run.END_TO_END
    line = run.result_line(True, 3, 0, {k: 1.5 for k in units}, trace)
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"] == {k: {"value": 1.5, "unit": u} for k, u in units.items()}
    assert all(u for u in units.values())


def test_a_missing_metric_is_an_error_not_a_silent_gap():
    values = dict.fromkeys(run.END_TO_END, 1.0)
    del values["run_s"]
    with pytest.raises(KeyError):
        run.result_line(True, 1, 0, values, False)


# ----------------------------------------------------------- triple check
def test_triple_check_passes_on_the_expected_set_and_fails_on_a_drop():
    expected = checks.expected_triples(n_pages=2, seed=1, body_scale=1)
    assert 0 < len(expected) < 20  # so one missing triple costs > 5% recall
    got = sorted(expected)
    assert checks.check_triples(expected, got)[1] == []
    _, problems = checks.check_triples(expected, got[1:])
    assert problems and "recall" in problems[0]


def test_triple_check_fails_on_spurious_triples():
    expected = checks.expected_triples(n_pages=2, seed=1, body_scale=1)
    got = sorted(expected) + [("X", "mentions", "Y", "u")]
    _, problems = checks.check_triples(expected, got)
    assert problems and "precision" in problems[0]


def test_expected_triples_follow_body_scale():
    small = checks.expected_triples(n_pages=3, seed=2, body_scale=1)
    large = checks.expected_triples(n_pages=3, seed=2, body_scale=32)
    assert len(large) > 3 * len(small)


# ------------------------------------------------------------ graph check
RELATED = [("a", "b", 3), ("a", "c", 1), ("b", "a", 2)]
CANDS = [("a", "Quasar")] * 12 + [("b", "Nebula")]


def test_graph_check_passes_on_valid_output():
    assert checks.check_graph(RELATED, CANDS, def_limit=12) == []


def test_graph_check_fails_on_a_self_link():
    problems = checks.check_graph(RELATED + [("c", "c", 4)], CANDS, 12)
    assert problems and "self-link" in problems[0]


def test_graph_check_fails_on_a_non_positive_score():
    assert checks.check_graph(RELATED + [("c", "a", 0)], CANDS, 12)


def test_graph_check_fails_over_def_limit():
    assert checks.check_graph(RELATED, CANDS + [("a", "Quasar")], 12)


def test_relate_answers_must_match_the_table():
    answers = {"a": [("a", "b", 3), ("a", "c", 1)], "z": []}
    assert checks.check_relate_answers(answers, RELATED, top=10) == []
    assert checks.check_relate_answers(answers, RELATED, top=1)
    perturbed = {"a": [("a", "b", 4), ("a", "c", 1)]}
    assert checks.check_relate_answers(perturbed, RELATED, top=10)


# ---------------------------------------------------------- lineage check
def _lineage(counts):
    return [{"stage": "triples", "bucket": b, "triple_count": n}
            for b, n in enumerate(counts)]


def test_lineage_check_passes_with_one_row_per_bucket():
    assert checks.check_lineage(_lineage([5] * 8), 8, rows_read=40) == []


def test_lineage_check_fails_on_a_duplicate_or_missing_commit():
    dup = _lineage([5] * 8) + _lineage([5])
    assert checks.check_lineage(dup, 8, rows_read=45)
    assert checks.check_lineage(_lineage([5] * 7), 8, rows_read=35)


def test_lineage_check_fails_when_counts_disagree_with_the_read():
    assert checks.check_lineage(_lineage([5] * 8), 8, rows_read=39)


# ---------------------------------------------------------------- helpers
def test_table_hash_ignores_row_order_but_not_values():
    assert checks.table_hash(RELATED) == checks.table_hash(RELATED[::-1])
    assert checks.table_hash(RELATED) != checks.table_hash(RELATED[:2])


def test_covered_seconds_is_the_clipped_union():
    assert covered_seconds([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered_seconds([(1, 3), (2, 5)], 2.5, 4) == 1.5
    assert covered_seconds([], 0, 10) == 0


def test_zipf_keys_repeat_for_a_seed_and_skew():
    a = workloads.zipf_keys(100, 2000, seed=3)
    assert a == workloads.zipf_keys(100, 2000, seed=3)
    assert a != workloads.zipf_keys(100, 2000, seed=4)
    assert all(0 <= k < 100 for k in a)
    top = max(a.count(k) for k in set(a))
    assert top > 2000 / 100 * 5  # the hottest key is far above uniform


def test_without_the_program_the_run_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_build",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
    assert not list(tmp_path.glob(".bench_work/run-*"))
