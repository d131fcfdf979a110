"""Tests of the benchmark's own helpers, plus one tiny-corpus smoke run.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import hostinfo  # noqa: E402
import lifecycle  # noqa: E402
import spans  # noqa: E402
from run import E2E_UNITS  # noqa: E402


def _span(name, start, end, parent=None, jobs=0, tasks=0):
    s = spans.Span(name=name, start=start, end=end, parent=parent)
    s.job_ids = list(range(jobs))
    s.tasks = tasks
    return s


def test_self_time_subtracts_union_of_children():
    tree = [
        _span("root", 0.0, 10.0),
        _span("a", 1.0, 3.0, parent=0),
        _span("b", 2.0, 5.0, parent=0),      # overlaps a: [1, 5] is covered
        _span("c", 6.0, 7.0, parent=0),
        _span("a.leaf", 1.5, 2.5, parent=1),
    ]
    assert spans.self_times(tree) == pytest.approx([5.0, 1.0, 3.0, 1.0, 1.0])


def test_self_time_clips_children_to_parent():
    tree = [_span("root", 0.0, 4.0), _span("late", 3.0, 6.0, parent=0)]
    assert spans.self_times(tree)[0] == pytest.approx(3.0)


def test_layer_metrics_inclusive_counts_and_same_name_sum():
    tree = [
        _span("pipeline.extract", 0.0, 10.0, jobs=1, tasks=2),
        _span("mentions.scan", 0.0, 4.0, parent=0, jobs=2, tasks=8),
        _span("mentions.scan", 5.0, 6.0, parent=0, jobs=1, tasks=4),
    ]
    tree[1].rows_out, tree[2].rows_out = 10, 5
    tree[1].cpu_s = 8.0
    m = spans.layer_metrics(tree)
    assert m["pipeline.extract"]["jobs"] == 4
    assert m["pipeline.extract"]["tasks"] == 14
    assert m["pipeline.extract"]["self_s"] == pytest.approx(5.0)
    assert m["mentions.scan"]["wall_s"] == pytest.approx(5.0)
    assert m["mentions.scan"]["rows_out"] == 15
    assert m["mentions.scan"]["busy_cores"] == pytest.approx(8.0 / 5.0)
    assert set(m["mentions.scan"]) == set(spans.FIELDS)


def test_digest_is_order_and_multiplicity_independent():
    rows = [("A", "birthPlace", "X"), ("B", "employer", "Y"),
            ("C", "almaMater", "Z")]
    d = checks.triple_digest(rows)
    assert checks.triple_digest(list(reversed(rows))) == d
    assert checks.triple_digest(rows + rows[:1]) == d
    assert checks.triple_digest(rows[:2]) != d
    assert checks.triple_digest([("A", "birthPlace", "X2")] + rows[1:]) != d


def test_micro_pr_sums_over_relations():
    rows = [{"right": 3, "wrong": 1, "known": 4},
            {"right": 1, "wrong": 0, "known": 2}]
    assert checks.micro_pr(rows) == pytest.approx((4 / 5, 4 / 6))


def test_ledger_counts_checks_and_failed_ops():
    ledger = checks.Ledger()
    ledger.check("ok", True)
    ledger.check("bad", False, "detail")
    with pytest.raises(RuntimeError):
        with ledger.op("boom"):
            raise RuntimeError("x")
    assert (ledger.attempted, ledger.failed) == (3, 2)


def test_digest_matches_across_runs(tmp_path):
    ledger = checks.Ledger()
    checks.check_digest(ledger, str(tmp_path), "h-s1-n10-thin", "a", "d1")
    checks.check_digest(ledger, str(tmp_path), "h-s1-n10-thin", "b", "d1")
    assert ledger.failed == 0
    checks.check_digest(ledger, str(tmp_path), "h-s1-n10-thin", "c", "d2")
    assert ledger.failed == 1


def test_source_hash_follows_the_program(tmp_path):
    for top in ("fact_extraction_spark", "perfbench"):
        (tmp_path / top).mkdir()
        (tmp_path / top / "m.py").write_text("x = 1\n")
    before = checks.source_hash(str(tmp_path))
    assert checks.source_hash(str(tmp_path)) == before
    (tmp_path / "fact_extraction_spark" / "m.py").write_text("x = 2\n")
    assert checks.source_hash(str(tmp_path)) != before


def test_decoys_share_a_type_and_follow_the_seed():
    by_type = {"Settlement": [f"C{i}_City" for i in range(10)],
               "Company": [f"W{i}_Works" for i in range(4)],
               "University": ["Only_University"]}
    d = lifecycle.decoys(by_type, seed=7)
    assert d == lifecycle.decoys(by_type, seed=7)
    assert d != lifecycle.decoys(by_type, seed=8)
    assert sum(e.endswith("_City") for e in d) == 5
    assert sum(e.endswith("_Works") for e in d) == 2
    for entity, decoy in d.items():
        assert decoy != entity
        assert decoy.rsplit("_", 1)[1] == entity.rsplit("_", 1)[1]


def test_driver_heap_sizing_bounds():
    assert hostinfo.driver_heap_mb(16093) == 4608
    assert hostinfo.driver_heap_mb(2048) == 1024
    assert hostinfo.driver_heap_mb(512 * 1024) == 8192
    assert hostinfo.driver_heap_mb(10000) % 256 == 0


def test_reaper_ends_orphaned_grandchildren():
    script = textwrap.dedent("""
        import os, subprocess, sys
        sys.path.insert(0, sys.argv[1])
        import reaper
        reaper.become_subreaper()
        # the shell exits at once and leaves its sleep orphaned
        orphan = int(subprocess.run(
            ["sh", "-c", "sleep 60 >/dev/null 2>&1 & echo $!"],
            capture_output=True, text=True).stdout)
        assert orphan in reaper.children()
        left = reaper.reap_children(grace_s=0.2, term_s=2.0)
        print(left, os.path.exists(f"/proc/{orphan}"))
    """)
    p = subprocess.run([sys.executable, "-c", script, BENCH],
                       capture_output=True, text=True, timeout=60)
    assert p.returncode == 0, p.stderr
    assert p.stdout.split() == ["[]", "False"]


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_and_units_are_well_formed():
    names = list(E2E_UNITS) + list(lifecycle.per_layer_units())
    assert len(names) == len(set(names))
    for name in names:
        assert checks.METRIC_NAME.fullmatch(name), name
    for unit in list(E2E_UNITS.values()) + list(
            lifecycle.per_layer_units().values()):
        assert len(unit) <= 16 and all(
            c.isalnum() or c in "_/%.-" for c in unit), unit


def test_benchmark_json_lists_what_the_run_reports():
    b = _benchmark()
    assert {m["name"]: m["unit"] for m in b["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == \
        lifecycle.per_layer_units()
    assert {w["name"] for w in b["workloads"]} <= set(lifecycle.WORKLOADS)
    assert all(m["bound"] <= 0.25 for m in b["end_to_end"])


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "wiki_anchors",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_smoke_tiny_corpus_traced_web_fat():
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "web_fat",
         "--seed", "3", "--seconds", "1", "--trace", "1",
         "--persons", "40", "--fat-kb", "4"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    lines = p.stdout.strip().splitlines()
    info, result = json.loads(lines[-2])["perfbench"], json.loads(lines[-1])
    assert result["correct"], info["errors"]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert set(result["metrics"]) == set(lifecycle.per_layer_units())
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["mentions.scan.wall_s"] > 0
    assert m["mentions.dict_context.jobs"] > 0
    assert m["mentions.candidates.jobs"] > 0
    assert m["link_ranking.disambiguate.jobs"] > 0
    assert 0 < m["link_ranking.ambiguous_share"] < 1
    assert m["sinks.resume.rows_out"] == 0
    assert 0.8 < m["pipeline.extract.segment_ratio"] < 1.3
