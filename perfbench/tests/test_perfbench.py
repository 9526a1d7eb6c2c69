"""The benchmark's own tests: seeded generators, output checks that count
corrupted results as failures, the event-log fold, and the contract of
``BENCHMARK.json``. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, spec, tracing, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_wordlist_is_deterministic_per_seed():
    def make(seed):
        rng = np.random.default_rng(seed)
        words = gen.distinct_words(rng, 500)
        return words, gen.wordlist_lines(rng, words, 0.2)

    assert make(7) == make(7)
    assert make(7) != make(8)
    words, lines = make(7)
    assert len(set(words)) == 500
    assert len(lines) == 625 and set(lines) == set(words)
    assert all(4 <= len(w) <= 20 and " " not in w and w.isprintable() for w in words)


@pytest.mark.parametrize("name", sorted(workloads.MIXES))
def test_plan_is_deterministic_and_keeps_the_mix(name):
    mix = workloads.MIXES[name]
    a, b = workloads.make_plan(mix, 3), workloads.make_plan(mix, 3)
    assert (a.served, a.build_lines, a.sample) == (b.served, b.build_lines, b.sample)
    assert a.ops == b.ops and a.warmup == b.warmup
    assert workloads.make_plan(mix, 4).ops != a.ops
    size = sum(mix.lookups) + len(mix.heavy)
    assert len(a.ops) == workloads.PLANNED_BLOCKS * size
    warm = [k for k, _ in a.warmup]
    assert len(warm) - len(mix.heavy) >= workloads.WARMUP_LOOKUPS
    assert warm[-len(mix.heavy):] == list(mix.heavy)
    block = [k for k, _ in a.ops[:size]]
    assert block[0] == mix.heavy[0]
    assert [block.count(k) for k in ("hit", "miss", "prefix")] == list(mix.lookups)
    assert [k for k in block if k in ("build", "append")] == list(mix.heavy)
    served = set(a.served)
    assert len(served) == mix.served_words and len(set(a.build_words)) == mix.build_distinct
    assert set(a.build_lines) == set(a.build_words) and set(a.sample) <= set(a.build_words)
    for kind, arg in a.warmup + a.ops:
        if kind == "hit":
            assert arg in served
        elif kind == "miss":
            assert arg not in served
        elif kind == "append":
            assert len(arg) == workloads.APPEND_WORDS
            assert len(set(arg) & served) == workloads.APPEND_OVERLAP
    misses = [arg for kind, arg in a.warmup + a.ops if kind == "miss"]
    appended = {w for kind, arg in a.warmup + a.ops if kind == "append" for w in arg}
    assert not set(misses) & appended


def test_heavy_operations_are_spread_through_each_block():
    ops = gen.block_ops(np.random.default_rng(0), 2, (20, 9, 20), ("append", "build"))
    assert [i for i, k in enumerate(ops) if k in ("append", "build")] == [0, 25, 51, 76]


def _write_db(path, words, corrupt=None, drop=None):
    """A two-file hash database of ``words``, sorted by hash, optionally
    with one wrong preimage or one missing row."""
    rows = [(d, w, a) for w in words for a, d in gen.digests(w).items()]
    rows.sort()
    if corrupt is not None:
        h, _, a = rows[corrupt]
        rows[corrupt] = (h, "not-the-preimage", a)
    if drop is not None:
        del rows[drop]
    os.makedirs(path)
    half = len(rows) // 2
    for i, part in enumerate((rows[:half], rows[half:])):
        table = pa.table({
            "hash": pa.array([r[0] for r in part], pa.binary()),
            "preimage": [r[1] for r in part],
            "algorithm": [r[2] for r in part],
        })
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
    return len(rows)


@pytest.fixture
def words():
    return gen.distinct_words(np.random.default_rng(1), 40)


def _check(path, words, n_rows):
    meta = {"algorithms": sorted(workloads.ALGOS), "sources": ["w.txt"]}
    return workloads.check_build(str(path), {"total_records": n_rows}, meta, "w.txt",
                                 len(words), words)


def test_clean_build_output_passes(tmp_path, words):
    n = _write_db(tmp_path / "db", words)
    problems, info = _check(tmp_path / "db", words, n)
    assert problems == []
    assert info["files"] == 2 and info["rows"] == 80 and info["disjoint"]


def test_wrong_preimage_is_a_failure(tmp_path, words):
    n = _write_db(tmp_path / "db", words, corrupt=5)
    problems, _ = _check(tmp_path / "db", words, n)
    assert problems
    out = workloads.Outcome()
    out.record(not problems, "; ".join(problems))
    out.record(True)
    assert (out.attempted, out.failed) == (2, 1)


def test_missing_row_is_a_failure(tmp_path, words):
    n = _write_db(tmp_path / "db", words, drop=3)
    problems, _ = _check(tmp_path / "db", words, n)
    assert any("total_records" in p for p in problems)


def test_lookup_checks_catch_wrong_results():
    w = "hello"
    good = [{"hash": gen.digests(w)["sha256"], "preimage": w, "algorithm": "sha256"}]
    assert workloads.check_hit(good, w) == ""
    assert workloads.check_hit([dict(good[0], preimage="other")], w)
    assert workloads.check_hit([], w)
    assert workloads.check_miss([]) == "" and workloads.check_miss(good)
    p = good[0]["hash"][:2]
    assert workloads.check_prefix(good, p, 1) == ""
    assert workloads.check_prefix(good, p, 2)  # a missing row
    assert workloads.check_prefix(good, b"\x00\x00" if p != b"\x00\x00" else b"\x01\x01", 1)


def test_digest_index_counts_prefixes():
    idx = workloads.DigestIndex()
    words = gen.distinct_words(np.random.default_rng(2), 300)
    idx.add(words)
    idx.add(words[:10])  # re-adding known words changes nothing
    assert len(idx) == 600
    p = gen.digests(words[0])["sha256"][:1]
    expected = sum(d.startswith(p) for w in words for d in gen.digests(w).values())
    assert idx.count_prefix(p) == expected


def test_fold_attributes_jobs_tasks_and_driver_gap():
    props = {"spark.jobGroup.id": "span-0"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 10_000,
         "Properties": props},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 4},
         "Properties": props},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4, "Task Metrics": {
            "Executor Run Time": 500, "Executor CPU Time": 400_000_000,
            "Input Metrics": {"Bytes Read": 100, "Records Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 30}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 11_000},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 10_500,
         "Properties": {"spark.jobGroup.id": "span-1"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 12_000},
    ]
    groups = tracing.fold_events(events)
    g = groups["span-0"]
    assert (g.jobs, g.stages, g.tasks) == (1, 1, 1)
    assert g.executor_cpu_s == pytest.approx(0.4)
    assert (g.input_bytes, g.input_records, g.shuffle_write_bytes) == (100, 7, 30)
    tr = tracing.Tracer()
    outer = tracing.Span(0, "op", 9.0, 13.0, None, "op#0")
    inner = tracing.Span(1, "child", 10.0, 12.5, 0, "op#0")
    tr.spans = [outer, inner]
    total, gap = tr.stats(outer, groups)
    assert total.jobs == 2
    # jobs cover [10, 12] of the span's [9, 13]
    assert gap == pytest.approx(2.0)


def test_benchmark_json_matches_the_registry():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        assert json.load(fh) == spec.benchmark_json()
    names = [m.name for m in spec.END_TO_END + spec.PER_LAYER] + list(spec.WORKLOADS)
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m.unit)
               for m in spec.END_TO_END + spec.PER_LAYER)
    assert all(len(why) <= 200 and "\n" not in why for why in spec.WORKLOADS.values())
    assert all(0 < m.bound <= 0.25 for m in spec.END_TO_END)
    assert max(m.bound for m in spec.END_TO_END) == spec.END_TO_END[0].bound  # setup_s
    assert len(spec.PER_LAYER) <= 128 and 1 <= spec.RUN_SECONDS <= 60
    assert all(m.moves for m in spec.PER_LAYER)
    assert spec.metrics_for(trace=False) == spec.END_TO_END
    assert spec.metrics_for(trace=True) == spec.PER_LAYER
    assert sorted(spec.WORKLOADS) == sorted(workloads.MIXES)


def test_refuses_to_run_without_the_program(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for f in os.listdir(os.path.join(ROOT, "perfbench")):
        if f.endswith(".py"):
            with open(os.path.join(ROOT, "perfbench", f)) as src:
                (tmp_path / "perfbench" / f).write_text(src.read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "build", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_cut_ends_the_caller_at_the_named_call():
    import types

    mod = types.ModuleType("fake_pipeline")
    mod.first = lambda x: x + 1
    mod.second = lambda x: x * 10
    run = lambda: mod.second(mod.first(1))  # noqa: E731
    seen = []
    dt = workloads.time_until_cut(mod, "second", seen.append, run)
    assert seen == [2] and dt >= 0
    assert run() == 20  # the module is restored
    # a call that no longer happens is an error, not a silent full run
    with pytest.raises(RuntimeError, match="never reached"):
        workloads.time_until_cut(mod, "second", seen.append, lambda: mod.first(1))
    assert mod.second(2) == 20


def test_build_cuts_name_calls_that_build_makes_in_order():
    import ast
    import inspect
    import textwrap

    fn = workloads.program("pipeline.build").build
    tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    calls = sorted(
        (node.lineno, node.func.id) for node in ast.walk(tree)
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
    )
    order = [name for _, name in calls]
    wanted = [nxt for _, nxt, _ in workloads.BUILD_CUTS]
    assert [order.index(c) for c in wanted] == sorted(order.index(c) for c in wanted)


def test_tracing_overhead_uses_only_runs_of_the_same_code_and_length(tmp_path, monkeypatch):
    from perfbench import run

    monkeypatch.setattr(run, "WORK_ROOT", str(tmp_path))
    key = {"source_digest": "abc", "seconds": 20.0}
    os.makedirs(tmp_path / "history")
    with open(run.history_path("serve"), "w") as fh:
        for k, v in [(key, 10.0), (key, 12.0), (dict(key, seconds=5.0), 99.0),
                     (dict(key, source_digest="old"), 99.0)]:
            fh.write(json.dumps({"key": k, "seed": 1, "metrics": {"append_s": v}}) + "\n")
    got = run.tracing_overhead("serve", key, {"append_s": 15.0})
    assert got["append_s"]["untraced_runs"] == 2
    assert got["append_s"]["delta"] == pytest.approx(4.0)
    assert run.tracing_overhead("serve", dict(key, source_digest="new"), {"append_s": 1.0}) is None
    assert run.tracing_overhead("build", key, {"setup_s": 1.0}) is None
