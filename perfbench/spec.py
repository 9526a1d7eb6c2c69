"""The benchmark's metrics: one registry that the harness reports from and
that ``BENCHMARK.json`` is rendered from (``python3 perfbench/spec.py``
prints it; a test keeps the committed file in step).

Every workload reports every metric: both run fresh builds, point hits,
point misses, prefix scans and appends, in different mixes and sizes.
For a per-layer metric the registry also records the end-to-end metric
it should move.

Scope notes:

* ``bench.py`` at the repository root stays the untouched headline
  bench (its three tail lines are pinned by
  ``tests/test_bench_contract.py``). This benchmark is the one later
  changes claim against.
* The Python-UDF digest lane (keccak256, blake3, ripemd160, hash160) is
  left out: a 300k-line keccak256 build spread 8.2-12.1 s between runs,
  wider than any bound this benchmark could hold. Both workloads use the
  JVM-native sha256 and md5 digests.
* The registry-query ("analytics") workload is left out: on 4 cores the
  first pass over the 10 bench queries took 23.5 s and warm passes
  10.4-13.6 s, so one run of it needs about 60 s, more than the run-time
  budget of a three-workload benchmark leaves per run.
* The input sizes are smaller than a production wordlist (build: 50k
  lines per fresh build; serve: a 200k-record database) for the same
  reason: a run, set-up included, has to finish in about a minute.
* The 90th-percentile latencies of point hits and prefix scans are
  printed with their sample counts on the run's metadata line, not
  gated as metrics: a run gives them 50-100 samples, and over ten seeds
  on 4 vCPUs their spread (IQR/median) was 0.31 and 0.42, above any
  bound this benchmark may set.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

RUN_SECONDS = 20

WORKLOADS = {
    "build": (
        "Batch-heavy: per 13 ops 2 fresh builds of a 50k-line wordlist (40k distinct), "
        "1 append of 2k words, 10 lookups on a 100k-record sha256+md5 DB; closed loop, 1 client."
    ),
    "serve": (
        "Lookup-heavy: per 36 ops 14 point hits, 6 misses, 14 2-byte prefix scans (limit 100), "
        "1 append of 2k words on a 200k-record DB, 1 25k-line build; closed loop, 1 client."
    ),
}


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    bound: float | None = None  # end-to-end metrics only
    moves: str = ""  # per-layer metrics: the end-to-end metric it should move


END_TO_END = [
    Metric("setup_s", "s", "lower", bound=0.25),
    Metric("build_words_per_s", "words/s", "higher", bound=0.25),
    # bytes per record do not change between runs of one seed, but differ
    # by about 2% between seeds (IQR/median over ten seeds)
    Metric("db_bytes_per_record", "B", "lower", bound=0.1),
    Metric("point_hit_p50_ms", "ms", "lower", bound=0.25),
    Metric("point_miss_p50_ms", "ms", "lower", bound=0.25),
    Metric("prefix_scan_p50_ms", "ms", "lower", bound=0.25),
    Metric("append_s", "s", "lower", bound=0.25),
    Metric("peak_rss_mb", "MB", "lower", bound=0.25),
]


def _layer(name, unit, better, moves):
    return Metric(name, unit, better, moves=moves)


_BUILD_MOVES = "build_words_per_s, db_bytes_per_record; append_s (appends reuse the build stages)"
_APPEND_MOVES = "append_s, point_hit_p50_ms"
_POINT_MOVES = "point_hit_p50_ms"
_PREFIX_MOVES = "prefix_scan_p50_ms"

PER_LAYER = [
    _layer("session.start_s", "s", "lower", "setup_s"),
    _layer("sources.parse_s", "s", "lower", "build_words_per_s; append_s (slightly)"),
    _layer("sources.fingerprint_mb_per_s", "MB/s", "higher",
           "build_words_per_s; append_s (slightly)"),
    _layer("sources.words_in", "count", "higher", "input size, fixed per workload"),
    _layer("hashers.sha256.words_per_s", "words/s", "higher", "build_words_per_s"),
    _layer("hashers.md5.words_per_s", "words/s", "higher", "build_words_per_s"),
    # no build.gc_s or build.spill_bytes: at these sizes a build neither
    # collects garbage inside its tasks nor spills, so both read 0
    *[
        _layer(f"build.{n}", u, b, _BUILD_MOVES)
        for n, u, b in [
            ("wall_s", "s", "lower"),
            ("jobs", "count", "lower"),
            ("tasks", "count", "lower"),
            ("executor_run_s", "s", "lower"),
            ("executor_cpu_s", "s", "lower"),
            ("driver_gap_s", "s", "lower"),
            ("shuffle_write_bytes", "B", "lower"),
            ("shuffle_read_bytes", "B", "lower"),
            ("unique_ratio", "ratio", "higher"),
            ("records_written", "count", "higher"),
            ("output_bytes", "B", "lower"),
            ("output_files", "count", "lower"),
            ("row_groups", "count", "lower"),
            ("cum.dedup_words_s", "s", "lower"),
            ("cum.hash_fanout_s", "s", "lower"),
            ("cum.sort_for_write_s", "s", "lower"),
            ("cum.write_hashdb_s", "s", "lower"),
        ]
    ],
    *[
        _layer(f"append.{n}", u, b, _APPEND_MOVES)
        for n, u, b in [
            ("wall_s", "s", "lower"),
            ("jobs", "count", "lower"),
            ("tasks", "count", "lower"),
            ("executor_cpu_s", "s", "lower"),
            ("shuffle_write_bytes", "B", "lower"),
            ("driver_gap_s", "s", "lower"),
            ("bytes_written", "B", "lower"),
            ("write_amplification", "ratio", "lower"),
            ("records_rewritten", "count", "lower"),
        ]
    ],
    _layer("snapshot.live_files", "count", "lower", "point_hit_p50_ms, prefix_scan_p50_ms"),
    _layer("query.construct_ms", "ms", "lower",
           "point_hit_p50_ms, point_miss_p50_ms, prefix_scan_p50_ms"),
    *[
        _layer(f"query.point_hit.{n}", u, "lower", _POINT_MOVES)
        for n, u in [
            ("jobs", "count"),
            ("tasks", "count"),
            ("bytes_read", "B"),
            ("rows_read_per_result", "ratio"),
            ("driver_gap_ms", "ms"),
        ]
    ],
    # bytes read on a miss are the footers and bloom filters; they grow by
    # the row groups' data pages as soon as the bloom or min/max stops
    # skipping (rows read would be 0 while both skip, so it is no metric)
    _layer("query.point_miss.bytes_read", "B", "lower", "point_miss_p50_ms"),
    _layer("query.point_miss.driver_gap_ms", "ms", "lower", "point_miss_p50_ms"),
    *[
        _layer(f"query.prefix.{n}", u, "lower", _PREFIX_MOVES)
        for n, u in [
            ("jobs", "count"),
            ("bytes_read", "B"),
            ("rows_read_per_result", "ratio"),
            ("driver_gap_ms", "ms"),
        ]
    ],
]


def metrics_for(trace: bool) -> list[Metric]:
    """What a run prints: every per-layer metric when traced, every
    end-to-end metric otherwise."""
    return PER_LAYER if trace else END_TO_END


def benchmark_json() -> dict:
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": why} for n, why in WORKLOADS.items()],
        "end_to_end": [
            {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound}
            for m in END_TO_END
        ],
        "per_layer": [
            {"name": m.name, "unit": m.unit, "better": m.better} for m in PER_LAYER
        ],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
