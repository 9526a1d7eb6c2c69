"""The workloads: set-up, the measured closed loop, output checks, and the
per-layer metrics a traced run reports.

Both workloads run every kind of operation, fresh builds, point hits,
point misses, prefix scans and appends, so that each reports every
metric; they differ in the mix and the sizes (:data:`MIXES`). Set-up and
output checks sit outside the timed calls; the loop issues the next
operation only after the previous one returned (one client).
"""

from __future__ import annotations

import bisect
import contextlib
import glob
import importlib
import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

from perfbench import gen
from perfbench.tracing import GroupStats, Tracer

ALGOS = list(gen.ALGORITHMS)

REPEAT_FRAC = 0.2  # share of a fresh-build wordlist's lines that repeat a word
CHECK_SAMPLE = 32  # words of each fresh build checked against hashlib
APPEND_WORDS = 2_000  # words per append, APPEND_OVERLAP of them already stored
APPEND_OVERLAP = 200
PREFIX_BYTES = 2
PREFIX_LIMIT = 100
#: Warm-up is a fixed amount of work, not a time, so that a slow host's
#: runs start no colder than a fast host's: after the served database's
#: build (the first, cold operation), WARMUP_LOOKUPS lookups from
#: WARMUP_THREADS threads, then one round of the mix's builds and appends.
#: More would not fit a run's time budget.
WARMUP_LOOKUPS = 100
WARMUP_THREADS = 4
LOOKUPS = ("hit", "miss", "prefix")
PLANNED_BLOCKS = 40  # blocks of operations planned per run, more than a run reaches


@dataclass(frozen=True)
class Mix:
    """One workload: the database its lookups and appends go to, the
    wordlist its fresh builds read, and the operations of each block."""

    served_words: int  # distinct words of the served database (2 records each)
    build_distinct: int  # distinct words of the fresh-build wordlist, plus repeats
    lookups: tuple[int, int, int]  # point hits, point misses, prefix scans per block
    heavy: tuple[str, ...]  # builds and appends per block, spread evenly through it


MIXES = {
    # 40k distinct + 20% repeats = 50k lines -> 80k records per build
    "build": Mix(served_words=50_000, build_distinct=40_000, lookups=(4, 2, 4),
                 heavy=("build", "append", "build")),
    # hits, misses and prefix scans in the proportion 40:18:40, with one
    # append and one fresh build per 34 lookups
    "serve": Mix(served_words=100_000, build_distinct=20_000, lookups=(14, 6, 14),
                 heavy=("append", "build")),
}


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    tracer: Tracer


@dataclass
class Outcome:
    setup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    #: set-up phase -> seconds, and other figures reported beside the
    #: metrics (not metrics themselves)
    phases: dict[str, float] = field(default_factory=dict)
    notes: dict[str, object] = field(default_factory=dict)
    #: end-to-end metric -> (value, number of samples it rests on)
    e2e: dict[str, tuple[float, int]] = field(default_factory=dict)
    #: traced runs: computes the per-layer metrics from the event-log fold
    layers: Callable[[dict[str, GroupStats]], dict[str, float]] | None = None

    def record(self, ok: bool, problem: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(problem)


def program(module: str):
    """A module of the program by its dotted name. (``from
    shaha_spark.pipeline import build`` would give the function that the
    package re-exports, not the module.)"""
    return importlib.import_module(f"shaha_spark.{module}")


def median(xs) -> float:
    return float(statistics.median(xs))


def p90(xs) -> float:
    """Nearest-rank 90th percentile."""
    s = sorted(xs)
    return float(s[max(0, -(-9 * len(s) // 10) - 1)])


def part_files(db: str) -> list[str]:
    return sorted(glob.glob(os.path.join(db, "**", "part-*.parquet"), recursive=True))


# ---------------------------------------------------------------- checks


def footer_info(db: str) -> dict:
    """Sizes and row groups from the Parquet footers, and whether the
    per-file [min, max] ranges of ``hash`` are disjoint."""
    import pyarrow.parquet as pq

    files = part_files(db)
    ranges, row_groups, rows, size = [], 0, 0, 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        size += os.path.getsize(f)
        rows += md.num_rows
        row_groups += md.num_row_groups
        col = md.schema.to_arrow_schema().get_field_index("hash")
        lo = hi = None
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(col).statistics
            if st is None or not st.has_min_max:
                lo = hi = None
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        ranges.append((lo, hi))
    known = sorted(r for r in ranges if r[0] is not None and r[1] is not None)
    disjoint = len(known) == len(ranges) and all(
        a[1] < b[0] for a, b in zip(known, known[1:])
    )
    return {"files": len(files), "bytes": size, "rows": rows,
            "row_groups": row_groups, "disjoint": disjoint}


def check_build(db: str, result: dict, meta: dict, source: str, n_distinct: int,
                sample: list[str]) -> tuple[list[str], dict]:
    """Problems found in a fresh build's output (``result`` is what
    ``build()`` returned, ``meta`` the sidecar it wrote), and the
    output's footer info."""
    import pyarrow.parquet as pq

    problems = []
    expect = n_distinct * len(ALGOS)
    if result.get("total_records") != expect:
        problems.append(f"total_records {result.get('total_records')} != {expect}")
    if meta.get("algorithms") != sorted(ALGOS) or meta.get("sources") != [source]:
        problems.append(f"sidecar {meta.get('algorithms')} {meta.get('sources')}")
    info = footer_info(db)
    if info["rows"] != expect:
        problems.append(f"footer rows {info['rows']} != {expect}")
    if not info["disjoint"]:
        problems.append("hash min/max ranges overlap across files")
    got = pq.read_table(
        part_files(db), columns=["hash", "preimage", "algorithm"],
        filters=[("preimage", "in", sample)],
    ).to_pylist()
    seen = {(r["preimage"], r["algorithm"]): r["hash"] for r in got}
    for w in sample:
        for algo, digest in gen.digests(w).items():
            if seen.get((w, algo)) != digest:
                problems.append(f"{algo}({w!r}) missing or wrong")
    if len(got) != len(sample) * len(ALGOS):
        problems.append(f"sample rows {len(got)} != {len(sample) * len(ALGOS)}")
    return problems, info


class DigestIndex:
    """The benchmark's own view of the database: word per sha256 digest,
    and every stored digest in sorted order for prefix counts."""

    def __init__(self):
        self.by_sha256: dict[bytes, str] = {}
        self.sorted: list[bytes] = []

    def add(self, words) -> None:
        new = []
        for w in words:
            d = gen.digests(w)
            if d["sha256"] not in self.by_sha256:
                self.by_sha256[d["sha256"]] = w
                new.extend(d.values())
        self.sorted = sorted(self.sorted + new)

    def __len__(self) -> int:
        return len(self.sorted)

    def count_prefix(self, prefix: bytes) -> int:
        lo = bisect.bisect_left(self.sorted, prefix)
        hi = bisect.bisect_left(self.sorted, prefix + b"\xff" * 64)
        return hi - lo


def check_hit(rows, word: str) -> str:
    if len(rows) != 1 or rows[0]["preimage"] != word or rows[0]["algorithm"] != "sha256":
        return f"hit {word!r}: {[(r['preimage'], r['algorithm']) for r in rows][:3]}"
    return ""


def check_miss(rows) -> str:
    return f"miss returned {len(rows)} rows" if rows else ""


def check_prefix(rows, prefix: bytes, expected: int) -> str:
    if any(not bytes(r["hash"]).startswith(prefix) for r in rows):
        return f"prefix {prefix.hex()}: row without the prefix"
    if len(rows) != min(PREFIX_LIMIT, expected):
        return f"prefix {prefix.hex()}: {len(rows)} rows, expected {min(PREFIX_LIMIT, expected)}"
    return ""


# ---------------------------------------------------------------- plan


@dataclass
class Plan:
    """Every input and operation of a run, drawn from the seed before
    anything is timed."""

    served: list[str]  # words of the served database
    build_words: list[str]  # distinct words of the fresh-build wordlist
    build_lines: list[str]
    sample: list[str]  # build words checked against hashlib after each build
    warmup: list[tuple[str, object]]
    ops: list[tuple[str, object]]


def make_plan(mix: Mix, seed: int) -> Plan:
    rng = np.random.default_rng(seed)
    served = gen.distinct_words(rng, mix.served_words)
    build_words = gen.distinct_words(rng, mix.build_distinct)
    build_lines = gen.wordlist_lines(rng, build_words, REPEAT_FRAC)
    sample = [build_words[i] for i in
              rng.choice(len(build_words), CHECK_SAMPLE, replace=False).tolist()]
    n_warm = -(-WARMUP_LOOKUPS // sum(mix.lookups))
    warm_kinds = gen.block_ops(rng, n_warm, mix.lookups, ()) + list(mix.heavy)
    kinds = gen.block_ops(rng, PLANNED_BLOCKS, mix.lookups, mix.heavy)
    every = warm_kinds + kinds
    step = APPEND_WORDS - APPEND_OVERLAP
    n_append = every.count("append")
    fresh = gen.distinct_words(rng, n_append * step, exclude=set(served))
    absent = gen.distinct_words(rng, every.count("miss"), exclude=set(served) | set(fresh))
    appends = []
    for k in range(n_append):
        old = [served[i] for i in rng.choice(len(served), APPEND_OVERLAP, replace=False).tolist()]
        appends.append(fresh[k * step:(k + 1) * step] + old)

    def arg(kind: str):
        if kind == "hit":
            return served[int(rng.integers(len(served)))]
        if kind == "miss":
            return absent.pop()
        if kind == "prefix":
            w = served[int(rng.integers(len(served)))]
            return gen.digests(w)["sha256"][:PREFIX_BYTES]
        if kind == "append":
            return appends.pop()
        return None  # a build always reads the run's wordlist

    warmup = [(k, arg(k)) for k in warm_kinds]
    ops = [(k, arg(k)) for k in kinds]
    return Plan(served, build_words, build_lines, sample, warmup, ops)


# ---------------------------------------------------------------- operations


class Server:
    """Runs the operations of a run and checks each result: lookups and
    appends against the served database and the :class:`DigestIndex`,
    fresh builds of the run's wordlist against hashlib and their counts."""

    def __init__(self, ctx: Ctx, db: str, index: DigestIndex, tracer: Tracer, label: str,
                 plan: Plan, build_path: str):
        self.ctx = ctx
        self.label = label
        self.tracer = tracer
        self.db = db
        self.index = index
        self.plan = plan
        self.build_path = build_path
        self.n_append = 0
        self.n_build = 0
        self.live_files: list[int] = []
        self.append_sizes: list[int] = []
        self.footers: list[dict] = []  # footer info of each checked fresh build
        #: traced runs: rows returned, per lookup span id
        self.results: dict[int, int] = {}

    def build(self, op: str) -> tuple[float, str]:
        """A fresh build of the run's wordlist into its own directory,
        checked and removed."""
        sources = program("sources")
        build_mod = program("pipeline.build")

        ctx, tr = self.ctx, self.tracer
        self.n_build += 1
        db = os.path.join(ctx.work, f"{self.label}-build{self.n_build}")
        t0 = time.perf_counter()
        with tr.span("op.build", op=op):
            with tr.span("sources.parse_source"):
                src = sources.parse_source(ctx.spark, self.build_path)
            with tr.span("build.build"):
                result = build_mod.build(
                    ctx.spark, src.words, ALGOS, db,
                    source_name=src.name, source_hash=src.content_hash,
                )
        dt = time.perf_counter() - t0
        meta = build_mod.read_sidecar(ctx.spark, db) or {}
        problems, info = check_build(db, result, meta, src.name, len(self.plan.build_words),
                                     self.plan.sample)
        if not problems:
            self.footers.append(info)
        shutil.rmtree(db, ignore_errors=True)
        return dt, "; ".join(problems)

    def lookup(self, kind: str, hex_prefix: str, op: str, limit=None):
        query_mod = program("query")

        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span(f"serve.{kind}", op=op) as span:
            with tr.span("query.construct"):
                df = query_mod.query(self.ctx.spark, self.db, hex_prefix, limit=limit)
            rows = [r.asDict() for r in df.collect()]
        dt = time.perf_counter() - t0
        if span is not None:
            self.results[span.id] = len(rows)
        return rows, dt

    def append(self, words: list[str], op: str) -> tuple[float, str]:
        sources = program("sources")
        build_mod = program("pipeline.build")
        snapshot, stats = program("pipeline.snapshot"), program("pipeline.stats")

        ctx, tr = self.ctx, self.tracer
        self.n_append += 1
        path = os.path.join(ctx.work, f"{self.label}-append{self.n_append}.txt")
        self.append_sizes.append(gen.write_lines(path, words))
        t0 = time.perf_counter()
        with tr.span("serve.append", op=op):
            with tr.span("sources.parse_source"):
                src = sources.parse_source(ctx.spark, path)
            with tr.span("build.build"):
                result = build_mod.build(
                    ctx.spark, src.words, ALGOS, self.db, source_name=src.name,
                    source_hash=src.content_hash, append=True,
                )
        dt = time.perf_counter() - t0
        self.index.add(words)
        problems = []
        if result.get("skipped") or result.get("total_records") != len(self.index):
            problems.append(f"append total {result.get('total_records')} != {len(self.index)}")
        info = stats.info(ctx.spark, self.db)
        if info["total_records"] != len(self.index) or src.name not in info["sources"]:
            problems.append(f"info() {info['total_records']} != {len(self.index)} or source missing")
        for w in words[:2]:
            rows, _ = self.lookup("check", gen.digests(w)["sha256"].hex(), op + "/check")
            if check_hit(rows, w):
                problems.append(f"appended word {w!r} not found")
        self.live_files.append(len(snapshot.live_files(ctx.spark, self.db)))
        return dt, "; ".join(problems)

    def run(self, kind: str, arg, op: str) -> tuple[float, str]:
        if kind == "hit":
            rows, dt = self.lookup("point_hit", gen.digests(arg)["sha256"].hex(), op)
            return dt, check_hit(rows, arg)
        if kind == "miss":
            rows, dt = self.lookup("point_miss", gen.digests(arg)["sha256"].hex(), op)
            return dt, check_miss(rows)
        if kind == "prefix":
            rows, dt = self.lookup("prefix", arg.hex(), op, limit=PREFIX_LIMIT)
            return dt, check_prefix(rows, arg, self.index.count_prefix(arg))
        if kind == "append":
            return self.append(arg, op)
        return self.build(op)


def warm_up(server: Server, ops: list[tuple[str, object]]) -> list[float]:
    """Runs the lookups of ``ops`` from WARMUP_THREADS threads, then its
    builds and appends one by one. Any wrong result aborts the run.
    Returns the time of each of the two parts."""

    def must(kind, arg) -> None:
        _, problem = server.run(kind, arg, "warmup")
        if problem:
            raise RuntimeError(f"warm-up {kind} failed: {problem}")

    lookups = [o for o in ops if o[0] in LOOKUPS]
    t0 = time.perf_counter()
    with ThreadPoolExecutor(WARMUP_THREADS) as pool:
        for f in [pool.submit(lambda j: [must(*o) for o in lookups[j::WARMUP_THREADS]], j)
                  for j in range(WARMUP_THREADS)]:
            f.result()
    t1 = time.perf_counter()
    for kind, arg in ops:
        if kind not in LOOKUPS:
            must(kind, arg)
    return [t1 - t0, time.perf_counter() - t1]


# ---------------------------------------------------------------- the run


def run_mix(ctx: Ctx, mix: Mix) -> Outcome:
    from pyspark.sql import functions as F
    build_mod = program("pipeline.build")

    out = Outcome()
    t_setup = time.perf_counter()
    plan = make_plan(mix, ctx.seed)
    build_path = os.path.join(ctx.work, "wordlist.txt")
    build_size = gen.write_lines(build_path, plan.build_lines)
    served_path = os.path.join(ctx.work, "served.txt")
    gen.write_lines(served_path, plan.served)
    index = DigestIndex()
    index.add(plan.served)
    out.phases["inputs"] = time.perf_counter() - t_setup

    db = os.path.join(ctx.work, "db")
    words = ctx.spark.read.text(served_path).select(F.col("value").alias("word"))
    build_mod.build(ctx.spark, words, ALGOS, db, source_name="served.txt")
    out.phases["served_db"] = time.perf_counter() - t_setup - out.phases["inputs"]
    server = Server(ctx, db, index, ctx.tracer, "run", plan, build_path)
    warm = Server(ctx, db, index, Tracer(), "warmup", plan, build_path)
    out.notes["warmup_s"] = [round(t, 3) for t in warm_up(warm, plan.warmup)]
    out.setup_s = time.perf_counter() - t_setup
    out.phases["warmup"] = out.setup_s - out.phases["served_db"] - out.phases["inputs"]

    lat: dict[str, list[float]] = {k: [] for k in ("build", "hit", "miss", "prefix", "append")}
    lookups: list[float] = []
    deadline = time.perf_counter() + ctx.seconds
    for n, (kind, arg) in enumerate(plan.ops):
        if time.perf_counter() >= deadline:
            break
        try:
            dt, problem = server.run(kind, arg, f"{kind}#{n}")
        except Exception as exc:  # a failed operation is counted, not fatal
            dt, problem = None, f"{kind} raised {exc!r}"
        out.record(not problem, problem)
        if not problem:
            lat[kind].append(dt)
            if kind in LOOKUPS:
                lookups.append(dt)
    else:
        out.problems.append("ran out of planned operations before the deadline")

    out.notes["ops"] = {k: len(v) for k, v in lat.items()}
    out.notes["build_s"] = [round(t, 3) for t in lat["build"]]
    out.notes["append_s"] = [round(t, 3) for t in lat["append"]]
    # drift within the run: median lookup latency per quarter of the run
    q = max(1, len(lookups) // 4)
    out.notes["lookup_ms_by_quarter"] = [
        round(median(lookups[k:k + q]) * 1000, 1) for k in range(0, q * 4, q) if lookups[k:k + q]]
    ms = lambda xs: [x * 1000 for x in xs]  # noqa: E731
    # tails are reported beside the metrics, not as metrics (see spec.py)
    out.notes["p90_ms"] = {}
    if lat["build"]:
        out.e2e["build_words_per_s"] = (len(plan.build_lines) / median(lat["build"]),
                                        len(lat["build"]))
        per_rec = [f["bytes"] / f["rows"] for f in server.footers]
        out.e2e["db_bytes_per_record"] = (median(per_rec), len(per_rec))
    if lat["hit"]:
        out.e2e["point_hit_p50_ms"] = (median(ms(lat["hit"])), len(lat["hit"]))
        out.notes["p90_ms"]["point_hit"] = [round(p90(ms(lat["hit"])), 2), len(lat["hit"])]
    if lat["miss"]:
        out.e2e["point_miss_p50_ms"] = (median(ms(lat["miss"])), len(lat["miss"]))
    if lat["prefix"]:
        out.e2e["prefix_scan_p50_ms"] = (median(ms(lat["prefix"])), len(lat["prefix"]))
        out.notes["p90_ms"]["prefix_scan"] = [round(p90(ms(lat["prefix"])), 2), len(lat["prefix"])]
    if lat["append"]:
        out.e2e["append_s"] = (median(lat["append"]), len(lat["append"]))
    if ctx.tracer.record:
        extra = build_layer_probes(ctx, build_path)
        out.layers = lambda groups: layers(
            ctx.tracer, groups, server, extra, build_size, len(plan.build_lines))
    return out


WORKLOADS = {name: (lambda ctx, mix=mix: run_mix(ctx, mix)) for name, mix in MIXES.items()}


# ---------------------------------------------------------------- traced run


class Cut(Exception):
    """Ends a ``build()`` call at a stage boundary (see :func:`cut_before`)."""


@contextlib.contextmanager
def cut_before(module, attr: str, materialise: Callable[[object], None]):
    """While active, a call of ``module.attr`` does not run it: its first
    argument, what the caller built up to that call, goes to
    ``materialise``, and :class:`Cut` ends the caller."""
    fn = getattr(module, attr)

    def cut(first, *args, **kwargs):
        materialise(first)
        raise Cut(attr)

    setattr(module, attr, cut)
    try:
        yield
    finally:
        setattr(module, attr, fn)


def time_until_cut(module, attr: str, materialise, call: Callable[[], object]) -> float:
    """Seconds that ``call()`` takes up to its call of ``module.attr``,
    with what it built up to there materialised."""
    t0 = time.perf_counter()
    with cut_before(module, attr, materialise):
        try:
            call()
        except Cut:
            return time.perf_counter() - t0
    raise RuntimeError(f"the call never reached {module.__name__}.{attr}")


#: build() up to each stage's end: (stage, the call build() makes next,
#: whether that call's first argument is a DataFrame to materialise)
BUILD_CUTS = [
    ("dedup_words", "hash_fanout", True),
    ("hash_fanout", "sort_for_write", True),
    ("sort_for_write", "write_hashdb", True),
    ("write_hashdb", "write_sidecar", False),
]


def build_layer_probes(ctx: Ctx, path: str) -> dict[str, float]:
    """Traced run only: hash-only throughput per algorithm, and the
    cumulative time of ``build()`` up to the end of each stage, what it
    built so far materialised to a noop sink. ``build()`` itself is run
    and cut, so the prefixes follow its composition; consecutive
    differences give each stage's cost."""
    from pyspark.sql import functions as F
    from shaha_spark.functions.hashers import hash_expr
    build_mod = program("pipeline.build")

    spark = ctx.spark
    res: dict[str, float] = {}
    words = spark.read.text(path).select(F.col("value").alias("word")).persist()
    n = words.count()
    for algo in ALGOS:
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            words.agg(F.max(hash_expr(algo, F.col("word")))).collect()
            ts.append(time.perf_counter() - t0)
        res[f"hashers.{algo}.words_per_s"] = n / median(ts)
    words.unpersist()

    src = program("sources").parse_source(spark, path)
    out_dir = os.path.join(ctx.work, "cum-db")

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def call():
        build_mod.build(spark, src.words, ALGOS, out_dir,
                        source_name=src.name, source_hash=src.content_hash)

    cum: dict[str, list[float]] = {}
    for _ in range(3):
        for stage, next_call, is_df in BUILD_CUTS:
            dt = time_until_cut(build_mod, next_call, noop if is_df else (lambda _: None), call)
            cum.setdefault(stage, []).append(dt)
            shutil.rmtree(out_dir, ignore_errors=True)
    for stage, ts in cum.items():
        res[f"build.cum.{stage}_s"] = median(ts)
    return res


#: per-span figures the traced run reports, as median over the spans of
#: one kind; each getter takes (folded stats, driver gap s, span, rows
#: the span's call returned)
FIGURES = {
    "wall_s": lambda st, gap, s, n: s.end - s.start,
    "jobs": lambda st, gap, s, n: st.jobs,
    "tasks": lambda st, gap, s, n: st.tasks,
    "executor_run_s": lambda st, gap, s, n: st.executor_run_s,
    "executor_cpu_s": lambda st, gap, s, n: st.executor_cpu_s,
    "driver_gap_s": lambda st, gap, s, n: gap,
    "driver_gap_ms": lambda st, gap, s, n: gap * 1000,
    "shuffle_write_bytes": lambda st, gap, s, n: st.shuffle_write_bytes,
    "shuffle_read_bytes": lambda st, gap, s, n: st.shuffle_read_bytes,
    "bytes_read": lambda st, gap, s, n: st.input_bytes,
    "rows_read_per_result": lambda st, gap, s, n: st.input_records / max(1, n),
    "bytes_written": lambda st, gap, s, n: st.output_bytes,
    "records_rewritten": lambda st, gap, s, n: st.output_records,
}


def span_figures(tr: Tracer, groups, span: str, ops: str, prefix: str,
                 figures: list[str], results: dict[int, int] | None = None) -> dict[str, float]:
    """``<prefix>.<figure>`` for each figure: its median over the finished
    spans named ``span`` of operations whose id starts with ``ops``."""
    rows = []
    for s in tr.find(span):
        if (s.op or "").startswith(ops):
            st, gap = tr.stats(s, groups)
            rows.append((st, gap, s, (results or {}).get(s.id, 0)))
    return {f"{prefix}.{f}": median([FIGURES[f](*r) for r in rows]) for f in figures}


def layers(tr: Tracer, groups, server: Server, extra: dict[str, float], size: int,
           n_lines: int) -> dict[str, float]:
    """The per-layer metrics of a traced run, from its spans, the event-log
    fold ``groups``, the fresh builds' footers and the probes ``extra``."""
    ops = lambda name: [s.end - s.start for s in tr.find(name)  # noqa: E731
                        if (s.op or "").startswith("build#")]
    m = {
        "sources.parse_s": median(ops("sources.parse_source")),
        "sources.fingerprint_mb_per_s": size / 1e6 / median(ops("sources.fingerprint")),
        "sources.words_in": float(n_lines),
    }
    m.update(extra)
    m.update(span_figures(tr, groups, "build.build", "build#", "build", [
        "wall_s", "jobs", "tasks", "executor_run_s", "executor_cpu_s",
        "driver_gap_s", "shuffle_write_bytes", "shuffle_read_bytes"]))
    footers = server.footers
    m["build.records_written"] = median([f["rows"] for f in footers])
    m["build.unique_ratio"] = m["build.records_written"] / len(ALGOS) / n_lines
    m["build.output_bytes"] = median([f["bytes"] for f in footers])
    m["build.output_files"] = median([f["files"] for f in footers])
    m["build.row_groups"] = median([f["row_groups"] for f in footers])

    m.update(span_figures(tr, groups, "build.build", "append#", "append", [
        "wall_s", "jobs", "tasks", "executor_cpu_s", "shuffle_write_bytes",
        "driver_gap_s", "bytes_written", "records_rewritten"]))
    m["append.write_amplification"] = m["append.bytes_written"] / median(server.append_sizes)
    m["snapshot.live_files"] = median(server.live_files)

    construct = [s.end - s.start for s in tr.find("query.construct")
                 if (s.op or "").startswith(("hit#", "miss#", "prefix#"))]
    m["query.construct_ms"] = median(construct) * 1000
    r = server.results
    m.update(span_figures(tr, groups, "serve.point_hit", "hit#", "query.point_hit", [
        "jobs", "tasks", "bytes_read", "rows_read_per_result", "driver_gap_ms"], r))
    m.update(span_figures(tr, groups, "serve.point_miss", "miss#", "query.point_miss", [
        "bytes_read", "driver_gap_ms"], r))
    m.update(span_figures(tr, groups, "serve.prefix", "prefix#", "query.prefix", [
        "jobs", "bytes_read", "rows_read_per_result", "driver_gap_ms"], r))
    return m


#: module functions a traced run puts spans around: (module, attribute, span)
TRACED_FUNCTIONS = [
    ("shaha_spark.sources.file", "content_hash_file", "sources.fingerprint"),
    ("shaha_spark.pipeline.build", "dedup_words", "build.dedup_words"),
    ("shaha_spark.pipeline.build", "hash_fanout", "build.hash_fanout"),
    ("shaha_spark.pipeline.build", "sort_for_write", "build.sort_for_write"),
    ("shaha_spark.pipeline.build", "write_hashdb", "build.write_hashdb"),
    ("shaha_spark.pipeline.build", "write_sidecar", "build.write_sidecar"),
    ("shaha_spark.pipeline.append", "append_merge", "append.append_merge"),
    ("shaha_spark.pipeline.snapshot", "swap_live_tree", "snapshot.swap_live_tree"),
]
