"""One benchmark run: inputs, set-up, warm-up, measured window, metrics.

The run is a closed loop with one client. A cycle runs every op of the
workload once, in an order drawn from the seed; an op is
builder -> sink -> check. The window starts cycles until ``seconds``
have passed and ends on a cycle boundary.

Untraced (``trace=False``) the only probes are clocks at op and cycle
boundaries and two /proc + JMX reads at the window's ends. Traced, the
window alternates traced and untraced cycles: traced cycles record
spans (cycle -> op -> builder/sink/check, and for the mart graph.run ->
model/table write/read/data test), force each op's physical plan for
its Catalyst phase times, count jobs/stages/tasks and read CPU, GC and
JIT per cycle; the untraced cycles give ``tracing.overhead_ratio``.
"""

from __future__ import annotations

import random
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

import datagen
import probes
from workloads import MART_MODELS, Workload, build, open_sources, oracle_sql

OP_TIMEOUT_S = 60.0
SOURCE_REPEATS = 3


class Recorder:
    """In-memory spans of the current op; records nothing untraced."""

    def __init__(self) -> None:
        self.tracing = False
        self.events: list[dict] = []
        self.op_id = 0
        self.op_phases: dict[str, float] = {}
        self.op_notes: dict[str, float] = {}
        self._lock = threading.Lock()
        self._tids: dict[int, int] = {}

    def begin(self, op_id: int) -> None:
        self.op_id, self.op_phases, self.op_notes = op_id, {}, {}

    def add(self, name: str, start: float, dur: float, **args) -> None:
        if self.tracing:
            with self._lock:
                tid = self._tids.setdefault(threading.get_ident(), len(self._tids) + 1)
                self.events.append(
                    {"name": name, "start": start, "dur": dur, "op": self.op_id, "tid": tid, "args": args}
                )

    @contextmanager
    def span(self, name: str, **args):
        start = time.perf_counter()
        try:
            yield
        finally:
            self.add(name, start, time.perf_counter() - start, **args)

    def plan(self, key: str, df) -> None:
        """Catalyst phase times of ``df`` (traced only; extra planning)."""
        if self.tracing:
            with self.span("catalyst.plan", plan=key):
                for phase, ms in probes.catalyst_phases_ms(df).items():
                    self.op_phases[phase] = self.op_phases.get(phase, 0.0) + ms

    def note(self, **values: float) -> None:
        self.op_notes.update(values)


@dataclass
class OpResult:
    op: str
    op_id: int
    ok: bool
    wall_s: float
    builder_s: float = 0.0
    action_s: float = 0.0
    rows: int = 0
    error: str | None = None
    phases: dict[str, float] = field(default_factory=dict)
    notes: dict[str, float] = field(default_factory=dict)
    jobs: tuple[int, int, int] = (0, 0, 0)


@dataclass
class Cycle:
    wall_s: float
    ops: list[OpResult]
    traced: bool
    cpu: probes.CpuSample | None = None  # per-cycle deltas, traced only
    gc_ms: float = 0.0
    jit_ms: float = 0.0
    steal_s: float = 0.0  # host-wide hypervisor steal during the cycle


def oracle_tables(db, ops: tuple[str, ...]) -> tuple[dict, float]:
    """Each op's oracle result (a pyarrow Table, or the exception its
    query raised) and the seconds the queries took."""
    t0, out = time.perf_counter(), {}
    for op in ops:
        try:
            out[op] = db.execute(oracle_sql(op)).arrow()
        except Exception as e:  # noqa: BLE001 - fails the op when it is checked
            out[op] = e
    return out, time.perf_counter() - t0


class Run:
    def __init__(self, spark, sf_dir: str, oracles: dict, run_dir: Path, corrupt: str | None) -> None:
        self.spark, self.sf_dir = spark, sf_dir
        self.oracles, self.run_dir, self.corrupt = oracles, run_dir, corrupt
        self.rec = Recorder()
        self.expected: dict[str, tuple] = {}
        self.oracle_s = 0.0
        self.jobs: probes.JobCounter | None = None
        self._n = 0

    def _expected(self, op: str, df) -> tuple:
        """The oracle's fingerprint, computed once per op, untimed."""
        if op not in self.expected:
            t0 = time.perf_counter()
            table = self.oracles[op]
            if isinstance(table, Exception):
                raise table
            cols, n, h = probes.expected_fingerprint(self.spark, table, df)
            self.expected[op] = (cols, n + (op == self.corrupt), h)
            self.oracle_s += time.perf_counter() - t0
        return self.expected[op]

    def run_op(self, op: str) -> OpResult:
        self._n += 1
        rec = self.rec
        rec.begin(self._n)
        res = OpResult(op, self._n, ok=False, wall_s=0.0)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{self._n}", op)
        watchdog = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        watchdog.start()
        t0 = time.perf_counter()
        try:
            with rec.span("builder"):
                df = build(self.spark, op, self.sf_dir, self.run_dir / f"wh{self._n}", rec)
            t1 = time.perf_counter()
            if op != "mart_build":  # the mart's plan is read at its table write
                rec.plan(op, df)
            t2 = time.perf_counter()
            with rec.span("sink"):
                cols, res.rows, h = probes.sink_fingerprint(df, f"fp{self._n}")
            t3 = time.perf_counter()
            res.builder_s, res.action_s = t1 - t0, t3 - t2
            with rec.span("check"):
                oracle_before = self.oracle_s
                res.ok = (cols, res.rows, h) == self._expected(op, df)
                t0 += self.oracle_s - oracle_before  # oracle work is not op time
            if not res.ok:
                res.error = f"fingerprint mismatch: got {(res.rows, h)}, want {self.expected[op][1:]}"
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
            res.error = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            watchdog.cancel()
        res.wall_s = time.perf_counter() - t0
        rec.add(op, t0, res.wall_s, cat="op")
        res.phases, res.notes = rec.op_phases, rec.op_notes
        if rec.tracing:
            res.jobs = self.jobs.take()
        return res

    def cycle(self, order: list[str], traced: bool, jvm: int) -> Cycle:
        self.rec.tracing = traced
        if traced:
            self.jobs.take()  # drop jobs of earlier untraced cycles
            cpu0, (gc0, jit0) = probes.cpu_sample(jvm), probes.jvm_gc_jit_ms(self.spark)
        t0, oracle0, steal0 = time.perf_counter(), self.oracle_s, probes.host_sample()["steal_s"]
        ops = [self.run_op(op) for op in order]
        wall = time.perf_counter() - t0 - (self.oracle_s - oracle0)
        self.rec.add("cycle", t0, wall, cat="cycle")
        c = Cycle(wall, ops, traced, steal_s=probes.host_sample()["steal_s"] - steal0)
        if traced:
            cpu1, (gc1, jit1) = probes.cpu_sample(jvm), probes.jvm_gc_jit_ms(self.spark)
            c.cpu = probes.CpuSample(cpu1.driver - cpu0.driver, cpu1.jvm - cpu0.jvm,
                                     cpu1.workers - cpu0.workers)
            c.gc_ms, c.jit_ms = gc1 - gc0, jit1 - jit0
        self.rec.tracing = False
        return c


# -- metrics ------------------------------------------------------------------


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least 10 samples above it, as
    (value, percentile, samples above). With 10 samples or fewer none
    qualifies; the maximum is reported, with 0 samples above."""
    xs = sorted(samples)
    if len(xs) <= 10:
        return xs[-1], 100.0, 0
    i = len(xs) - 11
    return xs[i], 100.0 * (i + 1) / len(xs), 10


def _median(cycles: list[Cycle], fn) -> float:
    return statistics.median(fn(c) for c in cycles)


def end_to_end(setup_s: float, cycles: list[Cycle], cpu_s: float) -> dict:
    ops = [o for c in cycles for o in c.ops]
    return {
        "setup_s": (setup_s, "s"),
        "cycle_p50_s": (_median(cycles, lambda c: c.wall_s), "s"),
        "cpu_per_cycle_s": (cpu_s / len(cycles), "s"),
        "ops_ok_ratio": (sum(o.ok for o in ops) / len(ops), "ratio"),
    }


def _span_s(events: list[dict], cycle: Cycle, name: str) -> float:
    ids = {o.op_id for o in cycle.ops}
    return sum(e["dur"] for e in events if e["name"] == name and e["op"] in ids)


OP_SPANS = ("builder", "catalyst.plan", "sink", "check")
ENGINE_SPANS = ("engine.table_write", "engine.table_read", "engine.data_test",
                *(f"engine.model.{m}" for m in MART_MODELS))


def coverage(events: list[dict], op_id: int, parent: str, kids: tuple[str, ...]) -> float:
    """Share of the ``parent`` span of op ``op_id`` covered by the union
    of its ``kids`` spans, each clipped to the parent."""
    mine = [e for e in events if e["op"] == op_id]
    p = next(e for e in mine if e["name"] == parent)
    lo, hi = p["start"], p["start"] + p["dur"]
    covered, end = 0.0, lo
    for start, stop in sorted((max(lo, e["start"]), min(hi, e["start"] + e["dur"]))
                              for e in mine if e["name"] in kids):
        covered += max(0.0, stop - max(start, end))
        end = max(end, stop)
    return covered / p["dur"]


def per_layer(setup: dict, cycles: list[Cycle], host: dict, events: list[dict],
              jvm_hwm_mb: float) -> tuple[dict, dict]:
    """(layers every workload runs, layers only some workloads run).

    A traced run prints the first. The second (each catalog entry, the
    engine's models and table I/O, Python workers, host steal/iowait)
    reads exactly 0 on workloads that do not run the layer, so it goes
    to the trace file only."""

    traced = [c for c in cycles if c.traced]
    untraced = [c for c in cycles if not c.traced]

    def per_cycle(fn) -> float:
        return _median(traced, fn)

    def phase(name: str) -> float:
        return per_cycle(lambda c: sum(o.phases.get(name, 0.0) for o in c.ops))

    common = {
        "session.start_s": (setup["session_s"], "s"),
        "sources.setup_s": (setup["sources_s"], "s"),
        "jvm.warmup_s": (setup["warmup_s"], "s"),
        "operators.builder_s": (per_cycle(lambda c: sum(o.builder_s for o in c.ops)), "s"),
        "operators.action_s": (per_cycle(lambda c: sum(o.action_s for o in c.ops)), "s"),
        "catalyst.analysis_ms": (phase("analysis"), "ms"),
        "catalyst.optimization_ms": (phase("optimization"), "ms"),
        "catalyst.planning_ms": (phase("planning"), "ms"),
        "spark.jobs": (per_cycle(lambda c: sum(o.jobs[0] for o in c.ops)), "count"),
        "spark.stages": (per_cycle(lambda c: sum(o.jobs[1] for o in c.ops)), "count"),
        "spark.tasks": (per_cycle(lambda c: sum(o.jobs[2] for o in c.ops)), "count"),
        "cpu.driver_s": (per_cycle(lambda c: c.cpu.driver), "s"),
        "cpu.jvm_s": (per_cycle(lambda c: c.cpu.jvm), "s"),
        "jvm.gc_ms": (per_cycle(lambda c: c.gc_ms), "ms"),
        "jvm.jit_ms": (per_cycle(lambda c: c.jit_ms), "ms"),
        "op_p50_s": (statistics.median(o.wall_s for c in cycles for o in c.ops), "s"),
        "op_tail_s": (tail([o.wall_s for c in cycles for o in c.ops])[0], "s"),
        "jvm_peak_rss_mb": (jvm_hwm_mb, "MB"),
        "host.loadavg_1m": (host["loadavg_1m"], "load"),
        "tracing.overhead_ratio": (per_cycle(lambda c: c.wall_s) / _median(untraced, lambda c: c.wall_s), "ratio"),
    }
    ops = [o for c in traced for o in c.ops]
    specific = {
        "python_workers.cpu_s": (per_cycle(lambda c: c.cpu.workers), "s"),
        "host.steal_s": (host["steal_s"], "s"),
        "host.iowait_s": (host["iowait_s"], "s"),
        "tracing.span_coverage_min": (min(coverage(events, o.op_id, o.op, OP_SPANS) for o in ops), "ratio"),
    }
    for name in sorted({o.op for o in ops} - {"mart_build"}):
        specific[f"operators.{name}_s"] = (statistics.median(o.wall_s for o in ops if o.op == name), "s")
    if any(o.op == "mart_build" for o in ops):
        for span in ("engine.run", "engine.table_write", "engine.table_read", "engine.data_test",
                     *(f"engine.model.{m}" for m in MART_MODELS)):
            key = "engine.data_tests_s" if span == "engine.data_test" else f"{span}_s"
            specific[key] = (per_cycle(lambda c, s=span: _span_s(events, c, s)), "s")
        ids = [o.op_id for o in ops]
        specific["tracing.builder_coverage_min"] = (
            min(coverage(events, i, "builder", ("engine.run",)) for i in ids), "ratio")
        specific["tracing.engine_coverage_min"] = (
            min(coverage(events, i, "engine.run", ENGINE_SPANS) for i in ids), "ratio")
        specific["sources.fixtures_s"] = (setup["fixtures_s"], "s")
        specific["engine.mart_rows"] = (statistics.median(o.rows for o in ops), "count")
        specific["engine.mart_bytes"] = (statistics.median(o.notes.get("mart_bytes", 0) for o in ops), "bytes")
    return common, specific


def chrome_trace(events: list[dict], origin: float) -> list[dict]:
    return [
        {"name": e["name"], "cat": e["args"].get("cat", "layer"), "ph": "X", "pid": 1,
         "tid": e["tid"], "ts": (e["start"] - origin) * 1e6, "dur": e["dur"] * 1e6,
         "args": {"op_id": e["op"], **e["args"]}}
        for e in events
    ]


# -- the run ------------------------------------------------------------------


def session_conf(run_dir: Path) -> dict[str, str]:
    """Every directory the JVM writes to, under the per-run directory.
    ``PerfDisableSharedMem`` keeps HotSpot's counters (which the JIT time
    is read from) in memory instead of a file under /tmp."""
    return {
        "spark.local.dir": str(run_dir / "spark-local"),
        "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:+PerfDisableSharedMem -Djava.io.tmpdir={run_dir / 'tmp'} "
        f"-Dderby.system.home={run_dir / 'derby'}",
    }


def execute(workload: Workload, seed: int, seconds: float, trace: bool, run_dir: Path,
            corrupt: bool = False) -> tuple[dict, dict]:
    """Run one workload; returns the stdout result and the run record."""
    import duckdb

    from oroboro_dw_dbt_spark.session import get_spark
    from oroboro_dw_dbt_spark.sources.testdata import TABLES

    t0 = time.perf_counter()
    inputs = run_dir / "inputs"
    rows = datagen.generate(inputs, seed, workload.sf)
    inputs_s = time.perf_counter() - t0

    db = duckdb.connect()
    db.execute("SET preserve_insertion_order = false")  # the fingerprint ignores row order
    for t in TABLES:
        path = inputs / f"{t}.parquet"
        db.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path / '*.parquet' if path.is_dir() else path}'")
    # The oracle queries need only the inputs, so they run while the JVM
    # starts, which takes their ~8 s (corpus_dedup) out of a run's length;
    # every run of every commit overlaps them the same way.
    with ThreadPoolExecutor(1) as pool:
        pending = pool.submit(oracle_tables, db, workload.ops)
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=session_conf(run_dir))
        session_s = time.perf_counter() - t0
        oracles, oracle_query_s = pending.result()
        oracle_wait_s = time.perf_counter() - t0 - session_s
    db.close()
    jvm = probes.jvm_pid(spark)
    others = probes.other_spark_jvms({jvm})
    aliases = [inputs]  # a fresh sf_dir per source set-up: the package caches per sf_dir
    for i in range(1, SOURCE_REPEATS):
        aliases.append(run_dir / f"inputs-{i}")
        aliases[-1].symlink_to(inputs)
    sources, fixtures = [], []
    for alias in aliases:
        t0 = time.perf_counter()
        fixtures.append(open_sources(spark, workload, str(alias)))
        sources.append(time.perf_counter() - t0)

    run = Run(spark, str(aliases[-1]), oracles, run_dir, workload.ops[0] if corrupt else None)
    rng = random.Random(seed)
    t0 = time.perf_counter()
    warm = [run.cycle(rng.sample(workload.ops, len(workload.ops)), False, jvm)
            for _ in range(workload.warmup_cycles)]
    warmup_s = time.perf_counter() - t0 - run.oracle_s
    setup = {"session_s": session_s, "sources_s": statistics.median(sources), "warmup_s": warmup_s}

    run.jobs = probes.JobCounter(spark) if trace else None
    cpu0, (gc0, jit0), host0 = probes.cpu_sample(jvm), probes.jvm_gc_jit_ms(spark), probes.host_sample()
    w0 = time.perf_counter()
    cycles: list[Cycle] = []
    min_cycles = max(workload.min_cycles, 2 if trace else 1)  # traced: one traced, one untraced
    while len(cycles) < min_cycles or time.perf_counter() - w0 < seconds:
        traced = trace and len(cycles) % 2 == 0
        cycles.append(run.cycle(rng.sample(workload.ops, len(workload.ops)), traced, jvm))
    window_s = time.perf_counter() - w0
    cpu1, (gc1, jit1), host1 = probes.cpu_sample(jvm), probes.jvm_gc_jit_ms(spark), probes.host_sample()
    host = {k: host1[k] - host0[k] for k in ("steal_s", "iowait_s")} | {"loadavg_1m": host1["loadavg_1m"]}
    hwm_mb = probes.vm_hwm_mb(jvm)

    ops = [o for c in cycles for o in c.ops]
    failures = [f"{o.op}: {o.error}" for c in warm + cycles for o in c.ops if not o.ok]
    record = {
        "workload": workload.name, "seed": seed, "seconds": seconds, "trace": trace,
        "input_rows": rows, "host": probes.host_info() | host, "other_spark_jvms": others,
        "setup": setup | {"sources_all_s": sources, "fixtures_all_s": fixtures,
                          "inputs_s": inputs_s, "oracle_query_s": oracle_query_s,
                          "oracle_wait_s": oracle_wait_s, "oracle_fingerprint_s": run.oracle_s},
        "window": {"seconds": window_s, "cycles": len(cycles), "ops": len(ops),
                   "gc_ms": gc1 - gc0, "jit_ms": jit1 - jit0,
                   "cpu_s": {"driver": cpu1.driver - cpu0.driver, "jvm": cpu1.jvm - cpu0.jvm,
                             "python_workers": cpu1.workers - cpu0.workers}},
        "op_tail": dict(zip(("value_s", "percentile", "samples_above"), tail([o.wall_s for o in ops]))),
        "jvm_peak_rss_mb": hwm_mb,
        "warmup_cycle_s": [c.wall_s for c in warm],
        "cycle_s": [c.wall_s for c in cycles],
        "cycle_steal_s": [c.steal_s for c in cycles],
        "op_s": {name: [o.wall_s for o in ops if o.op == name] for name in workload.ops},
        "failures": failures,
    }
    if trace:
        events = run.rec.events
        common, specific = per_layer(setup | {"fixtures_s": statistics.median(fixtures)},
                                     cycles, host, events, hwm_mb)
        metrics = common
        record |= {"per_layer": {k: v[0] for k, v in (common | specific).items()},
                   "traceEvents": chrome_trace(events, w0)}
    else:
        metrics = end_to_end(sum(setup.values()), cycles, cpu1.total - cpu0.total)
    record["metrics"] = {k: v[0] for k, v in metrics.items()}
    result = {
        "correct": not failures,
        "attempted": len(ops),
        "failed": sum(not o.ok for o in ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, record
