"""Measurement probes read from outside the package's public calls.

- ``/proc``: CPU of the driver, the JVM and every Python worker; the
  JVM's peak RSS; host steal/iowait/load; other live Spark JVMs.
- JMX beans over py4j: GC and JIT compile time.
- ``statusTracker``: jobs, stages and tasks of the jobs an op ran.
- Catalyst's ``QueryPlanningTracker`` phases of a DataFrame's plan.
- The output fingerprint every timed op is checked with.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

TICK = os.sysconf("SC_CLK_TCK")


# -- /proc ------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def children(pid: int) -> list[int]:
    """Live descendants of ``pid`` (depth-first), read from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(d))
    out, stack = [], list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def cpu_seconds(pid: int, reaped: bool = True) -> float:
    """utime+stime of ``pid`` (all threads), plus its reaped children's
    when ``reaped``. 0 for a process that is gone."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if reaped:
        ticks += int(f[13]) + int(f[14])
    return ticks / TICK


@dataclass
class CpuSample:
    driver: float
    jvm: float
    workers: float

    @property
    def total(self) -> float:
        return self.driver + self.jvm + self.workers


def cpu_sample(jvm_pid: int) -> CpuSample:
    """CPU seconds so far of the driver (this process, without reaped
    children), the JVM (its own threads) and the Python workers (every
    live JVM descendant, plus what each has reaped: a worker that exits
    is charged to the daemon that waited for it)."""
    workers = sum(cpu_seconds(p) for p in children(jvm_pid))
    return CpuSample(cpu_seconds(os.getpid(), reaped=False), cpu_seconds(jvm_pid, reaped=False), workers)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_sample() -> dict[str, float]:
    """Cumulative host-wide steal and iowait seconds, and the 1-min load."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    return {"iowait_s": int(cpu[5]) / TICK, "steal_s": int(cpu[8]) / TICK, "loadavg_1m": load}


def host_info() -> dict[str, float]:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_gb": round(mem_kb / 2**20, 2)}


def other_spark_jvms(own: set[int]) -> list[int]:
    """Live JVMs running Spark that this benchmark did not start."""
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) not in own:
            cmd = _cmdline(int(d))
            if "java" in cmd.split(" ")[0] and "org.apache.spark" in cmd:
                out.append(int(d))
    return out


# -- JVM --------------------------------------------------------------------


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def jvm_gc_jit_ms(spark) -> tuple[float, float]:
    """Cumulative GC time (all collectors) and JIT compile time, ms."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc = sum(max(0, b.getCollectionTime()) for b in mf.getGarbageCollectorMXBeans())
    return float(gc), float(mf.getCompilationMXBean().getTotalCompilationTime())


class JobCounter:
    """Counts the jobs, stages and tasks run since the last call.

    Job ids are sequential per SparkContext, so probing ids upward from
    the last one seen catches every job, whichever thread or job group
    ran it (model builds run on engine pool threads, stream micro-batches
    under their own group). The listener bus is drained first so the
    status store has seen every job the finished op started."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc
        self._tracker = self._jsc.statusTracker()
        self._next = 0
        self.take()

    def take(self) -> tuple[int, int, int]:
        self._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = stages = tasks = 0
        while (info := self._tracker.getJobInfo(self._next)) is not None:
            jobs += 1
            for sid in info.stageIds():
                st = self._tracker.getStageInfo(sid)
                if st is not None and st.submissionTime() > 0:
                    stages += 1
                    tasks += st.numCompletedTasks() + st.numFailedTasks()
            self._next += 1
        return jobs, stages, tasks


def catalyst_phases_ms(df) -> dict[str, float]:
    """Force the physical plan of ``df``'s own QueryExecution and read its
    planning tracker: analysis, optimization and planning time, ms. The
    sink plans a fresh QueryExecution, so this is extra planning work."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# -- output fingerprint -------------------------------------------------------


def fingerprint_columns(df):
    """One xxhash64 per row over every column (sorted by name) plus a
    null mask; float zeros are normalized so 0.0 and -0.0 agree."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    names = sorted(df.columns)
    vals = []
    for name in names:
        c, dtype = df[name], df.schema[name].dataType
        if isinstance(dtype, (T.DoubleType, T.FloatType)):
            c = F.when(c == 0, F.lit(0).cast(dtype)).otherwise(c)
        vals.append(c)
    row = F.xxhash64(*vals, *[df[n].isNull() for n in names])
    return (F.count(F.lit(1)).alias("n"), F.sum(row.cast("decimal(38,0)")).alias("h"))


def sink_fingerprint(df, name: str) -> tuple:
    """The timed action: a noop write (every row and column is computed;
    nothing Catalyst can prune, unlike ``count()``) observed by the
    order-insensitive fingerprint (row count, sum of row hashes)."""
    from pyspark.sql import Observation

    obs = Observation(name)
    df.observe(obs, *fingerprint_columns(df)).write.format("noop").mode("overwrite").save()
    got = obs.get
    return (sorted(df.columns), int(got["n"]), str(got["h"]))


def expected_fingerprint(spark, arrow_table, like) -> tuple:
    """Fingerprint of an oracle result (a pyarrow Table), cast column by
    column to the types of ``like`` (the op's output) so both sides hash
    the same physical values."""
    import pyarrow as pa

    cols = {}
    for i, field in enumerate(arrow_table.schema):
        col = arrow_table.column(i)
        if pa.types.is_unsigned_integer(field.type):
            col = col.cast(pa.decimal128(20, 0))
        cols[field.name] = col
    if sorted(cols) != sorted(like.columns):
        return (sorted(cols), -1, "columns differ")
    odf = spark.createDataFrame(pa.table(cols))
    odf = odf.select(*[odf[f.name].cast(f.dataType).alias(f.name) for f in like.schema.fields])
    n, h = odf.agg(*fingerprint_columns(odf)).first()
    return (sorted(odf.columns), int(n), str(h))
