"""Scale-probe and profile arbitrary catalog entries across sf dirs.

Mirrors bench.py's timing discipline (warm-up, min-of-N passes, host
load + steal snapshot) but takes any catalog names — used for the
per-round empirical scale probes (SCALE.md "Measured sf1") without
growing the driver-facing HEADLINE list. Each pass runs in its own job
group, and the fastest pass's Spark job/stage/task counts are recorded
next to its wall: for sub-second entries per-job fixed overhead
competes with real work, so the job count is the first thing to know
before optimizing a plan.

Usage:
    python tools/probe_entries.py OUT.json QUERY[,QUERY...] SF_DIR[,SF_DIR...]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from bench import _host_load  # noqa: E402

from oroboro_dw_dbt_spark.operators.catalog import QUERIES  # noqa: E402
from oroboro_dw_dbt_spark.session import get_spark  # noqa: E402


def _group_counts(tracker, group: str) -> dict[str, int]:
    """Jobs, and the stages/tasks that ran (skipped stages have no
    tasks), of one job group."""
    job_ids = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in job_ids:
        ji = tracker.getJobInfo(jid)
        if ji is None:
            continue
        for sid in ji.stageIds:
            si = tracker.getStageInfo(sid)
            if si is not None and si.numTasks > 0:
                stages += 1
                tasks += si.numTasks
    return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}


def main(argv: list[str] | None = None) -> None:
    out_path, names_arg, dirs_arg = (argv or sys.argv[1:])[:3]
    names = names_arg.split(",")
    sf_dirs = dirs_arg.split(",")
    passes = 2
    spark = get_spark("probe")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    spark.range(10_000).mapInPandas(lambda it: it, "id long").count()

    out: dict = {"metric": "entry_scale_probe", "passes": passes, "dirs": {}}
    for sf_dir in sf_dirs:
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()  # warm footers
        load_before = _host_load()
        timings: dict[str, float] = {}
        raw: dict[str, list[float]] = {}
        profile: dict[str, dict[str, int]] = {}
        for pass_no in range(passes):
            for name in names:
                group = f"probe_{name}_{pass_no}"
                sc.setJobGroup(group, name)
                t0 = time.monotonic()
                df = QUERIES[name].builder(spark, sf_dir)
                # noop sink, NOT count(): count lets ColumnPruning drop
                # unused window/project expressions, which would make
                # window-heavy entries look scale-free
                df.write.format("noop").mode("overwrite").save()
                t = round(time.monotonic() - t0, 3)
                sc.setJobGroup(None, None)
                raw.setdefault(name, []).append(t)
                if t <= timings.get(name, t):
                    timings[name] = t
                    profile[name] = _group_counts(tracker, group)
        out["dirs"][sf_dir] = {
            "queries": timings,
            "passes_raw": raw,
            "profile": profile,
            "load_before": load_before,
            "load_after": _host_load(),
        }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({d: v["queries"] for d, v in out["dirs"].items()}, indent=1))


if __name__ == "__main__":
    main()
