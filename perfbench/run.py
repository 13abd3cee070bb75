"""Benchmark entry point.

    python3 perfbench/run.py --workload {mart_dag,query_mix,corpus_dedup}
        --seed N --seconds S --trace {0,1}

Run from anywhere inside a checkout of the repository. Prints one JSON
object as the last line of stdout (``correct``, ``attempted``,
``failed``, ``metrics``): the end-to-end metrics untraced, the per-layer
metrics traced. A record of the run (and, traced, the Chrome trace with
the full per-layer table) is written to ``.perfbench_out/`` at the root
of the checkout. Everything else the run writes (inputs, Spark local
dirs, temp files, warehouses) lives in ``.perfbench_tmp/run-<pid>`` and
is deleted on exit.

The process is self-contained and sized to the host: ``local[nproc]``,
a driver heap of at most 60% of physical memory (capped at 4 GiB),
the package on the Python workers' path, and no ``SPARK_GRAFT_*`` knob
from the caller's environment.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "oroboro_dw_dbt_spark"
DEADLINE_S = 170  # a run must end within 180 s
HEAP_CAP_MB = 4096


def configure_env(run_dir: Path) -> None:
    """Host sizing, worker import path and temp dirs, before Spark starts."""
    import tempfile

    import probes

    info = probes.host_info()
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    heap_mb = min(HEAP_CAP_MB, int(info["mem_total_gb"] * 1024 * 0.6))
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(info["nproc"]),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        "SPARK_LAUNCHER_OPTS": "-XX:+PerfDisableSharedMem",
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    })
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, str(ROOT))


def stop_spark() -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    for every one of them to end."""
    from pyspark import SparkContext

    import probes

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    kids = probes.children(proc.pid) if proc is not None else []
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=20)
    except Exception:  # noqa: BLE001 - any failure to end cleanly: kill
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.monotonic() + 10
    while (alive := [p for p in kids if Path(f"/proc/{p}").exists()]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _deadline(signum, frame) -> None:
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, str(HERE))
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="input scale override (self-test)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="corrupt one op's expected fingerprint (self-test)")
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2

    import dataclasses

    workload = WORKLOADS[args.workload]
    if args.sf is not None:
        workload = dataclasses.replace(workload, sf=args.sf, warmup_cycles=1)
    run_dir = ROOT / ".perfbench_tmp" / f"run-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    try:
        configure_env(run_dir)
        import harness

        result, record = harness.execute(
            workload, args.seed, args.seconds, bool(args.trace), run_dir, args.corrupt_expected
        )
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                run_dir.parent.rmdir()
            except OSError:
                pass  # another run still uses it
            signal.alarm(0)
    out_dir.mkdir(exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (out_dir / name).write_text(json.dumps(record, indent=1))
    print(json.dumps({k: v for k, v in record.items() if k != "traceEvents"}, indent=1), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
