"""Fast self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Checks that:
- an untraced run emits every end-to-end metric of BENCHMARK.json with
  its unit, checks its ops correct, and removes its per-run directory;
- a corrupted expected fingerprint lowers ``ops_ok_ratio``;
- a traced run emits every per-layer metric with its unit on stdout,
  and writes the trace file with spans and the full per-layer table, in
  which spans cover at least 90% of every op, and on mart_dag the engine
  spans at least 90% of the builder and of ``graph.run``;
- in a directory holding only BENCHMARK.json and the benchmark, the
  benchmark exits non-zero without printing a result.
Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload: str, trace: int, *extra: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    cmd = [*BENCH["command"], "--workload", workload, "--seed", "11", "--seconds", "1",
           "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def result(proc: subprocess.CompletedProcess) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(res: dict, spec: list[dict]) -> None:
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    assert got == want, f"metrics/units differ: missing {set(want) - set(got)}, extra {set(got) - set(want)}, " \
        f"units {[(k, got[k], want[k]) for k in set(want) & set(got) if got[k] != want[k]]}"
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{k} is not a number"


def main() -> int:
    workloads = [w["name"] for w in BENCH["workloads"]]
    run_root = ROOT / ".perfbench_tmp"

    res = result(run(workloads[0], 0, "--sf", "0.001"))
    check_metrics(res, BENCH["end_to_end"])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
    assert res["metrics"]["ops_ok_ratio"]["value"] == 1.0, res
    assert not run_root.exists() or not any(run_root.iterdir()), "per-run directory left behind"
    print("ok   end-to-end metrics, correct outputs, per-run directory removed")

    res = result(run(workloads[0], 0, "--sf", "0.001", "--corrupt-expected"))
    assert res["metrics"]["ops_ok_ratio"]["value"] < 1.0 and res["failed"] >= 1, res
    assert not res["correct"], res
    print("ok   corrupted expected fingerprint lowers ops_ok_ratio")

    for w in workloads:
        res = result(run(w, 1, "--sf", "0.001"))
        check_metrics(res, BENCH["per_layer"])
        assert res["correct"], res
        record = json.loads((ROOT / ".perfbench_out" / f"{w}-seed11-trace1.json").read_text())
        assert record["traceEvents"], "no spans written"
        layers = record["per_layer"]
        assert "python_workers.cpu_s" in layers, sorted(layers)
        spans = [k for k in layers if k.startswith("tracing.") and k.endswith("_coverage_min")]
        assert spans and all(layers[k] >= 0.9 for k in spans), {k: layers[k] for k in spans}
        print(f"ok   {w}: per-layer metrics and trace file")

    (ROOT / ".perfbench_out").mkdir(exist_ok=True)
    with tempfile.TemporaryDirectory(dir=ROOT / ".perfbench_out") as bare:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for p in BENCH["paths"]:
            shutil.copytree(ROOT / p, Path(bare) / p, ignore=shutil.ignore_patterns("__pycache__"))
        proc = run(workloads[0], 0, cwd=Path(bare))
        assert proc.returncode != 0 and '"metrics"' not in proc.stdout, proc
    print("ok   a checkout without the package exits non-zero without a result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
