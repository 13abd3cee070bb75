"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload W [--seeds 1-10] [--seconds S] [--trace 0]
        [--checkout DIR ...]

With one checkout (default: this one) it prints, per metric, the median,
the quartiles and the interquartile range as a share of the median, and
flags every end-to-end metric whose spread exceeds a third of its bound
in BENCHMARK.json. With two checkouts (parent first, then change) it
runs them in alternating order per seed, the same benchmark code and
settings on both, and prints both sides and the change/parent ratio.
Each checkout runs its own ``perfbench/run.py``: copy this directory and
BENCHMARK.json into the other checkout first.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(checkout: Path, workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, str(checkout / "perfbench" / "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise RuntimeError(f"{checkout} seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def summary(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return med, q1, q3, (q3 - q1) / med if med else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--checkout", type=Path, action="append")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    checkouts = args.checkout or [ROOT]
    values: dict[Path, dict[str, list[float]]] = {c: {} for c in checkouts}
    for i, seed in enumerate(seeds(args.seeds)):
        for c in checkouts if i % 2 == 0 else checkouts[::-1]:
            t0 = time.monotonic()
            res = run(c, args.workload, seed, seconds, args.trace)
            values[c].setdefault("run_wall_s", []).append(time.monotonic() - t0)
            for k, v in res["metrics"].items():
                values[c].setdefault(k, []).append(v["value"])
            print(f"{c} seed {seed}: ok={res['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    for c in checkouts:
        print(f"\n{c}")
        for k, vs in values[c].items():
            med, q1, q3, iqr = summary(vs)
            flag = " OVER bound/3" if k in bounds and k != "setup_s" and iqr > bounds[k] / 3 else ""
            print(f"  {k:28s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} iqr/median={iqr:.3f}{flag}")
    if len(checkouts) == 2:
        a, b = checkouts
        print("\nchange / parent (medians)")
        for k in values[a]:
            ma, mb = statistics.median(values[a][k]), statistics.median(values[b][k])
            print(f"  {k:28s} {mb / ma if ma else float('nan'):.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
