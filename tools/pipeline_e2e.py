"""End-to-end LLM training-data pipeline probe: ONE chained run.

The per-entry probes certify stages in isolation; a real 100 TB user
runs them as a chain where each stage consumes the previous stage's
survivors. This tool runs that chain
(``oroboro_dw_dbt_spark.models.corpus_pipeline.run_chain``) at any sf
dir and records the per-stage wall + survivor counts (VERDICT r07
Next #7):

  1. corpus build  — quality_filter over documents (scan-speed Column
                     tree), keep-set joined back to the corpus
  2. near-dup      — MinHash-LSH star edges (each doc vs its buckets'
                     min-id reps — linear in bucket size), exact-
                     Jaccard verified; verified members removed
  3. semantic      — trained-cell SemDeDup at the cells ∝ N operating
                     point (greedy two-level assignment, occupancy-
                     capped per-cell GEMM dominance) over the
                     embeddings of surviving docs; dominated vectors'
                     docs removed
  4. pack shards   — per-source token-budget shard assignment of the
                     final corpus

Usage: python tools/pipeline_e2e.py OUT.json [SF_DIR]
                [--margin M] [--spill S] [--nprobe N]
Prints one JSON line; full record written to OUT.json.

The recall knobs are CLI args only (VERDICT r11 Next #7 — env strings
are typo-silent; the artifact must say what a rung ran with): the
resolved values and their source (``cli`` or ``default``) land in the
artifact's ``recall_knobs`` field.
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from bench import _await_quiet_host, _host_load  # noqa: E402
from oroboro_dw_dbt_spark.models.corpus_pipeline import (  # noqa: E402
    resolve_stage_confs,
    run_chain,
)
from oroboro_dw_dbt_spark.session import get_spark  # noqa: E402


def _parse_args(argv=None):
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_path", nargs="?", default="BENCH_pipeline_e2e.json")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--margin", type=float, default=None,
        help="semantic-stage probe_margin (adaptive vector-side "
        "multiprobe; default: off)",
    )
    ap.add_argument(
        "--spill", type=float, default=None,
        help="semantic-stage group_spill (cell-side multi-assignment; "
        "default: off)",
    )
    ap.add_argument(
        "--nprobe", type=int, default=None,
        help="pivots probed per descent level (margin makes this a "
        "width cap; default: 1)",
    )
    ap.add_argument(
        "--spill-cap", type=int, default=None, dest="spill_cap",
        help="max pivot groups a spilled cell may join per level — a "
        "wide --spill silently saturates here, so large-C censuses "
        "must raise it (default: 8)",
    )
    return ap.parse_args(argv)


def _recall_knobs(args) -> dict:
    """The semantic stage's recall knobs: each CLI flag, else its
    default (nprobe 1 = the certified point, margin/spill off), plus
    where each value came from."""
    defaults = {"nprobe": 1, "probe_margin": None, "group_spill": None, "spill_cap": 8}
    given = {
        "nprobe": args.nprobe,
        "probe_margin": args.margin,
        "group_spill": args.spill,
        "spill_cap": args.spill_cap,
    }
    knobs = {k: defaults[k] if v is None else v for k, v in given.items()}
    knobs["source"] = {k: "default" if v is None else "cli" for k, v in given.items()}
    return knobs


def main(argv=None) -> None:
    args = _parse_args(argv)
    out_path = args.out_path
    sf_dir = args.sf_dir
    recall_knobs = _recall_knobs(args)

    ckpt_level, extra, n_shuffle = resolve_stage_confs(sf_dir)
    spark = get_spark("pipeline_e2e", shuffle_partitions=n_shuffle, extra_conf=extra)
    spark.range(10_000).mapInPandas(lambda it: it, "id long").count()

    # Quiet-host gate (VERDICT r10 Next #2): the sf30 e2e artifact
    # regressed 116→136 s under 9.5 k steal jiffies while the isolated
    # A/B probe on the same corpus improved — pipeline numbers need
    # the same steal/loadavg gate bench.py timings get.
    gate = _await_quiet_host()
    load_before = _host_load()
    stage_load: dict[str, dict] = {}

    def sample_load(stage, _frame):
        stage_load[stage] = _host_load()

    t_all = time.monotonic()
    knobs = {k: v for k, v in recall_knobs.items() if k != "source"}
    run = run_chain(spark, sf_dir, level=ckpt_level, after_stage=sample_load, **knobs)
    total = round(time.monotonic() - t_all, 3)
    load_after = _host_load()
    out = {
        "metric": "pipeline_e2e_wall",
        "value": total,
        "unit": "sec",
        "sf_dir": sf_dir,
        "stages": run["stages"],
        "stage_load": stage_load,
        "counts": run["counts"],
        "n_cells": run["n_cells"],
        "recall_knobs": recall_knobs,
        "quiet_gate": gate,
        "lsh_spelling": run["lsh_spelling"],
        "stage_checkpoint_level": ckpt_level or "memory_and_disk",
        "session": {
            "ckpt_level": ckpt_level,
            "n_shuffle": n_shuffle,
            "extra_conf": extra,
        },
        "load": {
            "before": load_before,
            "after": load_after,
            "steal_jiffies_delta": (
                load_after.get("steal_jiffies", 0)
                - load_before.get("steal_jiffies", 0)
            ),
        },
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
