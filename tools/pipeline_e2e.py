"""End-to-end LLM training-data pipeline probe: ONE chained run.

The per-entry probes certify stages in isolation; a real 100 TB user
runs them as a chain where each stage consumes the previous stage's
survivors. This tool runs that chain at any sf dir and records the
per-stage wall + survivor counts (VERDICT r07 Next #7):

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

Stage boundaries are materialized with localCheckpoint so each stage's
wall is its own (no lazy-evaluation bleed into the next timer).

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

from pyspark.sql import functions as F  # noqa: E402

from bench import _await_quiet_host, _host_load  # noqa: E402
from oroboro_dw_dbt_spark.session import driver_memory, get_spark, parse_mem  # noqa: E402


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


# Semantic-stage target cell occupancy (vectors per cell; the cells ∝ N
# operating point, see semantic_frame).
_OCC = 128

# Disk-rung shuffle width (see resolve_stage_confs).
_DISK_SHUFFLE = 256


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


# --- shared stage machinery -------------------------------------------
# These are THE chain's stage definitions: main() times them and
# tools/explain_audit.py --chain audits their plans. One composition,
# two consumers — so a composition change cannot drift between the
# rung artifacts and the audit (code-review r12 finding).


def resolve_stage_confs(sf_dir: str):
    """(ckpt_level, extra_conf, n_shuffle) for the chain session.

    The "disk" level routes every corpus-sized stage-boundary
    checkpoint (and the LSH stage's per-doc frame) to DISK_ONLY: at
    the sf1000 rung the cumulative pinned state (corpus + deduped +
    LSH base + semantic vectors) overran a 64 g heap; from disk the
    same chain runs clean. A cluster spreads these bytes thin and the
    default (memory+disk) is right there. The level is chosen from the
    input (VERDICT r10 Next #4): estimate the doc count from the
    parquet footers (no JVM needed) and go DISK_ONLY when ~2 live text
    checkpoints (~1.2 KB/doc) would overrun 25% of the driver heap —
    the same sizing rule the LSH spelling uses.

    DISK_ONLY blocks are serialized but UNcompressed by default
    (spark.rdd.compress=false); a corpus-text checkpoint that is
    6.7 GB as snappy parquet re-expands to ~20 GB raw on the block
    store — more than half the single box's free disk at the sf1000
    rung. lz4-compressing serialized blocks trades a little CPU in a
    stage that is md5-bound anyway for ~3-4× disk. And ≥ 2×
    defaultParallelism shuffle partitions: (a) ~75 MB not ~600 MB per
    reduce partition at 50 M docs, (b) the corpus checkpoint inherits
    enough partitions that the LSH stage's "too few splits" guard
    never pays a 19 GB corpus-text repartition shuffle. Shuffle files
    of a truncated lineage are garbage the cleaner only reclaims
    after a JVM GC; 2 min periodicGC keeps ~15 GB of dead shuffle
    files from coexisting with the live stage (the first sf1000
    attempt's disk-full abort).

    Shuffle WIDTH is a CONSTANT 256 — a corpus-scaled width rule
    (≤ ~50 k docs per reduce partition → 1024 at sf1000) was built,
    measured in a full 2×2 on the clean sf1000 corpus, and REVERTED:
    stage-only the wider LSH shuffle won ~8% (50.4 → 46.4 µs/doc,
    BENCH_r12_lsh_sf1000_w256clean/w1024.json), but in-chain it was
    dead even (58.4 vs 58.5, BENCH_r12_pipe_sf1000{,_w1024}.json) and
    the global width regressed the semantic stage +37% (661 → 908 s
    — finer partitions dilute the per-cell GEMM batches), total rung
    +6%. Victim/survivor counts were bit-identical at both widths."""
    import glob

    import pyarrow.parquet as pq

    paths = glob.glob(f"{sf_dir}/documents.parquet/*.parquet") or glob.glob(
        f"{sf_dir}/documents.parquet"
    )
    est_docs = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
    if est_docs * 1200 <= 0.25 * parse_mem(driver_memory()):
        return None, None, None
    extra = {
        "spark.rdd.compress": "true",
        "spark.cleaner.periodicGC.interval": "2min",
    }
    return "disk", extra, _DISK_SHUFFLE


def resolve_lsh_spelling(corpus, n_corpus: int, ckpt_level):
    """(verify, checkpoint_level, decision-record) for stage 2.

    Sized from the corpus (VERDICT r10 Next #4): carry+memory when
    ~0.7 KB/doc of verify state fits 25% of executor storage (sf30),
    reshingle+disk when it doesn't (the single-box sf1000 rung). A
    disk-level chain forces the LSH checkpoint to disk either way."""
    from oroboro_dw_dbt_spark.dedup.dedup import _auto_lsh_spelling

    lsh_verify, auto_ckpt, decision = _auto_lsh_spelling(corpus, n_corpus)
    return lsh_verify, "disk" if ckpt_level == "disk" else auto_ckpt, decision


def corpus_frame(spark, sf_dir: str):
    """Stage 1 (pre-checkpoint): quality_filter keep-set joined back."""
    from oroboro_dw_dbt_spark.text.pipeline import quality_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    q = quality_filter(docs)
    return docs.join(q.where("keep").select("doc_id"), "doc_id")


def neardup_frame(corpus, n_corpus: int, lsh_verify, lsh_ckpt):
    """Stage 2 (pre-checkpoint): star-spelling LSH victims removed."""
    from oroboro_dw_dbt_spark.dedup.dedup import minhash_lsh_victims

    victims = minhash_lsh_victims(
        corpus,
        checkpoint_level=lsh_ckpt,
        verify=lsh_verify,
        approx_docs=n_corpus,
    )
    return corpus.join(victims, "doc_id", "left_anti")


def semantic_vectors(spark, sf_dir: str, deduped):
    """Stage-3 input: micro-scaled int vectors of the SURVIVORS only
    (vec_id keys doc_id — a doc removed upstream must not dominate
    anyone downstream; that is what "chained" means). Stored compact,
    v as array<float> / vi as array<int> — halves the corpus
    checkpoint the stage pins (the r09 sf1000 probe hit GCLocker
    retries at ~22 GB on a 24 g heap; the full-width r10 rerun
    OOMed). Kernels upcast to f64/i64 at compute time so victims are
    unchanged; micro coords |vi| ≤ ~3e7 fit int32 by construction."""
    from oroboro_dw_dbt_spark.dedup.semdedup import quantized_vectors

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").join(
        deduped.select(F.col("doc_id").alias("vec_id")), "vec_id"
    )
    return quantized_vectors(emb).select(
        "vec_id",
        F.transform("v", lambda x: x.cast("float")).alias("v"),
        F.transform("vi", lambda x: x.cast("int")).alias("vi"),
    )


def semantic_frame(
    v, n_vec: int, nprobe: int = 1,
    probe_margin=None, group_spill=None, spill_cap: int = 8,
):
    """Stage 3 (pre-checkpoint): the cells ∝ N greedy operating point
    (VERDICT r08 Next #2) — occupancy-capped cells + d-level descent,
    dominance work N·occ. Occupancy cap at 8× the target: greedy
    cells skew (measured p99 ≈ 9× average at sf10), and Σ occ² — the
    dominance GEMM — is what the cap bounds to N·cap. Returns
    (sem, n_cells)."""
    from oroboro_dw_dbt_spark.dedup.semdedup import (
        ivf_cells_capped,
        semdedup_ivf_core,
    )

    n_cells = ivf_cells_capped(n_vec, _OCC)
    sem = semdedup_ivf_core(
        v, n_cells, assign="greedy", occupancy_cap=8 * _OCC,
        nprobe=nprobe, probe_margin=probe_margin,
        group_spill=group_spill, spill_cap=spill_cap,
    )
    return sem, n_cells


def final_frame(deduped, sem):
    """Stage 3½ (pre-checkpoint): dominated vectors' docs removed."""
    sem_victims = sem.where("keep = 0").select(F.col("vec_id").alias("doc_id"))
    return deduped.join(sem_victims, "doc_id", "left_anti")


def shards_frame(final):
    """Stage 4: per-source token-budget shard assignment."""
    from oroboro_dw_dbt_spark.text.pipeline import pack_shards

    return pack_shards(final, budget=2000)


def main(argv=None) -> None:
    args = _parse_args(argv)
    out_path = args.out_path
    sf_dir = args.sf_dir
    recall_knobs = _recall_knobs(args)

    ckpt_level, extra, n_shuffle = resolve_stage_confs(sf_dir)
    spark = get_spark("pipeline_e2e", shuffle_partitions=n_shuffle, extra_conf=extra)
    spark.range(10_000).mapInPandas(lambda it: it, "id long").count()

    def free_dead_state():
        """Stage boundaries are eager checkpoints, so a finished
        stage's inputs (prior checkpoint + the stage's internal
        checkpoints) are dead weight the moment the boundary
        materializes. On the single box every retained block competes
        for the SAME free disk the next stage's shuffle needs, so the
        caller dels/rebinds the dead refs and this nudges both GCs —
        Spark's ContextCleaner then unpersists the unreferenced RDD
        blocks. (A cluster wants this too: it is the difference
        between peak disk ∝ whole-chain state and ∝ two stages.)"""
        import gc

        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    def ckpt(df):
        if ckpt_level == "disk":
            from pyspark.storagelevel import StorageLevel

            return df.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        return df.localCheckpoint(eager=True)

    # Quiet-host gate (VERDICT r10 Next #2): the sf30 e2e artifact
    # regressed 116→136 s under 9.5 k steal jiffies while the isolated
    # A/B probe on the same corpus improved — pipeline numbers need
    # the same steal/loadavg gate bench.py timings get.
    gate = _await_quiet_host()
    load_before = _host_load()
    stages: dict[str, float] = {}
    stage_load: dict[str, dict] = {}
    counts: dict[str, int] = {}
    t_all = time.monotonic()

    # -- 1. corpus build ---------------------------------------------------
    t0 = time.monotonic()
    corpus = ckpt(corpus_frame(spark, sf_dir))
    counts["corpus"] = corpus.count()
    stages["quality_filter"] = round(time.monotonic() - t0, 3)
    stage_load["quality_filter"] = _host_load()
    # the checkpoint truncated the lineage: the quality join's corpus
    # shuffle is dead NOW — reclaim it before the LSH stage needs the
    # same disk, not at the next stage boundary
    free_dead_state()

    # -- 2. near-dup removal ----------------------------------------------
    # star spelling, lean materialization: the pair spelling measured
    # 10.9× wall at 3.33× docs (sf30→sf100) — profiling showed the
    # corpus-wide shingle-array checkpoint (~3× the text) thrashing
    # the block manager, not the pair count (SCALE.md "sf100 rung")
    t0 = time.monotonic()
    lsh_verify, lsh_ckpt, lsh_decision = resolve_lsh_spelling(
        corpus, counts["corpus"], ckpt_level
    )
    deduped = ckpt(neardup_frame(corpus, counts["corpus"], lsh_verify, lsh_ckpt))
    counts["after_near_dup"] = deduped.count()
    stages["minhash_lsh_dedup"] = round(time.monotonic() - t0, 3)
    stage_load["minhash_lsh_dedup"] = _host_load()
    # corpus ckpt + the LSH stage's internal checkpoints (index/edges/
    # vh) are dead once `deduped` is materialized
    corpus = None
    free_dead_state()

    # -- 3. semantic dedup -------------------------------------------------
    # nprobe > 1 = the recall middle point (VERDICT r09 Next #4);
    # margin/spill = the adaptive knobs (SCALE.md r11 census).
    t0 = time.monotonic()
    v = semantic_vectors(spark, sf_dir, deduped)
    sem, n_cells = semantic_frame(
        v, v.count(), nprobe=recall_knobs["nprobe"],
        probe_margin=recall_knobs["probe_margin"],
        group_spill=recall_knobs["group_spill"],
        spill_cap=recall_knobs["spill_cap"],
    )
    final = ckpt(final_frame(deduped, sem))
    counts["after_semantic"] = final.count()
    stages["semdedup_ivf"] = round(time.monotonic() - t0, 3)
    stage_load["semdedup_ivf"] = _host_load()
    deduped = v = sem = None
    free_dead_state()

    # -- 4. pack shards ----------------------------------------------------
    t0 = time.monotonic()
    shards = shards_frame(final)
    summary = shards.agg(
        F.countDistinct("source", "shard_id").alias("n_shards"),
        F.sum("n_tokens").alias("total_tokens"),
    ).collect()[0]
    counts["n_shards"] = int(summary["n_shards"])
    counts["total_tokens"] = int(summary["total_tokens"])
    stages["pack_shards"] = round(time.monotonic() - t0, 3)
    stage_load["pack_shards"] = _host_load()

    total = round(time.monotonic() - t_all, 3)
    load_after = _host_load()
    out = {
        "metric": "pipeline_e2e_wall",
        "value": total,
        "unit": "sec",
        "sf_dir": sf_dir,
        "stages": stages,
        "stage_load": stage_load,
        "counts": counts,
        "n_cells": n_cells,
        "recall_knobs": recall_knobs,
        "quiet_gate": gate,
        "lsh_spelling": {
            "verify": lsh_verify,
            "checkpoint_level": lsh_ckpt,
            "decision": lsh_decision,
        },
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
