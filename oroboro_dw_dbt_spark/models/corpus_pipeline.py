"""The corpus-build DAG: the training-data pipeline AS an engine model
graph.

The reference demonstrates the engine's lifecycle on a BI mart
(models/reference_models.py); this graph demonstrates the same
lifecycle — views, a partitioned table mart, data tests, tag selection
— on the OTHER domain this engine exists for: turning raw documents
into training shards. Four models, each one operator deep:

    documents (source)
      └─ docs_clean     (view)  quality_filter keep-rows only
           └─ docs_dedup (view)  exact dedup, first doc_id per fingerprint
                └─ docs_mixed (view)  per-source weighted keep rates
                     └─ corpus_shards (table, partitioned by source)
                          token-budget shard assignment + data tests

Scale: the three views fuse into one scan-shaped plan (filters are
row-local, dedup is one shuffle on fingerprint, mix is row-local); the
only other shuffle is the per-source packing window. The mart writes
partitioned by source, so shard readers prune to their source, and the
write goes through the engine's backup-first swap (table_format.py).

The production chain — quality filter → MinHash-LSH star dedup →
trained-cell SemDeDup → shard packing — is :func:`run_chain`, composed
once here: ``tools/pipeline_e2e.py`` times it and ``tools/explain_audit.py
--chain`` audits its stage plans. It is not a ``ModelGraph``: its stage
boundaries are eager checkpoints followed by driver counts, a
materialization the DAG does not have.
"""

from __future__ import annotations

import gc
import time
from typing import Callable

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from oroboro_dw_dbt_spark.dedup.dedup import auto_lsh_spelling, minhash_lsh_victims
from oroboro_dw_dbt_spark.dedup.semdedup import (
    ivf_cells_capped,
    quantized_vectors,
    semdedup_ivf_core,
)
from oroboro_dw_dbt_spark.engine.dag import ModelGraph, SourceRegistry, model
from oroboro_dw_dbt_spark.engine.materialize import materialize
from oroboro_dw_dbt_spark.engine.tests import not_null, unique_combination_of_columns
from oroboro_dw_dbt_spark.ops import weighted_mix
from oroboro_dw_dbt_spark.session import driver_memory, parse_mem
from oroboro_dw_dbt_spark.text.analysis import doc_fingerprint
from oroboro_dw_dbt_spark.text.pipeline import pack_shards, quality_filter

MIX_WEIGHTS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.0}
MIX_DEFAULT = 0.1
SHARD_BUDGET = 2000


def build_corpus_graph(
    sources: SourceRegistry, warehouse_dir: str | None = None
) -> ModelGraph:
    @model(name="docs_clean", materialized="view", tags=("corpus",))
    def docs_clean(documents):
        kept = quality_filter(documents).filter(F.col("keep")).select("doc_id")
        return documents.join(kept, "doc_id")

    @model(name="docs_dedup", materialized="view", tags=("corpus",))
    def docs_dedup(docs_clean):
        w = Window.partitionBy("fingerprint").orderBy(F.col("doc_id").asc())
        return (
            docs_clean.withColumn("fingerprint", doc_fingerprint("text"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "fingerprint")
        )

    @model(name="docs_mixed", materialized="view", tags=("corpus",))
    def docs_mixed(docs_dedup):
        return weighted_mix(
            docs_dedup, "source", MIX_WEIGHTS, ["doc_id"], default_weight=MIX_DEFAULT
        )

    @model(
        name="corpus_shards",
        materialized="table" if warehouse_dir else "view",
        tags=("corpus", "marts"),
        partition_by=("source",) if warehouse_dir else (),
        tests=(
            not_null("doc_id"),
            unique_combination_of_columns("source", "shard_id", "doc_id"),
        ),
    )
    def corpus_shards(docs_mixed):
        return pack_shards(docs_mixed, budget=SHARD_BUDGET)

    graph = ModelGraph(sources, warehouse_dir=warehouse_dir)
    graph.add(docs_clean, docs_dedup, docs_mixed, corpus_shards)
    return graph


# --- the production training-data chain -------------------------------

# Semantic-stage target cell occupancy (vectors per cell; the cells ∝ N
# operating point, see semantic_frame).
_OCC = 128

# Disk-rung shuffle width (see resolve_stage_confs).
_DISK_SHUFFLE = 256


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


def corpus_frame(spark, sf_dir: str):
    """Stage 1 (pre-checkpoint): quality_filter keep-set joined back."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    q = quality_filter(docs)
    return docs.join(q.where("keep").select("doc_id"), "doc_id")


def neardup_frame(corpus, n_corpus: int, lsh_verify, lsh_ckpt):
    """Stage 2 (pre-checkpoint): star-spelling LSH victims removed."""
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
    return pack_shards(final, budget=SHARD_BUDGET)


def run_chain(
    spark, sf_dir: str, *, level: str | None, nprobe: int,
    probe_margin: float | None, group_spill: float | None, spill_cap: int,
    after_stage: Callable[[str, object], None] | None = None,
) -> dict:
    """Run the 4-stage chain over ``sf_dir``; returns ``stages`` (wall
    s per stage), ``counts``, ``n_cells`` and ``lsh_spelling``.

    Each stage ends at an eager checkpoint at ``level`` (see
    :func:`resolve_stage_confs`) plus a driver count, so its wall is
    its own. Then ``after_stage(name, frame)`` gets the stage's
    pre-checkpoint frame (the shards frame for the last stage); it
    must not keep it, or the stage's dead checkpoints stay pinned.
    The other keywords are ``semantic_frame``'s recall knobs."""
    stages: dict[str, float] = {}
    counts: dict[str, int] = {}

    def end_stage(name, t0, frame):
        stages[name] = round(time.monotonic() - t0, 3)
        if after_stage is not None:
            after_stage(name, frame)

    def boundary(name, t0, pre, count_key):
        """Materialize and count a stage's frame, then end the stage."""
        out = materialize(pre, level=level)
        counts[count_key] = out.count()
        end_stage(name, t0, pre)
        return out

    def free_dead_state():
        """Stage boundaries are eager checkpoints, so a finished
        stage's inputs (prior checkpoint + the stage's internal
        checkpoints) are dead weight the moment the boundary
        materializes. On the single box every retained block competes
        for the SAME free disk the next stage's shuffle needs, so the
        caller drops the dead refs and this nudges both GCs —
        Spark's ContextCleaner then unpersists the unreferenced RDD
        blocks. (A cluster wants this too: it is the difference
        between peak disk ∝ whole-chain state and ∝ two stages.)"""
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    # -- 1. corpus build ---------------------------------------------------
    t0 = time.monotonic()
    corpus = boundary("quality_filter", t0, corpus_frame(spark, sf_dir), "corpus")
    # the checkpoint truncated the lineage: the quality join's corpus
    # shuffle is dead NOW — reclaim it before the LSH stage needs the
    # same disk, not at the next stage boundary
    free_dead_state()

    # -- 2. near-dup removal ----------------------------------------------
    # star spelling, lean materialization: the pair spelling measured
    # 10.9× wall at 3.33× docs (sf30→sf100) — profiling showed the
    # corpus-wide shingle-array checkpoint (~3× the text) thrashing
    # the block manager, not the pair count (SCALE.md "sf100 rung").
    # The spelling is sized from the corpus (carry+memory when its
    # verify state fits, reshingle+disk when not); a disk-level chain
    # forces the LSH checkpoint to disk either way.
    t0 = time.monotonic()
    lsh_verify, lsh_ckpt, lsh_decision = auto_lsh_spelling(corpus, counts["corpus"])
    if level == "disk":
        lsh_ckpt = "disk"
    deduped = boundary(
        "minhash_lsh_dedup", t0,
        neardup_frame(corpus, counts["corpus"], lsh_verify, lsh_ckpt),
        "after_near_dup",
    )
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
        v, v.count(), nprobe=nprobe, probe_margin=probe_margin,
        group_spill=group_spill, spill_cap=spill_cap,
    )
    final = boundary("semdedup_ivf", t0, final_frame(deduped, sem), "after_semantic")
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
    end_stage("pack_shards", t0, shards)

    return {
        "stages": stages,
        "counts": counts,
        "n_cells": n_cells,
        "lsh_spelling": {
            "verify": lsh_verify,
            "checkpoint_level": lsh_ckpt,
            "decision": lsh_decision,
        },
    }
