"""The one materialization seam: every eager checkpoint in the package
and the tools goes through :func:`materialize`."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# Carried bytes per consumer-scan task of an eager checkpoint.
_CKPT_SCAN_BYTES = 8 * 1024 * 1024

_LEVELS = {None: None, "disk": StorageLevel.DISK_ONLY}


def _ckpt_scan_width(n_rows: int, bytes_per_row: int, inherited: int) -> int:
    """Consumer-scan width for an eager checkpoint (optimization r13,
    VERDICT r12 Next #6): a compute-bound stage (the md5 shingling of
    the MinHash-LSH family) must run 2×cores wide, but every
    downstream stage then SCANS the checkpoint at that width — at tiny
    carried state that is inherited-width × consumers near-empty tasks
    (dd_minhash_lsh_star: 477 tasks at sf0.1, most over a ~3.5 MB
    frame). AQE cannot help: it coalesces post-shuffle partitions, not
    cached-block scans. Size the scan from the carried bytes instead
    (~8 MB/task target), never wider than the checkpoint itself —
    applied via coalesce() AFTER the eager materialization, so the
    compute width and the materialized blocks are untouched and no
    shuffle is added. At sf30+ the rule returns ≥ the inherited width
    and the coalesce is a no-op."""
    return max(1, min(inherited, -(-n_rows * bytes_per_row // _CKPT_SCAN_BYTES)))


def materialize(
    df: DataFrame, *, level: str | None = None,
    rows: int | None = None, row_bytes: int | None = None,
) -> DataFrame:
    """``df`` eagerly checkpointed: computed once, its lineage cut.

    ``level``: None is Spark's default storage (MEMORY_AND_DISK);
    ``"disk"`` is DISK_ONLY, so a corpus-sized frame streams from disk
    instead of competing with shuffle buffers for heap. With ``rows``
    and ``row_bytes`` the result is coalesced to the scan width
    :func:`_ckpt_scan_width` sizes from the carried bytes; without
    them it keeps its partitions and ``outputPartitioning``.

    This is a LOCAL checkpoint: its blocks die with their executor and
    no lineage is left to recompute them. A cluster wants a reliable
    checkpoint (``df.checkpoint`` into a dir on shared storage) or a
    ``persist`` here; this function is the one place to change."""
    if level not in _LEVELS:
        raise ValueError(f"level must be None or 'disk', got {level!r}")
    out = df.localCheckpoint(eager=True, storageLevel=_LEVELS[level])
    if rows is not None and row_bytes is not None:
        out = out.coalesce(
            _ckpt_scan_width(rows, row_bytes, out.rdd.getNumPartitions())
        )
    return out
