"""Embedding compression: per-vector symmetric int8 scalar quantization.

The memory lever for ANN at scale: a 100 TB float32 embedding corpus
becomes ~25 TB of int8 codes (plus one float scale per vector), which is
the difference between an index that fits executor memory and one that
doesn't. This is the "SQ8" baseline every vector store ships (cf. FAISS
ScalarQuantizer; Guo et al., ScaNN, ICML 2020 §2 baselines); IVF/LSH
(search.py) pick the candidates, SQ8 shrinks what each candidate costs.

All row-local Column trees — zero shuffle, whole-stage codegen, and the
decode (codes/scale) composes with `F.zip_with` dot products so the
distance pass never leaves the JVM.

Determinism: rounding is ``floor(x·scale + 0.5)`` — "half toward +inf" —
spelled identically in the DuckDB oracle; both engines evaluate it in
IEEE double, so codes match bit-for-bit (engine round() half-up vs
half-even differences never enter).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oroboro_dw_dbt_spark.similarity.search import _as_double


def int8_codes(vec: Column) -> tuple[Column, Column]:
    """(scale, codes) for a float-array column: ``scale = 127/max|x|``
    (1.0 for the all-zero vector), ``code_i = floor(x_i·scale + 0.5)``
    ∈ [-127, 127] by construction — no clamp needed."""
    v = _as_double(vec)
    amax = F.array_max(F.transform(v, F.abs))
    scale = F.when(amax > 0, F.lit(127.0) / amax).otherwise(F.lit(1.0))
    codes = F.transform(v, lambda x: F.floor(x * scale + F.lit(0.5)).cast("int"))
    return scale, codes


def int8_quantize(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Quantize each vector and report reconstruction quality:
    ``codes_md5`` (exact integer codes, hash-checkable), the scale, and
    the mean absolute reconstruction error (≤ 0.5/scale per element by
    the rounding bound — asserted in tests)."""
    v = _as_double(F.col(vec_col))
    scale, codes = int8_codes(F.col(vec_col))
    staged = emb.select(
        F.col(id_col).alias("vec_id"),
        v.alias("_v"),
        scale.alias("_scale"),
        codes.alias("_codes"),
    )
    err = F.zip_with(
        F.col("_v"),
        F.col("_codes"),
        lambda x, q: F.abs(x - q.cast("double") / F.col("_scale")),
    )
    # left fold, mirrored by DuckDB list_reduce so float addition order
    # (and therefore the rounded 6th decimal) agrees between engines
    mae = (
        F.aggregate(err, F.lit(0.0), lambda a, x: a + x)
        / F.size(F.col("_v")).cast("double")
    )
    return staged.select(
        "vec_id",
        F.round(F.col("_scale"), 6).alias("scale"),
        F.md5(F.concat_ws(",", F.transform(F.col("_codes"), lambda c: c.cast("string"))))
        .alias("codes_md5"),
        F.round(mae, 6).alias("mae"),
    )
