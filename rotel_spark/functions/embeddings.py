"""Embedding-column utilities — int8 quantization for training-data
pipelines (vector storage at 100 TB is dominated by float32 arrays;
symmetric per-vector int8 cuts it 4× with bounded error).

Symmetric absmax quantization: scale = max|v| / 127,
q_i = floor(v_i/scale + 0.5) ∈ [-127, 127]. The explicit
floor(x + 0.5) rounding (instead of round()) is used because
half-way rounding rules differ across engines — this form is
bit-identical in Spark SQL and DuckDB, so the op is oracle-checkable.
Pure JVM array expressions, codegen'd, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def quant_scale(vec: Column) -> Column:
    """Per-vector symmetric scale: max|v|/127 (1.0 for the zero
    vector so dequantization is well-defined)."""
    absmax = F.array_max(F.transform(vec, lambda x: F.abs(x)))
    return F.when(absmax > 0, absmax / F.lit(127.0)).otherwise(F.lit(1.0))


def quantize_int8(vec: Column, scale: Column) -> Column:
    return F.transform(
        vec, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int")
    )


def with_quantized(
    df: DataFrame, vec_col: str = "embedding", prefix: str = "q"
) -> DataFrame:
    """Add `{prefix}_scale` (double) and `{prefix}_vec` (array<int>)."""
    scale = quant_scale(F.col(vec_col))
    out = df.withColumn(f"{prefix}_scale", scale)
    return out.withColumn(
        f"{prefix}_vec",
        quantize_int8(F.col(vec_col), F.col(f"{prefix}_scale")),
    )


def reconstruction_mse(vec: Column, q: Column, scale: Column) -> Column:
    """Mean squared dequantization error (sequential fold — matches
    the SQL oracle's summation to within 1 ulp)."""
    sq = F.zip_with(
        vec, q, lambda x, y: (x - y.cast("double") * scale) ** 2
    )
    return F.aggregate(sq, F.lit(0.0), lambda a, x: a + x) / F.size(vec)
