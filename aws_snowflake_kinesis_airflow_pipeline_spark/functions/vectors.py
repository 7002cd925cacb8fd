"""Embedding-vector column functions: L2 norm and int8 quantization.

The storage-side half of an embedding pipeline: symmetric per-vector int8
quantization (scale = max|x| / 127) — the standard 4× shrink applied before vectors are
written to an ANN index or shipped to trainers. (North-star LLM-data
operator, SURVEY.md §2 B28; composes with operators/similarity.py, whose
indexes would store the quantized form at 100 TB.)

All pure higher-order-function expressions over ``array<float>`` —
``transform``/``aggregate`` run JVM-side per row, no shuffle, no Python.
Cross-engine determinism notes (the DuckDB oracles replay every formula):

- elements are cast float→double before any arithmetic, so both engines
  compute on the same widened values;
- the quantizer rounds half-up via ``floor(x/scale + 0.5)`` — spelled
  explicitly because Spark's ``round`` (BigDecimal HALF_UP) and DuckDB's
  ``round`` (C library) disagree on ties;
- ``max``/``abs``/integer sums are order-independent, so only the L2 norm
  carries summation-order float risk (rounded to 4 dp at the query layer).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def l2_norm() -> Column:
    """Euclidean norm of ``embedding``: sqrt(sum x_i^2), sequential left
    fold."""
    return F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )


def max_abs(col: Column | str) -> Column:
    """Largest element magnitude — the symmetric-quantization range."""
    return F.array_max(F.transform(_c(col), lambda x: F.abs(x.cast("double"))))


def int8_scale(col: Column | str) -> Column:
    """Per-vector symmetric int8 scale: max|x| / 127 (0 for all-zero
    vectors, making dequantization exact there)."""
    return max_abs(col) / F.lit(127.0)


def int8_quantize(col: Column | str, scale: Column) -> Column:
    """Quantized vector as array<int> in [-127, 127]: round-half-up of
    x/scale, spelled floor(x/scale + 0.5) for engine portability."""
    v = _c(col)
    return F.transform(
        v,
        lambda x: F.when(scale == 0.0, F.lit(0))
        .otherwise(F.floor(x.cast("double") / scale + F.lit(0.5)))
        .cast("int"),
    )


def max_dequant_err(col: Column | str, quant: Column, scale: Column) -> Column:
    """Largest |x - q*scale| across the vector — the reconstruction-error
    bound users alarm on (≤ scale/2 by construction)."""
    v = _c(col)
    return F.array_max(
        F.zip_with(
            v,
            quant,
            lambda x, q: F.abs(x.cast("double") - q.cast("double") * scale),
        )
    )
