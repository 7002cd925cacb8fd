"""Product quantization (PQ) for embedding columns — the memory/bandwidth
scale path for similarity search (B32).

A PQ index stores each vector as ``m`` small integer codes (one per
subspace) instead of ``dim`` floats: at the defaults (m=16 codes over a
64-dim float vector) that is a 16× shrink, which at 100 TB of embeddings is
the difference between an index that fits the cluster's page cache and one
that doesn't. Search uses asymmetric distance computation (ADC): the query
stays exact, a per-subspace lookup table of partial dot products is computed
once driver-side (m × n_codes floats — tiny), and every row's approximate
cosine is a pure JVM expression over its code array: no UDF, no explode, no
join in the scan loop.

Design decisions, mirroring :mod:`.similarity`'s IVF:

- **Codebook fit is driver-side numpy on a bounded deterministic sample**
  (``xxhash64`` order + limit — no counting pre-pass, no storage-order
  bias), one independent k-means per subspace via the shared
  :func:`~.similarity._kmeans_fit`.
- **Encoding is one Arrow-batched pass**: per batch, a (batch × n_codes)
  distance matmul per subspace, argmin → code.
- **ADC scoring is whole-stage-codegen-able**: the LUTs are array literals
  folded into the plan; approximate cosine =
  ``Σ_m lut_dot[m][code_m] / (|q| · sqrt(Σ_m lut_sq[m][code_m]))``
  where ``lut_sq`` carries each centroid's squared norm, so row norms are
  reconstructed from the codes too — nothing but the code array is read.

Composes with IVF: fit PQ on the corpus, store ``(ivf_cluster, pq_codes)``,
probe cells by centroid distance and rank within them by ADC — the standard
IVF-PQ layout (Jégou et al., "Product Quantization for Nearest Neighbor
Search", TPAMI 2011).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _kmeans_fit


class PQModel:
    """Per-subspace codebooks: shape (m, n_codes, sub_dim)."""

    def __init__(self, codebooks: "np.ndarray"):
        cb = np.ascontiguousarray(codebooks, dtype=np.float64)
        if cb.ndim != 3:
            raise ValueError("PQModel expects (m, n_codes, sub_dim)")
        self.codebooks = cb
        self.m, self.n_codes, self.sub_dim = cb.shape
        self.dim = self.m * self.sub_dim


def pq_fit(
    df: DataFrame,
    m: int = 16,
    n_codes: int = 16,
    dim: int = 64,
    max_fit_rows: int = 100_000,
) -> PQModel:
    """Fit one k-means codebook per contiguous subspace of ``dim // m``
    components of ``embedding``, on a bounded deterministic sample (same draw discipline as
    ``similarity.ivf_index``: xxhash64 order + limit, no count pre-pass)."""
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    sub = dim // m
    fit_df = (
        df.select(F.col("embedding").cast("array<double>").alias("_v"))
        .where(F.col("_v").isNotNull() & (F.size("_v") == dim))
        .orderBy(F.xxhash64(F.col("_v"), F.lit(42)))
        .limit(max_fit_rows)
    )
    sample = np.asarray(fit_df.toPandas()["_v"].tolist(), dtype=np.float64)
    if len(sample) == 0:
        raise ValueError("pq_fit: empty fit sample")
    books = np.empty((m, n_codes, sub), dtype=np.float64)
    for j in range(m):
        books[j] = _kmeans_fit(
            sample[:, j * sub : (j + 1) * sub], n_codes, 42 + j
        )
    return PQModel(books)


def pq_encode_udf(model: PQModel):
    """Arrow-batched encoder: per batch and subspace, one
    (batch × n_codes) distance matmul, argmin → code. NULL / wrong-length
    vectors encode to NULL."""
    cb = model.codebooks
    m, n_codes, sub = model.m, model.n_codes, model.sub_dim
    dim = model.dim
    c_sq = (cb**2).sum(axis=2)  # (m, n_codes)

    @F.pandas_udf("array<int>")
    def _encode(vs: pd.Series) -> pd.Series:
        n = len(vs)
        mat = np.zeros((n, dim), dtype=np.float64)
        valid = np.zeros(n, dtype=bool)
        for i, v in enumerate(vs):
            if v is not None and len(v) == dim:
                mat[i] = v
                valid[i] = True
        codes = np.empty((n, m), dtype=np.int32)
        for j in range(m):
            x = mat[:, j * sub : (j + 1) * sub]
            # |x-c|^2 up to the row-constant |x|^2: argmin over codes
            codes[:, j] = (-2.0 * (x @ cb[j].T) + c_sq[j]).argmin(axis=1)
        out = [list(map(int, codes[i])) if valid[i] else None for i in range(n)]
        return pd.Series(out)

    return _encode


def pq_encode(df: DataFrame, model: PQModel) -> DataFrame:
    """Add a ``pq_codes`` array<int> column (length m) encoding
    ``embedding`` — the stored form."""
    enc = pq_encode_udf(model)
    return df.withColumn("pq_codes", enc(F.col("embedding")))


def _flat_lut(lut: "np.ndarray") -> F.Column:
    """(m, n_codes) numpy -> flat array<double> literal, row-major."""
    return F.array(*[F.lit(float(x)) for x in lut.ravel()])


def pq_adc_cosine(model: PQModel, query_vec: list[float]) -> F.Column:
    """Approximate cosine(query, decoded(pq_codes)) as a pure JVM expression.

    lut_dot[j][c] = <q_j, codebook[j][c]>;  lut_sq[j][c] = |codebook[j][c]|^2
    cosine ≈ Σ_j lut_dot[j][code_j] / (|q| · sqrt(Σ_j lut_sq[j][code_j]))
    """
    q = np.asarray(query_vec, dtype=np.float64)
    if q.shape != (model.dim,):
        raise ValueError(f"query dim {q.shape} != {model.dim}")
    sub = model.sub_dim
    qs = q.reshape(model.m, sub)  # (m, sub)
    lut_dot = np.einsum("js,jcs->jc", qs, model.codebooks)  # (m, n_codes)
    lut_sq = (model.codebooks**2).sum(axis=2)  # (m, n_codes)
    q_norm = float(np.sqrt((q**2).sum()))
    dot_lit, sq_lit = _flat_lut(lut_dot), _flat_lut(lut_sq)
    n_codes = model.n_codes

    def lookup(lit: F.Column) -> F.Column:
        # element_at is 1-based; index = j*n_codes + code + 1
        picked = F.transform(
            F.col("pq_codes"),
            lambda c, j: F.element_at(lit, (j * n_codes + c + 1).cast("int")),
        )
        return F.aggregate(picked, F.lit(0.0), lambda a, x: a + x)

    dot = lookup(dot_lit)
    norm = F.sqrt(lookup(sq_lit))
    return F.when(
        F.col("pq_codes").isNotNull() & (norm * q_norm > 0),
        dot / (norm * F.lit(q_norm)),
    )


def pq_topk(
    model: PQModel,
    encoded: DataFrame,
    query_vec: list[float],
    k: int = 10,
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """ADC top-k ``vec_id`` over the ``pq_codes`` column only — the scan never
    touches the float vectors, so its bandwidth is m bytes/row instead of
    4·dim. Compiles to TakeOrderedAndProject like brute_force_topk."""
    out = encoded.select(
        F.col("vec_id"),
        F.round(pq_adc_cosine(model, query_vec), 4).alias("adc_cosine"),
    )
    if exclude_ids:
        out = out.filter(~F.col("vec_id").isin(exclude_ids))
    return out.orderBy(F.col("adc_cosine").desc(), F.col("vec_id")).limit(k)
