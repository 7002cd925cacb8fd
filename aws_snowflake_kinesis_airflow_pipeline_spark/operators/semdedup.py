"""SemDeDup — cluster-scoped semantic deduplication of embeddings.

The SemDeDup recipe (Abbas et al. 2023, "SemDeDup: Data-efficient learning
at web-scale through semantic deduplication", arXiv:2303.09540): k-means
the embedding space, then look for duplicate pairs only WITHIN each
cluster — semantically identical points land in the same cell, so the
quadratic pair search runs per-cell instead of corpus-wide. This is the
third member of the engine's embedding-dedup family and covers a different
trade-off than the other two:

* ``dedup.embedding_near_dups`` (hyperplane LSH): sub-quadratic candidate
  generation, recall set by the banding S-curve.
* ``operators/incremental`` (persisted LSH index): streaming arrivals.
* this module: exact WITHIN-CLUSTER recall at a chosen clustering
  granularity — the published recipe for curating web-scale pretraining
  corpora, where a bounded per-cluster matmul is cheaper than tuning LSH.

Scale shape: centroids come from ``similarity.ivf_index`` (bounded-sample
driver fit, one Arrow-batched assignment pass); the per-cluster pairwise
search is ``applyInPandas`` over the cluster key — one exchange, then an
O(m²/2) numpy matmul per cell. The m² is the SemDeDup design point, and
per-cell work is bounded BY CONSTRUCTION: cells larger than ``cell_cap``
are re-split in-kernel by deterministic recursive k-means before the
pairwise block loop, so no single group's quadratic exceeds cap² no
matter how badly the global clustering skews (k-means cells over
blob-concentrated data are NOT uniform — the round-11 20 M-vector sitting
degraded to 27% per-row retention on exactly this). This is the SemDeDup
paper's own cluster-size discipline, applied recursively instead of by
hand-raising ``n_clusters``. ``max_cluster_rows`` remains the memory
guard on the single-group pandas materialization (the applyInPandas
group must fit one worker): oversized cells raise instead of silently
OOMing.

Exact-duplicate recall is structural, not probabilistic: assignment is a
deterministic function of the vector, so identical vectors ALWAYS share a
cell and are always found. Near-duplicates straddling a Voronoi boundary
can be missed — inherent to the method and measured in tests against the
brute-force all-pairs ground truth.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .dedup import connected_components
from .similarity import ivf_index
from .spread import scaled_repartition as _scaled_repartition

#: Recursion budget for the in-kernel re-split. Each level multiplies the
#: group count by ~2·m/cell_cap, so 8 levels cover any m ≤ max_cluster_rows
#: from any cell_cap ≥ 64; a group that still exceeds cap at the floor is a
#: near-identical clique k-means cannot separate (its PAIR OUTPUT is itself
#: quadratic, so the quadratic matmul is proportional to the answer).
_MAX_SPLIT_DEPTH = 8
#: Lloyd iterations for the in-kernel split. Centroid QUALITY barely
#: matters here — any geometric partition bounds the quadratic — so a few
#: fixed iterations beat convergence loops (determinism + bounded cost).
_SPLIT_ITERS = 4


def _emit_block_pairs(ids, vn, threshold, out_i, out_j, out_c) -> None:
    """Row-blocked upper-triangle matmul over one group (the
    dedup._bucket_pairs discipline): a full m x m sims matrix is
    m^2-quadratic per WORKER, and 32 concurrent workers of an unblocked
    20-50k-row cell was the round-11 kernel OOM at the 20 M-vector
    decade. Blocks keep peak memory at block x m."""
    m = len(ids)
    block = 4096
    for b0 in range(0, m, block):
        sims_blk = np.round(vn[b0 : b0 + block] @ vn.T, 4)
        for bi in range(sims_blk.shape[0]):
            i = b0 + bi
            hits = np.flatnonzero(sims_blk[bi, i + 1 :] >= threshold) + i + 1
            if len(hits) == 0:
                continue
            a = np.full(len(hits), ids[i])
            b = ids[hits]
            out_i.append(np.minimum(a, b))
            out_j.append(np.maximum(a, b))
            out_c.append(sims_blk[bi, hits])


def _split_assign(vn_g: np.ndarray, k: int) -> np.ndarray:
    """Deterministic k-means labels for one oversized group (rows are
    already sorted by id, so this is a pure function of the group's
    content). Init = evenly spaced rows of the sorted group; ``_SPLIT_ITERS``
    Lloyd rounds; empty centers simply attract nothing. For unit rows,
    argmin Euclidean == argmax (x·c − |c|²/2), so assignment is one
    m×k matmul per round — O(m·k·d) total, linear in m for fixed cap."""
    m = len(vn_g)
    centers = vn_g[np.linspace(0, m - 1, k).astype(np.int64)]
    labels = np.zeros(m, dtype=np.int64)
    for _ in range(_SPLIT_ITERS):
        scores = vn_g @ centers.T - 0.5 * (centers * centers).sum(axis=1)
        labels = np.argmax(scores, axis=1)
        for c in range(k):
            mask = labels == c
            if mask.any():
                centers[c] = vn_g[mask].mean(axis=0)
    return labels


def semantic_dedup_pairs(
    df: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.95,
    max_cluster_rows: int = 100_000,
    max_fit_rows: int = 100_000,
    indexed: DataFrame | None = None,
    cell_cap: int = 4096,
) -> DataFrame:
    """Duplicate pairs (id1 < id2, cosine) found within k-means cells.

    Cosine is rounded to 4 dp (engine-wide float-parity convention).
    ``max_fit_rows`` bounds the centroid-fit sample exactly as in
    ``similarity.ivf_index`` (centroids converge far below the corpus).

    ``cell_cap`` bounds the per-group quadratic by construction (module
    docstring): a cell with more rows is re-split in-kernel by
    deterministic recursive k-means until every leaf group is ≤ cap (or
    provably unsplittable — a near-identical clique whose pair output is
    itself quadratic). EXACT-duplicate recall survives the recursion
    structurally: identical vectors produce identical assignment scores
    at every level, so they can never be separated. Near-duplicates can
    straddle a sub-cell boundary exactly as they can straddle a top-level
    Voronoi boundary — the method's documented recall trade-off, now at a
    granularity the engine controls instead of one the data skews.

    ``indexed``: a pre-assigned frame (vec_id, embedding, ivf_cluster) from
    an ``ivf_index`` the caller already built — e.g. a plan that ALSO
    serves IVF probes from the same clustering pays one fit and one
    assignment pass instead of two (as :func:`semantic_dedup` takes its
    pairs from the caller). Must cover the same rows as ``df``; the clustering
    granularity knobs (``n_clusters``/``max_fit_rows``) are the index's,
    not this call's.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("semantic_dedup_pairs: threshold must be in (0, 1]")
    if indexed is None:
        _, indexed = ivf_index(
            df.select("vec_id", "embedding"),
            n_clusters,
            max_fit_rows=max_fit_rows,
        )

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m > max_cluster_rows:
            raise RuntimeError(
                f"semantic_dedup_pairs: cluster has {m} rows > "
                f"max_cluster_rows={max_cluster_rows}; raise n_clusters "
                "so the per-cell pairwise search stays bounded"
            )
        if m < 2:
            return pd.DataFrame({"id1": [], "id2": [], "cosine": []})
        # Sort by id: pandas group row order is partition-dependent, and
        # the re-split below must be a pure function of the cell's CONTENT
        # (pinned by test_partition_invariance with a forcing cell_cap).
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        v = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(v, axis=1)
        norms[norms == 0.0] = 1.0  # zero vectors match nothing (cos 0)
        vn = v / norms[:, None]
        out_i, out_j, out_c = [], [], []
        # Worklist of index groups: leaves ≤ cell_cap go to the blocked
        # pairwise matmul; oversized groups re-split (module docstring).
        stack = [(np.arange(m, dtype=np.int64), 0)]
        while stack:
            idx, depth = stack.pop()
            mg = len(idx)
            if mg <= cell_cap or depth >= _MAX_SPLIT_DEPTH:
                _emit_block_pairs(ids[idx], vn[idx], threshold, out_i, out_j, out_c)
                continue
            # Target sub-cells of ~cap/2 so one split level usually lands
            # under cap even on skewed children.
            k = max(2, -(-2 * mg // cell_cap))
            labels = _split_assign(vn[idx], k)
            children = [idx[labels == c] for c in range(k)]
            largest = max(len(ch) for ch in children)
            if largest == mg:
                # No geometric progress: a near-identical clique (all
                # rows at one point). Its pair output is quadratic, so
                # the quadratic matmul is proportional to the answer.
                _emit_block_pairs(ids[idx], vn[idx], threshold, out_i, out_j, out_c)
                continue
            for ch in children:
                if len(ch) >= 2:
                    stack.append((ch, depth + 1))
        if not out_i:
            return pd.DataFrame({"id1": [], "id2": [], "cosine": []}).astype(
                {"id1": "int64", "id2": "int64", "cosine": "float64"}
            )
        return pd.DataFrame(
            {
                "id1": np.concatenate(out_i),
                "id2": np.concatenate(out_j),
                "cosine": np.concatenate(out_c),
            }
        )

    # NULL / wrong-length vectors get a NULL ivf_cluster from
    # ivf_assign_udf; without this filter they all land in ONE pandas
    # group whose ragged tolist() kills np.linalg.norm — the sibling
    # embedding operators degrade gracefully on the same inputs, and an
    # invalid vector can never be a semantic duplicate anyway.
    #
    # The per-cell exchange is the one corpus-volume shuffle here and it
    # carries FULL vectors (4·dim bytes/row), so it auto-sizes to the
    # input like every other corpus-volume exchange (spread.py; the
    # embedding_near_dup_pairs precedent, dedup.py): a session-default
    # partition count would build whole-corpus-fraction pandas groups in
    # memory at 10x+ the bench SF. Sized from ``df``'s file lineage —
    # when the caller hands in a checkpointed ``indexed``, df is still
    # the file-backed original; no-op at bench SFs.
    cells = _scaled_repartition(
        indexed.filter(F.col("ivf_cluster").isNotNull()),
        "ivf_cluster",
        source=df,
    )
    return cells.groupBy("ivf_cluster").applyInPandas(
        per_cluster, "id1 long, id2 long, cosine double"
    )


def semantic_dedup(df: DataFrame, pairs: DataFrame) -> DataFrame:
    """SemDeDup survivors: one representative (min ``vec_id``) per
    duplicate component of ``pairs``; rows in no duplicate pair survive
    untouched. Returns the input rows minus dropped duplicates.

    ``pairs`` is a :func:`semantic_dedup_pairs` result over the same df,
    so a caller that ALSO needs the pair set (audit, precision recheck)
    pays the per-cell pairwise pass once."""
    comp = connected_components(pairs)
    dropped = (
        comp.groupBy("component")
        .agg(F.min("id").alias("_keep"))
        .join(comp, "component")
        .filter(F.col("id") != F.col("_keep"))
        .select(F.col("id").alias("vec_id"))
    )
    return df.join(dropped, "vec_id", "left_anti")
