"""Sequence packing — fill fixed token-budget training sequences with
documents, minimizing padding. Exact bin packing is NP-hard and inherently
sequential; the scalable formulation packs *within partitions*:

1. shuffle docs into P partitions by content hash (stable),
2. inside each partition, first-fit-decreasing in pandas (Arrow-batched),
3. pack ids are (partition, local) pairs — globally unique, no coordination.

Packing quality is within a few percent of global first-fit for realistic
doc-length distributions, and the work is embarrassingly parallel — the
only cross-partition traffic is the initial hash shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .sampling import hash_bucket

_PACK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("pack_id", T.StringType()),
        T.StructField("pack_tokens", T.LongType()),
    ]
)


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign every ``doc_id`` to a pack such that each pack's
    ``n_tokens`` total is <= max_tokens (documents longer than the budget get a singleton
    pack). Returns (doc_id, n_tokens, pack_id, pack_tokens).

    Deterministic: partition assignment is a content hash of the id, and
    packing order inside a partition is sorted — same input, same packs,
    any cluster shape. The part hash is the engine-portable md5 bucket
    (sampling.hash_bucket), so a DuckDB oracle can replay the identical
    partitioning. Same trick as sampling.shuffle_hash's md5 permutation.
    """

    def pack_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        chunks = list(batches)  # empty partitions yield no batches at all
        if not chunks:
            return
        rows = pd.concat(chunks, ignore_index=True)
        if rows.empty:
            return
        # A Spark partition can hold several hash-parts (hash(part)%N
        # collisions); pack each part independently, in a TOTAL order
        # (n_tokens desc, doc_id) so results don't depend on Arrow batch
        # arrival order.
        for part, gr in rows.groupby("part", sort=True):
            gr = gr.sort_values(
                ["n_tokens", "doc_id"], ascending=[False, True], kind="stable"
            )
            bins: list[int] = []  # remaining capacity per bin
            assign: list[int] = []
            for n in gr["n_tokens"]:
                n = int(n)
                placed = None
                for i, cap in enumerate(bins):
                    if n <= cap:
                        placed = i
                        bins[i] = cap - n
                        break
                if placed is None:
                    bins.append(max(max_tokens - n, 0))
                    placed = len(bins) - 1
                assign.append(placed)
            gr = gr.assign(_bin=assign)
            totals = gr.groupby("_bin")["n_tokens"].transform("sum")
            yield pd.DataFrame(
                {
                    "doc_id": gr["doc_id"],
                    "n_tokens": gr["n_tokens"],
                    "pack_id": [f"p{int(part)}_{b}" for b in gr["_bin"]],
                    "pack_tokens": totals,
                }
            )

    # Fail fast on non-integral ids: _PACK_SCHEMA carries doc_id as long,
    # and a silent cast would either kill the job under ANSI mode (string
    # UUIDs) or null out every returned doc_id — an unmappable packing.
    id_kind = df.schema["doc_id"].dataType.typeName()
    if id_kind not in ("long", "integer", "short", "byte"):
        raise TypeError(
            "pack_sequences: doc_id must be an integral type "
            f"(got {id_kind}); map string ids to a surrogate long first "
            "(e.g. xxhash64) and join back after packing"
        )
    n_part = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    part = hash_bucket(F.col("doc_id").cast("string"), n_part)
    prepared = df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        part.alias("part"),
    ).repartition(n_part, "part")
    return prepared.mapInPandas(
        lambda it: pack_partition(it), schema=_PACK_SCHEMA
    )


def mix_corpus(df: DataFrame, weights: dict[str, float]) -> DataFrame:
    """Downsample ``source`` values to match target mixing *weights*
    (relative proportions). The largest feasible corpus honoring the
    weights is kept: the binding source keeps 100%, others are
    deterministically sampled down via a hash of ``text``. One tiny
    groupBy for counts + one filter pass.
    """
    counts = {
        r["source"]: r["n"]
        for r in df.groupBy("source").agg(F.count("*").alias("n")).collect()
        if r["source"] in weights
    }
    # Weighted sources absent from the corpus contribute nothing and are
    # skipped (honoring their weight literally would force an empty mix);
    # config/data drift therefore degrades the mix instead of crashing it.
    present = {s: w for s, w in weights.items() if s in counts and w > 0}
    if not present:
        return df.limit(0)
    # scale: the source with the smallest count/weight ratio binds
    scale = min(counts[s] / w for s, w in present.items())
    fractions = {
        s: min((present[s] * scale) / counts[s], 1.0) for s in present
    }
    buckets = 100000
    b = hash_bucket("text", buckets)
    cond = None
    for s, frac in fractions.items():
        p = (F.col("source") == s) & (b < round(frac * buckets))
        cond = p if cond is None else (cond | p)
    return df.filter(cond)
