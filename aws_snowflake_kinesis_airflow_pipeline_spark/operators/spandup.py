"""Exact duplicate-SPAN dedup: remove repeated >= ``window``-token runs
across documents, keeping one canonical occurrence corpus-wide.

The famous training-data stage document-level dedup cannot do (Lee et al.,
"Deduplicating Training Data Makes Language Models Better", ACL 2022):
boilerplate paragraphs, license headers and quoted chunks repeat across
otherwise-distinct documents, and a document-level Jaccard never fires on
them. Span dedup fingerprints every ``window``-token run, finds runs that
occur more than once in the corpus, and removes every occurrence except
the canonical first (min (doc_id, position)). The guarantee is per-RUN,
not per-passage: the canonical occurrence's own window is never in the
removal set, but overlapping removals from OTHER duplicated runs (or a
self-overlapping periodic repeat of the same run) may still truncate it —
the same property as the Lee et al. reference implementation, and exactly
what the pure-Python replay in tests/test_spandup.py pins.

Contract (deterministic, replayed in pure Python by tests/test_spandup.py):

* Tokens: the engine-wide whitespace tokenizer (``functions/text.py``),
  case-sensitive (span identity is exact text, unlike the lossy
  fingerprint normalization).
* A document position ``p`` is *duplicated* when the corpus contains the
  identical ``window``-token run at some other (doc, pos) — equality by
  64-bit rolling hash of the per-token xxhash64 sequence, passed through
  a SplitMix64 finalizer (the raw rolling hash is linear in the per-token
  hashes, so token sequences whose hash differences cancel collide
  deterministically; the finalizer destroys that structure, and the sf10
  A/B measured it at <= 0% cost; a collision removes a non-duplicated
  span, never corrupts surviving text).
* The canonical occurrence of each distinct run — min (doc_id, pos) — is
  NOT removed. All other occurrences' windows are removed: per document,
  overlapping removed windows ``[p, p+window)`` merge into maximal spans,
  and the kept tokens are re-joined with single spaces.
* Documents shorter than ``window`` tokens pass through untouched
  (their ``clean_text`` is the single-space re-join of their tokens —
  the same lossy whitespace the removal path implies; byte-exact
  whitespace preservation would need span character offsets, out of
  scope for a token-level stage).

Scale shape (the 100 TB accounting):

* Fingerprints are O(tokens) compute and O(tokens) rows: per-token
  xxhash64 is a JVM projection, and the window hash is an O(n) ROLLING
  polynomial hash in a mapInArrow kernel (the minhash_signatures
  pattern: list buffers in, list buffers out, zero per-row Python) —
  not an O(n * window) slice-and-rehash.
* One corpus-volume exchange: groupBy(whash) with map-side partial
  aggregation, emitting (whash, n, canonical) only for df >= 2 — the
  duplicated-run table, which is boilerplate-volume, not corpus-volume.
* Removal joins back on whash (ShuffledHashJoin hint — the duplicated
  table's stats would bait a broadcast of something unbounded), then one
  per-doc regroup of removed positions; span merging and text
  reconstruction are row-local array expressions.
* ``max_df`` caps pathological runs: a window repeated in millions of
  documents would generate that many join rows, so runs with df >
  ``max_df`` are EXCLUDED (not removed) — the deliberate trade
  line-level dedup also makes with its hot-line ceiling. Ultra-hot runs
  come from mass exact duplication; run ``exact_dedup`` first (as
  ``near_dup_dedup``'s docs already prescribe) and they cannot exist.
  Pinned by test_max_df_caps_join_but_still_removes.

Rolling hash: with per-token hashes t[i] (uint64) and odd base B,
``W[p] = sum_{j<window} t[p+j] * B^j  (mod 2^64)``.
Computed in O(n) from the prefix sums ``P[i] = sum_{k<=i} t[k] * B^k``:
``W[p] = (P[p+w-1] - P[p-1]) * Binv^p`` where ``Binv`` is the modular
inverse of B mod 2^64 (exists because B is odd) — all plain uint64
wraparound arithmetic, fully vectorized, and equal windows hash equal
by construction.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from .dedup import _splitmix64
from .spread import scaled_repartition as _scaled_repartition

#: Rolling-hash base: odd (invertible mod 2^64), large, fixed — part of
#: the fingerprint definition, shared by the Python replay in tests.
_BASE = np.uint64(0x9E3779B97F4A7C15)


def _inv_u64() -> np.uint64:
    """Modular inverse of the odd ``_BASE`` mod 2^64 (Newton iteration:
    x *= 2 - b*x doubles correct bits each round; 6 rounds from the 3-bit
    seed)."""
    x = _BASE  # odd b: b*b ≡ 1 mod 8, so x=b is correct to 3 bits
    with np.errstate(over="ignore"):  # wraparound IS the modulus
        for _ in range(6):
            x = x * (np.uint64(2) - _BASE * x)
    return x


def window_fingerprints(
    docs: DataFrame,
    window: int = 50,
) -> DataFrame:
    """(doc_id, pos, whash): the 64-bit rolling hash of each
    ``window``-token run of ``text``. Documents with fewer than ``window`` tokens emit no rows.

    Each window hash passes through a SplitMix64 finalizer before it
    leaves the kernel: the rolling hash is LINEAR in the per-token hashes
    (see the module collision caveat), so an adversary who controls the
    text can craft distinct runs whose hashes cancel to equality; the
    finalizer is a bijection (identical runs still collide) but destroys
    the linear structure an attack needs. The A/B at sf10 (500k docs, 4
    interleaved runs) measured it at <= 0% cost (14.2-15.1 s vs
    17.8-22.4 s; the extra mix is free inside the memory-bound kernel)."""
    if window < 2:
        raise ValueError("window_fingerprints: window must be >= 2")
    toks = tokens(F.coalesce(F.col("text"), F.lit("")))
    src = docs.select(
        F.col("doc_id"),
        F.transform(toks, lambda t: F.xxhash64(t)).alias("th"),
    )
    id_type = src.schema["doc_id"].dataType.simpleString()
    w = window
    binv = _inv_u64()

    def _map(batches):
        old = np.seterr(over="ignore")  # uint64 wraparound IS the modulus
        try:
            for b in batches:
                ids, la = b.column(0), b.column(1)
                n = len(la)
                if n == 0:
                    continue
                off = la.offsets.to_numpy(zero_copy_only=False).astype(
                    np.int64
                )
                vals = (
                    la.values.to_numpy(zero_copy_only=False)
                    .astype(np.int64, copy=False)
                    .view(np.uint64)
                )
                valid = (
                    ~np.asarray(la.is_null())
                    if la.null_count
                    else np.ones(n, dtype=bool)
                )
                lens = off[1:] - off[:-1]
                n_win = np.where(valid, np.maximum(lens - w + 1, 0), 0)
                out_off = np.zeros(n + 1, dtype=np.int64)
                np.cumsum(n_win, out=out_off[1:])
                total = int(out_off[-1])
                flat = np.empty(total, dtype=np.uint64)
                for i in np.flatnonzero(n_win > 0):
                    t = vals[off[i] : off[i + 1]]
                    m = len(t)
                    # P[k] = sum_{j<=k} t[j] * B^j  (uint64 wrap)
                    powers = np.empty(m, dtype=np.uint64)
                    powers[0] = np.uint64(1)
                    if m > 1:
                        np.multiply.accumulate(
                            np.full(m - 1, _BASE, dtype=np.uint64),
                            out=powers[1:],
                        )
                    P = np.cumsum(t * powers, dtype=np.uint64)
                    k = m - w + 1
                    diff = P[w - 1 :].copy()
                    diff[1:] -= P[: k - 1]
                    # W[p] = diff[p] * Binv^p
                    inv_pows = np.empty(k, dtype=np.uint64)
                    inv_pows[0] = np.uint64(1)
                    if k > 1:
                        np.multiply.accumulate(
                            np.full(k - 1, binv, dtype=np.uint64),
                            out=inv_pows[1:],
                        )
                    flat[out_off[i] : out_off[i + 1]] = diff * inv_pows
                flat = _splitmix64(flat)
                pos_flat = np.concatenate(
                    [np.arange(c, dtype=np.int32) for c in n_win if c > 0]
                ) if total else np.empty(0, dtype=np.int32)
                id_rep = ids.take(
                    pa.array(np.repeat(np.arange(n), n_win), type=pa.int64())
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        id_rep,
                        pa.array(pos_flat, type=pa.int32()),
                        pa.array(flat.view(np.int64), type=pa.int64()),
                    ],
                    ["doc_id", "pos", "whash"],
                )
        finally:
            np.seterr(**old)

    return src.mapInArrow(
        _map, f"doc_id {id_type}, pos int, whash bigint"
    )


def duplicate_spans(
    docs: DataFrame,
    window: int = 50,
    max_df: int = 1000,
) -> DataFrame:
    """(doc_id, spans array<struct<start int, end int>>): per document, the
    merged maximal token spans covered by duplicated windows, excluding
    each distinct run's canonical (min (doc_id, pos)) occurrence. Only
    documents with at least one removed span appear."""
    fp = window_fingerprints(docs, window)
    # ONE corpus-volume exchange: df count + canonical arg-min in the same
    # grouped pass; only duplicated runs (boilerplate-volume) survive.
    # Auto-size the whash exchange to the corpus (spread.py): its final-
    # aggregation hash map holds one (count, arg-min) entry per DISTINCT
    # window in the corpus — ~tokens-per-doc x docs entries — and the
    # session-default partition count is a fixed 32 on the local box.
    # The lost map-side combine only reduced duplicated runs, the
    # minority by definition.
    dup = (
        _scaled_repartition(fp, "whash", source=docs)
        .groupBy("whash")
        .agg(
            F.count("*").alias("_df"),
            F.min(F.struct(F.col("doc_id"), F.col("pos"))).alias("_canon"),
        )
        .filter((F.col("_df") >= 2) & (F.col("_df") <= max_df))
    )
    removed = (
        fp.join(dup.hint("shuffle_hash"), "whash")
        .filter(
            ~(
                (F.col("doc_id") == F.col("_canon.doc_id"))
                & (F.col("pos") == F.col("_canon.pos"))
            )
        )
        .select("doc_id", "pos")
    )
    w = window
    merged = (
        _scaled_repartition(removed, "doc_id", source=docs)
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("pos")).alias("_ps"))
        .select(
            F.col("doc_id"),
            # Row-local span merge: fold sorted window starts into maximal
            # [start, end) spans ([p, p+w) overlapping or touching merge).
            F.aggregate(
                "_ps",
                F.array().cast("array<struct<start:int,end:int>>"),
                lambda acc, p: F.when(
                    (F.size(acc) > 0)
                    & (p <= F.element_at(acc, -1)["end"]),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(
                            F.struct(
                                F.element_at(acc, -1)["start"].alias(
                                    "start"
                                ),
                                F.greatest(
                                    F.element_at(acc, -1)["end"],
                                    (p + w).cast("int"),
                                ).alias("end"),
                            )
                        ),
                    ),
                ).otherwise(
                    F.concat(
                        acc,
                        F.array(
                            F.struct(
                                p.cast("int").alias("start"),
                                (p + w).cast("int").alias("end"),
                            )
                        ),
                    )
                ),
            ).alias("spans"),
        )
    )
    return merged


def remove_duplicate_spans(
    docs: DataFrame,
    window: int = 50,
    max_df: int = 1000,
) -> DataFrame:
    """One row per input document: (doc_id, clean_text, n_tokens,
    n_removed_tokens, n_spans) with every non-canonical duplicated run
    removed and the kept tokens re-joined with single spaces."""
    spans = duplicate_spans(docs, window, max_df)
    toks = tokens(F.coalesce(F.col("text"), F.lit("")))
    base = docs.select(F.col("doc_id"), toks.alias("_t"))
    joined = base.join(spans, "doc_id", "left")
    covered = lambda i: F.exists(  # noqa: E731
        F.col("spans"), lambda s: (s["start"] <= i) & (i < s["end"])
    )
    kept = F.when(
        F.col("spans").isNull(), F.col("_t")
    ).otherwise(
        F.filter(F.col("_t"), lambda t, i: ~covered(i))
    )
    return joined.select(
        F.col("doc_id"),
        F.array_join(kept, " ").alias("clean_text"),
        F.size("_t").alias("n_tokens"),
        (F.size("_t") - F.size(kept)).alias("n_removed_tokens"),
        F.coalesce(F.size("spans"), F.lit(0)).alias("n_spans"),
    )
