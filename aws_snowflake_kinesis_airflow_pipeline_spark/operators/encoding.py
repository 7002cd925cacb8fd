"""Token-ID encoding — vocabulary induction + document→int-sequence.

The step between corpus curation and the trainer: induce a bounded
vocabulary from corpus frequencies, then rewrite every document as an
``array<int>`` of token ids (OOV → id 0). Downstream, sequences feed
``operators/chunking`` (windows) and ``operators/packing`` (FFD packing) —
this module closes that loop for word-level tokenization (a trained BPE
would slot in at the same seam).

Scale shape — deliberately ALL JVM, no Python in the row path:

* Vocabulary: one unigram aggregation (single exchange, map-side combine),
  ids assigned by (count desc, token asc) — deterministic, and id order ==
  frequency rank, so ``token_id < K`` IS a top-K-vocab filter.
* Encoding: positional explode → broadcast vocab join (the vocab is
  bounded by construction) → per-document reassembly via
  ``array_sort(collect_list(struct(pos, id)))``. One exchange carrying
  (doc, pos, int) triples — the same budget as any corpus tokenize pass,
  with whole-stage codegen end to end. A dict-lookup pandas_udf does the
  same work at Python speed; measured slower and kept out.
* Empty/NULL documents restore via a left join as empty sequences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import lower_tokens
from .spread import scaled_repartition as _scaled_repartition

#: Reserved id for out-of-vocabulary tokens. Real tokens start at 1.
UNK_ID = 0


def build_vocab(docs: DataFrame, vocab_size: int = 4096) -> DataFrame:
    """(token, token_id, count): the ``vocab_size`` most frequent tokens of
    ``text`` (ties by token asc), ids 1..V in frequency-rank order. Lowercased
    engine-wide tokenizer (``functions/text.py``)."""
    if vocab_size < 1:
        raise ValueError("build_vocab: vocab_size must be >= 1")
    counts = (
        docs.select(F.explode(lower_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("count"))
        .orderBy(F.col("count").desc(), F.col("token").asc())
        .limit(vocab_size)
    )
    from pyspark.sql import Window

    # One global window, bounded by the .limit(vocab_size) above.
    w = Window.orderBy(F.col("count").desc(), F.col("token").asc())
    return counts.select(
        "token",
        F.row_number().over(w).cast("int").alias("token_id"),
        "count",
    )


def encode_documents(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """(doc_id, token_ids array<int>, n_tokens int, n_oov int) — every
    input document exactly once; empty/NULL text → empty sequence."""
    exploded = docs.select(
        F.col("doc_id"), F.posexplode(lower_tokens()).alias("_pos", "token")
    )
    # The reassembly exchange (corpus-token-volume rows collected into
    # per-doc id arrays) auto-sizes to the input (spread.py) — the same
    # final-aggregation OOM shape as the dedup family's collect_list
    # exchanges at 1000x the bench SF. No-op at bench SFs.
    enc = (
        _scaled_repartition(
            exploded.join(
                F.broadcast(vocab.select("token", "token_id")), "token", "left"
            ).select(
                "doc_id",
                "_pos",
                F.coalesce("token_id", F.lit(UNK_ID)).cast("int").alias("_tid"),
            ),
            "doc_id",
            source=docs,
        )
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_tid"))),
                lambda s: s["_tid"],
            ).alias("token_ids"),
            F.count("*").cast("int").alias("n_tokens"),
            F.sum((F.col("_tid") == UNK_ID).cast("int"))
            .cast("int")
            .alias("n_oov"),
        )
    )
    empty = F.array().cast("array<int>")
    return (
        docs.select("doc_id")
        .join(enc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("token_ids", empty).alias("token_ids"),
            F.coalesce("n_tokens", F.lit(0)).cast("int").alias("n_tokens"),
            F.coalesce("n_oov", F.lit(0)).cast("int").alias("n_oov"),
        )
    )


def decode_ids(encoded: DataFrame, vocab: DataFrame) -> DataFrame:
    """(doc_id, text): inverse of :func:`encode_documents` up to OOV loss
    and whitespace normalization — the audit path (spot-check that what
    the trainer sees detokenizes to the curated text)."""
    exploded = encoded.select(
        F.col("doc_id"), F.posexplode("token_ids").alias("_pos", "token_id")
    )
    # Same reassembly-exchange auto-sizing as encode_documents (no-op for
    # the registered audit path, which decodes a bounded in-memory sample).
    dec = (
        _scaled_repartition(
            exploded.join(
                F.broadcast(vocab.select("token", "token_id")), "token_id", "left"
            ).select(
                "doc_id",
                "_pos",
                F.coalesce("token", F.lit("<unk>")).alias("_tok"),
            ),
            "doc_id",
            source=encoded,
        )
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_tok"))),
                    lambda s: s["_tok"],
                ),
            ).alias("text")
        )
    )
    return (
        encoded.select("doc_id")
        .join(dec, "doc_id", "left")
        .select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    )
