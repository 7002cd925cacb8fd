"""Document chunking: split documents into overlapping token windows.

The standard pre-training transform between raw documents and sequence
packing: a long document becomes ``ceil((n - overlap) / stride)`` chunks of
at most ``chunk_tokens`` tokens, consecutive chunks sharing ``overlap``
tokens so no sentence is ever split without context. (The reference has no
chunking — it ships events whole; this is a north-star LLM-data operator,
SURVEY.md §2 B26.)

Scale shape: pure per-row array expressions (tokenize once, then
``transform`` over the start offsets and ``posexplode``) — no shuffle, no
Python, no UDF; output size is input token volume × (1 + overlap/stride),
and the explode streams through whole-stage codegen without materializing
a document's chunk list.

Chunk boundary contract (mirrored bit-for-bit by the DuckDB oracles):

- tokens = the engine-wide whitespace tokenizer (``functions.text.tokens``);
- starts = 0, stride, 2*stride, … while start < max(n_tokens - overlap, 1),
  so the final window is the only one shorter than ``chunk_tokens`` and a
  document shorter than one window yields exactly one chunk;
- empty documents (zero tokens) yield zero chunks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Explode each ``text`` into overlapping token-window chunks.

    Returns one row per chunk: ``(doc_id, chunk_idx, chunk_start,
    chunk_n_tokens, chunk_fp)`` where ``chunk_idx`` is the 0-based window
    number, ``chunk_start`` the 0-based token offset, and ``chunk_fp`` the
    md5 of the space-rejoined window — the engine-portable fingerprint
    downstream chunk-level dedup keys on.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap

    toks = tokens("text")
    n = F.size(toks)
    # sequence() is inclusive of the stop bound, so stop at limit-1 to get
    # starts strictly below max(n - overlap, 1) — matching DuckDB's
    # exclusive range(0, limit, stride) in the oracle.
    starts = F.sequence(
        F.lit(0), F.greatest(n - F.lit(overlap), F.lit(1)) - 1, F.lit(stride)
    )
    windows = F.transform(starts, lambda s: F.slice(toks, s + 1, chunk_tokens))
    return (
        df.filter(n > 0)
        .select("doc_id", F.posexplode(windows).alias("chunk_idx", "w"))
        .select(
            "doc_id",
            "chunk_idx",
            (F.col("chunk_idx") * stride).alias("chunk_start"),
            F.size("w").alias("chunk_n_tokens"),
            F.md5(F.array_join("w", " ")).alias("chunk_fp"),
        )
    )
