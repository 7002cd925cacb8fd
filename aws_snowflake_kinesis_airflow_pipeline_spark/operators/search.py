"""Lexical (BM25 / TF-IDF) corpus search — keyword retrieval over documents.

The lexical counterpart of the vector similarity operators
(``operators/similarity.py``): given a bag-of-words query, score every
document with BM25 and return the top-k. This is the standard first-stage
retriever for corpus curation (find near-matches of a prompt, audit what a
training corpus says about a topic) and the classic baseline next to
embedding ANN.

Scale shape (the whole point of the operator):

* The query-term set is BOUNDED AND TINY (a handful of terms).  The
  per-term postings are filtered to the query terms **before** the
  (doc, term) aggregation, so the only shuffle in the plan carries
  query-term postings — O(matching tokens), not O(corpus tokens).
* Corpus statistics (N, avgdl) reduce to ONE row; per-term document
  frequencies reduce to ≤|Q| rows.  Both join back via broadcast — no
  second large exchange.
* Scoring is pure JVM column arithmetic; top-k is an ``ORDER BY … LIMIT``
  that Spark executes as TakeOrderedAndProject (per-partition heaps, no
  global sort).

At 100 TB the doc-length/statistics pass and the postings pass both stream
the corpus once; everything else is broadcast-sized.  For a *repeated*
query workload you would persist the (doc, term, tf) postings table
bucketed by term (``DataFrameWriter.bucketBy``) and skip the scan — the
scoring math here is unchanged.

BM25 formulation (the Lucene one, always non-negative):

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    score(d, q) = sum_t idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl/avgdl))

Scores are rounded to 4 dp (engine-wide convention for cross-engine float
parity) and ties broken by doc id, so top-k is deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import lower_tokens
from .spread import pin
from .spread import scaled_repartition as _scaled_repartition


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every document containing ≥1 query term.

    Returns (id_col, score double, n_terms int) — ``n_terms`` is how many
    distinct query terms the document matched (useful as a coverage
    filter).  Documents matching no term are absent (their score is 0).

    Tokenization is lowercased whitespace tokens (engine-wide tokenizer,
    ``functions/text.py``); query terms are lowercased and deduplicated so
    a repeated term cannot double-count.
    """
    if not query_terms:
        raise ValueError("bm25_scores: query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})

    toks = docs.select(
        F.col(id_col), lower_tokens(text_col).alias("_toks")
    )
    with_len = toks.select(id_col, "_toks", F.size("_toks").alias("_dl"))

    # One row: corpus size + average doc length. NULL-text docs tokenize
    # to [] (size 0) and still count toward N/avgdl, matching the oracle.
    stats = with_len.agg(
        F.count("*").alias("_n_docs"), F.avg("_dl").alias("_avgdl")
    )

    # Postings, filtered to query terms BEFORE the aggregation: the
    # explode emits only matching tokens, so the (doc, term) shuffle is
    # bounded by query-term occurrences, not corpus tokens.
    term_lit = F.array(*[F.lit(t) for t in terms])
    postings = (
        with_len.select(
            id_col,
            "_dl",
            F.explode(
                F.filter("_toks", lambda t: F.array_contains(term_lit, t))
            ).alias("_term"),
        )
        .groupBy(id_col, "_dl", "_term")
        .agg(F.count("*").alias("_tf"))
        # Materialize: postings feed BOTH the df aggregate and the scoring
        # join; without this the corpus scan + explode runs twice (Catalyst
        # does not share the subtree). Postings are query-term-bounded —
        # tiny next to the corpus — so the checkpoint is cheap. Lazy: the
        # blocks build inside the df_by_term broadcast job of the query's
        # own action instead of a standalone build-time job.
        .localCheckpoint(eager=False)
    )

    # Per-term document frequency: ≤ |Q| rows; broadcast back.
    df_by_term = postings.groupBy("_term").agg(
        F.count("*").alias("_df")
    )

    scored = (
        postings.join(F.broadcast(df_by_term), "_term")
        .join(F.broadcast(stats))
        .withColumn(
            "_idf",
            F.log(
                F.lit(1.0)
                + (F.col("_n_docs") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
            ),
        )
        .withColumn(
            "_part",
            F.col("_idf")
            * (F.col("_tf") * (k1 + 1.0))
            / (
                F.col("_tf")
                + k1 * (1.0 - b + b * F.col("_dl") / F.col("_avgdl"))
            ),
        )
        .groupBy(id_col)
        .agg(
            F.round(F.sum("_part"), 4).alias("score"),
            F.count("*").cast("int").alias("n_terms"),
        )
    )
    return scored


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents by BM25 score for a bag-of-words query.

    Deterministic: ordered by (rounded score desc, id asc) so sub-4dp
    float drift between engines/runs cannot reorder the cut.  Executes as
    TakeOrderedAndProject — no global sort materializes.
    """
    scored = bm25_scores(
        docs, query_terms, id_col=id_col, text_col=text_col, k1=k1, b=b
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
        .withColumn("rank", F.row_number().over(_rank_window(id_col)))
    )


def _rank_window(id_col: str):
    from pyspark.sql import Window

    # The window input is already .limit(k)'d (<= k rows), so a global
    # window is safe — but an UNPARTITIONED one logs WindowExec's
    # move-everything warning, which would mask a real unbounded global
    # window introduced elsewhere. Partition by a fold-proof, TYPE-SAFE
    # constant: length(cast(id as string)) * 0 wrapped in coalesce — a
    # bare lit(0) is stripped by EliminateWindowPartitions, an arithmetic
    # id*0 crashes under ANSI for string ids and NULL ids would split into
    # a second partition; cast-to-string is valid for every type and the
    # coalesce pins NULLs to the same single partition. Identical
    # single-partition execution, partition declared, warning silent.
    # Boundedness is pinned by test_rank_window_input_is_pre_limited.
    const = F.coalesce(
        F.length(F.col(id_col).cast("string")), F.lit(0)
    ) * F.lit(0)
    return Window.partitionBy(const).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )


def tf_idf_vectors(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 1000,
) -> DataFrame:
    """Sparse TF-IDF document vectors as (id, term, weight) triples.

    The batch-indexing counterpart of :func:`bm25_scores`: weights every
    (doc, term) pair by tf * ln(N / df), restricted to the ``vocab_size``
    highest-df terms (the bounded vocabulary is what keeps the broadcast
    of the df table safe — at web scale the long tail of hapaxes dominates
    term count but carries no retrieval signal here).

    Two corpus passes (token stats, postings), one bounded broadcast, one
    (doc, term) shuffle — the standard inverted-index build shape.
    """
    toks = docs.select(F.col(id_col), lower_tokens(text_col).alias("_toks"))
    n_docs = toks.agg(F.count("*").alias("_n"))

    # Plain explode: empty docs contribute no postings by design
    # (explode_outer + isNotNull computed the same thing in two nodes).
    exploded = toks.select(id_col, F.explode("_toks").alias("term"))
    # (doc, term) tf — one shuffle over corpus tokens with map-side combine.
    # tf feeds BOTH the vocabulary df aggregate and the weighting join, so
    # it is pinned. At scale the term-keyed exchange is the pin: it serves
    # both aggregations by the subset-key rule (equal (id, term) implies
    # equal term), while a corpus-sized (doc, term, tf) checkpoint was the
    # 32 GiB OOM at the 50 M-document decade (BASELINE.md round 10).
    agged = (
        _scaled_repartition(exploded, "term", source=docs)
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    tf = pin(agged, source=docs)
    # df per term, capped to the top-vocab_size by df (ties by term asc).
    df_tab = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(vocab_size)
    )
    return (
        tf.join(F.broadcast(df_tab), "term")
        .join(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            F.round(
                F.col("tf") * F.log(F.col("_n") / F.col("df")), 4
            ).alias("weight"),
        )
    )
