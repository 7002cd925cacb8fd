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

#: BM25 term-frequency saturation and length-normalization constants.
K1 = 1.2
B = 0.75


def bm25_scores(docs: DataFrame, query_terms: list[str]) -> DataFrame:
    """Score every document containing ≥1 query term.

    Returns (doc_id, score double, n_terms int) — ``n_terms`` is how many
    distinct query terms the document matched (useful as a coverage
    filter).  Documents matching no term are absent (their score is 0).

    Tokenization is lowercased whitespace tokens (engine-wide tokenizer,
    ``functions/text.py``); query terms are lowercased and deduplicated so
    a repeated term cannot double-count.
    """
    if not query_terms:
        raise ValueError("bm25_scores: query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})

    toks = docs.select(F.col("doc_id"), lower_tokens().alias("_toks"))
    with_len = toks.select("doc_id", "_toks", F.size("_toks").alias("_dl"))

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
            "doc_id",
            "_dl",
            F.explode(
                F.filter("_toks", lambda t: F.array_contains(term_lit, t))
            ).alias("_term"),
        )
        .groupBy("doc_id", "_dl", "_term")
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
            * (F.col("_tf") * (K1 + 1.0))
            / (
                F.col("_tf")
                + K1 * (1.0 - B + B * F.col("_dl") / F.col("_avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.round(F.sum("_part"), 4).alias("score"),
            F.count("*").cast("int").alias("n_terms"),
        )
    )
    return scored


def bm25_topk(docs: DataFrame, query_terms: list[str], k: int) -> DataFrame:
    """Top-k documents by BM25 score for a bag-of-words query.

    Deterministic: ordered by (rounded score desc, id asc) so sub-4dp
    float drift between engines/runs cannot reorder the cut.  Executes as
    TakeOrderedAndProject — no global sort materializes.
    """
    from pyspark.sql import Window

    order = (F.col("score").desc(), F.col("doc_id").asc())
    # One global window over the .limit(k)'d rows (<= k); boundedness is
    # pinned by test_rank_window_input_is_pre_limited.
    return (
        bm25_scores(docs, query_terms)
        .orderBy(*order)
        .limit(k)
        .withColumn("rank", F.row_number().over(Window.orderBy(*order)))
    )


def tf_idf_vectors(docs: DataFrame, *, vocab_size: int = 1000) -> DataFrame:
    """Sparse TF-IDF document vectors as (id, term, weight) triples.

    The batch-indexing counterpart of :func:`bm25_scores`: weights every
    (doc, term) pair by tf * ln(N / df), restricted to the ``vocab_size``
    highest-df terms (the bounded vocabulary is what keeps the broadcast
    of the df table safe — at web scale the long tail of hapaxes dominates
    term count but carries no retrieval signal here).

    Two corpus passes (token stats, postings), one bounded broadcast, one
    (doc, term) shuffle — the standard inverted-index build shape.
    """
    toks = docs.select(F.col("doc_id"), lower_tokens().alias("_toks"))
    n_docs = toks.agg(F.count("*").alias("_n"))

    # Plain explode: empty docs contribute no postings by design
    # (explode_outer + isNotNull computed the same thing in two nodes).
    exploded = toks.select("doc_id", F.explode("_toks").alias("term"))
    # (doc, term) tf — one shuffle over corpus tokens with map-side combine.
    # tf feeds BOTH the vocabulary df aggregate and the weighting join, so
    # it is pinned. At scale the term-keyed exchange is the pin: it serves
    # both aggregations by the subset-key rule (equal (id, term) implies
    # equal term), while a corpus-sized (doc, term, tf) checkpoint was the
    # 32 GiB OOM at the 50 M-document decade (BASELINE.md round 10).
    agged = (
        _scaled_repartition(exploded, "term", source=docs)
        .groupBy("doc_id", "term")
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
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("_n") / F.col("df")), 4
            ).alias("weight"),
        )
    )
