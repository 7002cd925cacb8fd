"""Count-based bigram language-model quality scoring (CCNet-style).

The classic corpus-curation quality signal: train a small n-gram language
model on the corpus itself, score every document by its mean per-bigram
log-probability, and filter/bucket on the score (documents that the
corpus-level LM finds surprising are disproportionately boilerplate,
gibberish, or wrong-language).  This is the count-based, pure-Spark
analogue of CCNet's KenLM perplexity filter — no external model, no
Python in the row path.

Model definition (deterministic, oracle-replayable):

* Tokens: lowercased engine-wide whitespace tokenizer
  (``functions/text.py``); NULL text tokenizes to ``[]``.
* Vocabulary: the ``vocab_size`` most frequent tokens, ties broken by
  token ascending.  Out-of-vocabulary tokens collapse to a single UNK
  sentinel (``chr(1)``; a literal chr(1) token in the corpus would merge
  with UNK — documented, and harmless for a quality signal).
* Bigram probability, add-k smoothed::

      p(w2 | w1) = (c(w1, w2) + k) / (c(w1) + k * (V + 1))

  where ``c(w1)`` counts w1 as a bigram CONTEXT (all tokens but each
  document's last) and ``V`` is the realized vocabulary size (+1 for UNK).
* Document score: mean ln p over the document's bigrams, rounded to 4 dp
  (engine-wide float-parity convention).  Documents with < 2 tokens have
  no bigrams: ``lm_bigrams = 0``, ``lm_logprob = NULL``.
* ``max_fit_docs``: the model (vocabulary AND bigram counts) is fit on a
  bounded deterministic document sample — the ``max_fit_docs``
  smallest ids under the portable md5 permutation
  (``sampling.shuffle_hash``, so the DuckDB oracle replays the exact
  sample) — and the full corpus is scored against it. Bigrams/contexts
  the sample never saw score with count 0 under the same add-k smoothing
  (this is the standard CCNet shape: KenLM is fit on a Wikipedia-sized
  sample, never on the corpus being scored).

Scale shape:

* Corpus passes are TWO: the sample draw (per-partition top-k under the
  portable permutation — no full sort, no tokenize, ≤ max_fit_docs rows
  collected to the driver, the ivf_index fit-sizing contract) and the
  scoring pass — the corpus is tokenized exactly ONCE. The fit aggregations
  (unigrams, bigrams) run on the local sample-sized frame.
* The UNK collapse bounds the model: ≤ (V+1)^2 bigram rows and ≤ V+1
  context rows REGARDLESS of corpus size, so both scoring joins are
  broadcast — scoring adds no exchange beyond the per-document aggregate.
* The vocabulary itself is the only driver-side state: one bounded
  collect of ≤ ``vocab_size`` strings (same pattern as
  ``operators/packing.mix_corpus``'s per-source counts).
* Bigram extraction is row-local (zip of the token array with its own
  1-shifted slice — the ``word_shingles`` trick at k=2), no positional
  explode + window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import lower_tokens
from .sampling import shuffle_hash

#: OOV sentinel. chr(1) survives whitespace tokenization unchanged in both
#: engines (it is not whitespace), so Spark and the DuckDB oracle agree on
#: the (documented) collision with a literal chr(1) corpus token.
UNK = "\x01"

#: Add-k smoothing constant of the bigram probability.
ADD_K = 0.5


def bigram_lm_scores(
    docs: DataFrame, *, vocab_size: int = 64, max_fit_docs: int
) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus LM.

    ``max_fit_docs``: fit the model on that many deterministically-sampled
    documents (portable md5 draw, see module docstring) — one corpus-token
    pass instead of three.

    Returns one row per input document:
    ``(doc_id, lm_bigrams int, lm_logprob double | NULL)``.
    """
    if vocab_size < 1:
        raise ValueError("bigram_lm_scores: vocab_size must be >= 1")

    spark = docs.sparkSession
    t = lower_tokens()
    toks = docs.select(F.col("doc_id"), t.alias("_t"))

    # Two-phase draw, then the whole fit lineage (tokenize, unigrams,
    # bigrams) runs on a materialized sample-sized frame — without
    # this, every fit aggregation would re-scan the full corpus to
    # re-derive a 0.001% sample. Phase 1 takes the top-k over IDS
    # ONLY: the parquet scan prunes to the id column, each partition
    # emits at most max_fit_docs 8-byte ids, and the k-row merge runs
    # on an EXECUTOR (a top-k over (id, text) would merge that many
    # TEXT rows per partition — 100k partitions x 200 docs x 1 KB of
    # merge input at cluster scale). Phase 2 fetches the
    # <= max_fit_docs matching texts with a broadcast semi join. Both
    # phases pin via localCheckpoint: executor-resident, lineage
    # truncated, and — unlike the collect()+createDataFrame round
    # trip this replaced — no text row ever transits the driver.
    # Trade-off: localCheckpoint blocks are NOT replicated and the
    # truncated lineage cannot recompute them, so on a cluster with
    # preemption/dynamic allocation an executor loss mid-query fails
    # the job; deployments exposed to that should swap in reliable
    # checkpoint() (spark.sparkContext.setCheckpointDir) or a
    # replicated persist for these two sample-sized pins.
    proj = docs.select(F.col("doc_id"), F.col("text"))
    fit_ids = (
        docs.select(F.col("doc_id"))
        .orderBy(shuffle_hash(F.col("doc_id"), 0), F.col("doc_id"))
        .limit(max_fit_docs)
        # Lazy pins: both materialize inside the bounded vocab collect
        # below (their first action), not as standalone jobs.
        .localCheckpoint(eager=False)
    )
    fit_docs = proj.join(
        F.broadcast(fit_ids), "doc_id", "left_semi"
    ).localCheckpoint(eager=False)
    fit_toks = fit_docs.select(F.col("doc_id"), t.alias("_t"))

    # Vocabulary: top-V unigrams of the FIT set, (count desc, token asc).
    # The collect is bounded by vocab_size — the operator's only
    # driver-side state.
    uni = (
        fit_toks.select(F.explode("_t").alias("_w"))
        .groupBy("_w")
        .agg(F.count("*").alias("_c"))
    )
    vocab = [
        r["_w"]
        for r in uni.orderBy(F.col("_c").desc(), F.col("_w").asc())
        .limit(vocab_size)
        .collect()
    ]
    n_vocab = len(vocab)
    vdf = spark.createDataFrame([(w,) for w in vocab], "_v string")

    # Row-local bigram pairs: zip the token array with its 1-shifted self,
    # then UNK-collapse via two broadcast left joins against the tiny
    # vocab. Not materialized: the model side is sample-volume, so the
    # corpus lineage runs exactly once — the scoring pass, a streaming
    # whole-stage-codegen pass.
    def _mapped_pairs(tdf: DataFrame) -> DataFrame:
        n1 = F.greatest(F.size("_t") - 1, F.lit(0))
        pairs = tdf.select(
            F.col("doc_id"),
            F.explode(
                F.arrays_zip(
                    F.slice("_t", 1, n1).alias("w1"),
                    F.slice("_t", 2, n1).alias("w2"),
                )
            ).alias("_b"),
        ).select(
            "doc_id", F.col("_b.w1").alias("_w1"), F.col("_b.w2").alias("_w2")
        )
        return (
            pairs.join(F.broadcast(vdf.withColumnRenamed("_v", "_v1")),
                       F.col("_w1") == F.col("_v1"), "left")
            .join(F.broadcast(vdf.withColumnRenamed("_v", "_v2")),
                  F.col("_w2") == F.col("_v2"), "left")
            .select(
                "doc_id",
                F.coalesce("_v1", F.lit(UNK)).alias("_w1"),
                F.coalesce("_v2", F.lit(UNK)).alias("_w2"),
            )
        )

    mapped = _mapped_pairs(toks)
    fit_mapped = _mapped_pairs(fit_toks)

    # Model tables — UNK-bounded (≤ (V+1)^2 / ≤ V+1 rows), hence broadcast.
    # Context counts roll up from the bigram model (c1 = Σ_w2 c12), so the
    # fit-sized mapped table is aggregated exactly once.
    model = fit_mapped.groupBy("_w1", "_w2").agg(F.count("*").alias("_c12"))
    ctx = model.groupBy("_w1").agg(F.sum("_c12").alias("_c1"))

    # LEFT joins + coalesce(0): the corpus contains bigrams/contexts the
    # sample never saw — they score with count 0 under the same add-k
    # smoothing. When the sample covers the corpus every pair exists in
    # the model and the coalesce never fires (inner-identical).
    denom_k = ADD_K * (n_vocab + 1)
    scored = (
        mapped.join(F.broadcast(model), ["_w1", "_w2"], "left")
        .join(F.broadcast(ctx), ["_w1"], "left")
        .select(
            "doc_id",
            F.log(
                (F.coalesce("_c12", F.lit(0)) + ADD_K)
                / (F.coalesce("_c1", F.lit(0)) + denom_k)
            ).alias("_lp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("lm_bigrams"),
            F.round(F.sum("_lp") / F.count("*"), 4).alias("lm_logprob"),
        )
    )

    return (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("lm_bigrams", F.lit(0)).cast("int").alias("lm_bigrams"),
            "lm_logprob",
        )
    )
