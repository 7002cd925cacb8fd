"""Dedup-family wall-clock at a derived documents-only scale dir.

The scale decades (tools/make_sf1.py) exist to answer one question per
operator: does per-row cost hold as the corpus grows 10x? This harness
makes those sittings reproducible instead of ad-hoc: each op runs the
REGISTERED configuration (the same operator call + parameters the driver
checks at bench SFs), best-of-N with a noop write sink, on the DEFAULT
session config — no hand-set shuffle partitions; the spread.py
exchange-autosizing guard is itself part of what is being measured.

Heap note (round-9 finding): use a MODERATE heap — 16g clears 5 M
documents once the exchange guard sizes partitions to the data, while
64g is actively pathological on this container's kernel: GC over the
huge heap degrades into 90-99% system time and 3-30x wall-clock
swings (measured: the same 500 k c2 run is 11-15 s at 8g and an
erratic 120-412 s at 64g). Right-sized partitions, not a bigger heap,
are the scale knob — which is also the honest cluster story.

Usage: python tools/bench_scale.py <dir> [op ...] [--reps N]
       ops: c1 c2 c3 c4 c5 c8 c16 line span tfidf encode chain
            diversity ivf pq semdedup
            retention transition funnel tumbling session
       (default: c2 c16 span; c5 needs embeddings.parquet in the dir,
       the event ops need events.parquet, the rest need documents;
       the incremental-index probe decade has its own lifecycle-aware
       harness, tools/bench_incremental.py)
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

from aws_snowflake_kinesis_airflow_pipeline_spark.session import get_spark  # noqa: E402
from aws_snowflake_kinesis_airflow_pipeline_spark.operators import dedup  # noqa: E402


def _ops(spark, d):
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.linedup import (
        drop_duplicate_lines,
    )
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.spandup import (
        remove_duplicate_spans,
    )
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.spread import spread
    from aws_snowflake_kinesis_airflow_pipeline_spark.plans import llm_suite

    import functools

    def _evops():
        import types

        from aws_snowflake_kinesis_airflow_pipeline_spark.operators.event_funnel import (
            funnel_conversion,
        )
        from aws_snowflake_kinesis_airflow_pipeline_spark.operators.retention import (
            cohort_retention,
        )
        from aws_snowflake_kinesis_airflow_pipeline_spark.operators.transitions import (
            event_transitions,
        )
        from aws_snowflake_kinesis_airflow_pipeline_spark.streaming.windows import (
            batch_sessions_gaps_and_islands,
            tumbling_counts,
        )

        return types.SimpleNamespace(**locals())

    def _chain(spark, docs):
        """The full curation cascade of tests/test_curation_e2e.py —
        normalize → exact dedup → span dedup → near-dup dedup → quality
        gate → PII redaction → benchmark decontamination → leakage-safe
        split — end-to-end over the scale corpus. One deviation from the
        e2e fixture: the quality gate uses prefix-invariant signals
        (token_count, top_word_frac) because the replica derivation
        prefixes every token, which zeroes stopword_ratio for 99.9% of
        the corpus and would starve every stage after the gate."""
        from pyspark.sql import functions as F

        from aws_snowflake_kinesis_airflow_pipeline_spark.functions.normalize import (
            normalize_text,
        )
        from aws_snowflake_kinesis_airflow_pipeline_spark.functions.pii import (
            redact_pii,
        )
        from aws_snowflake_kinesis_airflow_pipeline_spark.functions.text import (
            token_count,
            top_word_frac,
        )
        from aws_snowflake_kinesis_airflow_pipeline_spark.operators.contamination import (
            decontaminate,
        )
        from aws_snowflake_kinesis_airflow_pipeline_spark.operators.leakage import (
            leakage_safe_split,
        )
        from aws_snowflake_kinesis_airflow_pipeline_spark.operators.spandup import (
            remove_duplicate_spans,
        )

        normed = docs.select("doc_id", normalize_text("text").alias("text"))
        exact = dedup.exact_dedup(
            normed, key_cols=["text"], id_col="doc_id", unique_ids=True
        )
        spanless = remove_duplicate_spans(exact, window=8, max_df=4).select(
            "doc_id", F.col("clean_text").alias("text")
        )
        neared = dedup.near_dup_dedup(spanless, threshold=0.8)
        gated = neared.filter(
            (token_count() >= 8) & (top_word_frac() <= 0.8)
        )
        redacted = gated.select("doc_id", redact_pii("text").alias("text"))
        bench_set = docs.limit(100).select("doc_id", "text")
        cleaned = decontaminate(redacted, bench_set, max_contamination=0.3)
        return leakage_safe_split(cleaned, val_fraction=0.1, threshold=0.8)

    def _searchops():
        import types

        from aws_snowflake_kinesis_airflow_pipeline_spark.operators.search import (
            tf_idf_vectors,
        )

        return types.SimpleNamespace(**locals())

    def _encops():
        import types

        from aws_snowflake_kinesis_airflow_pipeline_spark.operators.encoding import (
            build_vocab,
            encode_documents,
        )

        return types.SimpleNamespace(**locals())

    @functools.cache
    def docs():
        return spread(
            spark.read.parquet(f"{d}/documents.parquet").select("doc_id", "text"),
            "doc_id",
        )

    @functools.cache
    def ev():
        # Derived .scale events are rewritten by DuckDB as microsecond
        # TIMESTAMP, so a plain parquet read works (the driver's fixture
        # needs catalog.load_table for its TIMESTAMP(NANOS)).
        return spread(
            spark.read.parquet(f"{d}/events.parquet").select(
                "event_id", "ts", "user_id", "event_type"
            ),
            "user_id",
        )

    @functools.cache
    def emb():
        return spread(
            spark.read.parquet(f"{d}/embeddings.parquet").select(
                "vec_id", "embedding"
            ),
            "vec_id",
        )

    # ANN family (c15's registered shapes minus plants/needle/exact-scan
    # plumbing): 20k-row bounded fits, probe fraction 3/8. Granularity:
    # cells = max(16, sqrt(rows)) — NOT the fixture's rows/500 rule.
    # Assignment costs O(n·k·d) and the per-cell pair search O(n²·d/k);
    # the sum minimizes at k ≈ sqrt(n), which is also where the SemDeDup
    # paper's own choice sits (50k clusters for 5B points ≈ sqrt). The
    # fixture's /500 keeps cells ≥16 at driver SFs (2k-20k vectors) but
    # misextrapolates to 40k cells at 20M vectors, where the assignment
    # matmul alone is ~100 TFLOP — measured 90 min+ on 32 threads at the
    # round-11 20M sitting before this rule replaced it.
    def _ann_cells(e):
        return max(16, int(e.count() ** 0.5))

    def _ann_qvec(e):
        from pyspark.sql import functions as F

        return [
            float(x)
            for x in e.filter(F.col("vec_id") == 0).first()["embedding"]
        ]

    def _ann_ivf():
        from aws_snowflake_kinesis_airflow_pipeline_spark.operators import similarity

        e = emb()
        n_clusters = _ann_cells(e)
        model, indexed = similarity.ivf_index(
            e, n_clusters=n_clusters, max_fit_rows=20_000
        )
        return similarity.ivf_topk(
            model,
            indexed,
            _ann_qvec(e),
            k=10,
            n_probe=max(3, round(n_clusters * 3 / 8)),
        )

    def _ann_pq():
        from aws_snowflake_kinesis_airflow_pipeline_spark.operators import pq

        e = emb()
        model = pq.pq_fit(
            e, m=16, n_codes=16, dim=64, max_fit_rows=20_000
        )
        encoded = pq.pq_encode(e, model)
        return pq.pq_topk(model, encoded, _ann_qvec(e), k=10)

    def _ann_semdedup():
        from aws_snowflake_kinesis_airflow_pipeline_spark.operators.semdedup import (
            semantic_dedup_pairs,
        )

        e = emb()
        return semantic_dedup_pairs(
            e,
            n_clusters=_ann_cells(e),
            threshold=0.95,
            max_fit_rows=20_000,
        )

    # Registered configurations (plans/llm_suite.py), minus planted rows —
    # the decades measure corpus behavior, not fixture plumbing. Frames
    # load lazily so a documents-only or embeddings-only scale dir works.
    return {
        "c1": lambda: dedup.exact_dedup(
            docs(), ["text"], "doc_id", unique_ids=True
        ),
        "c2": lambda: dedup.minhash_lsh_pairs(docs()),
        "c3": lambda: dedup.ngram_jaccard_pairs(
            docs(), k=3, threshold=0.8, max_doc_freq=100
        ),
        "c4": lambda: dedup.simhash_near_dup_pairs(
            docs(), max_hamming=6, bits=128
        ),
        "c8": lambda: llm_suite.c8_text_features(spark, d),
        "c16": lambda: dedup.near_dup_dedup(docs(), threshold=0.8),
        "c5": lambda: dedup.embedding_near_dup_pairs(
            emb(), threshold=0.9
        ),
        "ivf": lambda: _ann_ivf(),
        "pq": lambda: _ann_pq(),
        "semdedup": lambda: _ann_semdedup(),
        "retention": lambda: _evops().cohort_retention(ev()),
        "transition": lambda: _evops().event_transitions(ev()),
        "funnel": lambda: _evops().funnel_conversion(
            ev(), ["view", "click", "purchase"]
        ),
        "tumbling": lambda: _evops().tumbling_counts(ev()),
        "session": lambda: _evops().batch_sessions_gaps_and_islands(ev()),
        "chain": lambda: _chain(spark, docs()),
        "tfidf": lambda: _searchops().tf_idf_vectors(docs(), vocab_size=1000),
        "encode": lambda: _encops().encode_documents(
            docs(), _encops().build_vocab(docs(), vocab_size=64)
        ),
        "diversity": lambda: __import__(
            "aws_snowflake_kinesis_airflow_pipeline_spark.operators.diversity",
            fromlist=["corpus_diversity"],
        ).corpus_diversity(
            spread(
                spark.read.parquet(f"{d}/documents.parquet").select(
                    "doc_id", "text", "source"
                ),
                "doc_id",
            ),
        ),
        "line": lambda: drop_duplicate_lines(docs()),
        "span": lambda: remove_duplicate_spans(
            docs(), window=8, max_df=4
        ),
    }


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    reps = 2
    for a in sys.argv[1:]:
        if a.startswith("--reps"):
            reps = int(a.split("=", 1)[1])
    d = args[0]
    names = args[1:] or ["c2", "c16", "span"]

    spark = get_spark(app_name="bench_scale")
    ops = _ops(spark, d)
    import os

    table = next(
        t
        for t in ("documents", "embeddings", "events")
        if os.path.exists(f"{d}/{t}.parquet")
    )
    n_docs = spark.read.parquet(f"{d}/{table}.parquet").count()  # warm too
    print(f"dir={d} docs={n_docs} reps={reps} "
          f"parts={spark.conf.get('spark.sql.shuffle.partitions')} "
          f"heap={spark.sparkContext.getConf().get('spark.driver.memory')}")
    for name in names:
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            # noop WRITE, not count(): count lets Catalyst prune every
            # expensive output column (the span/line branches' clean_text
            # rebuild collapses to a join-cardinality check); the noop
            # sink materializes the full result like a real consumer.
            ops[name]().write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
            # Per-rep line so a crashed later rep never loses the
            # completed ones (a 35-minute 50 M rep is not rerunnable on
            # a whim).
            print(f"\n{name:5s} rep {walls[-1]:8.1f} s", flush=True)
            # Drop the rep's localCheckpoint blocks before the next rep:
            # ContextCleaner frees them only after BOTH the Python and
            # JVM references die, and at the 50 M fixture the retained
            # blocks of a checkpoint-heavy op (near_dup_dedup holds
            # edges + per-round CC labels) OOM'd rep 2 at 32 g while
            # rep 1 ran clean. Measured fix, not hygiene.
            import gc

            gc.collect()
            spark.sparkContext._jvm.System.gc()
        best = min(walls)
        print(
            f"\n{name:5s} best {best:8.1f} s  "
            f"({', '.join(f'{w:.1f}' for w in walls)})"
            f"  docs/s={n_docs / best:,.0f}",
            flush=True,
        )


if __name__ == "__main__":
    main()
