"""Cross-engine parity fuzz: the text-feature expressions must agree with
their DuckDB oracle formulation on RANDOM hostile strings, not just the
fixture corpus — whitespace runs, \\x0B (whitespace to Java, not to RE2),
padding, empty/whitespace-only docs, CJK, accented latin, punctuation
soup. This is the test class that catches tokenizer-contract drift (a
space-only trim and a Java-\\s split both passed the fixtures for two
rounds before diverging on padded text)."""

from __future__ import annotations

import random
import string

import duckdb
import pandas as pd
from pyspark.sql import functions as F

from aws_snowflake_kinesis_airflow_pipeline_spark.functions import text as TX

# No exotic case-folding chars (ß, İ): lower() on those differs across
# engines and the engine contract doesn't depend on them.
POOL = (
    string.ascii_letters + string.digits + ".,;:!?'\"()-$%&"
    + " \t\n\f\r\x0b"  # \x0b deliberately included: a token char, not WS
    + "éüñàç"
    + "中文字符日本語한국"
)
STOPWORDS_SQL = (
    "['the','and','of','to','is','in','that','it','for','with',"
    "'a','an','on','at','by','as']"
)


def _random_docs(n: int, seed: int = 7) -> list[str]:
    rng = random.Random(seed)
    docs = []
    for i in range(n):
        ln = rng.choice([0, 1, 2, 5, 30, 120, 400])
        body = "".join(rng.choice(POOL) for _ in range(ln))
        # half the docs get word structure so token stats are non-trivial
        if i % 2 == 0:
            words = [
                rng.choice(["the", "cat", "sat", "on", "mat", "cat", "dog"])
                for _ in range(rng.randint(0, 20))
            ]
            body = " ".join(words) + rng.choice(["", " ", "\t", "\n"]) + body
        docs.append(rng.choice(["", " ", "\t\t", "\n"]) + body)
    return docs


def test_text_feature_pack_matches_duckdb_on_random_strings(spark):
    docs = _random_docs(300)
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
    sdf = spark.createDataFrame(pdf)
    got = (
        sdf.select(
            "doc_id",
            F.length("text").alias("n_chars"),
            TX.token_count().alias("ws_tokens"),
            TX.bpe_token_count().cast("int").alias("bpe_tokens"),
            TX.doc_fingerprint("text").alias("fingerprint"),
            F.round(TX.dup_word_frac(), 4).alias("dup_word_frac"),
            F.round(TX.top_word_frac(), 4).alias("top_word_frac"),
            F.round(TX.punct_ratio("text"), 4).alias("punct_ratio"),
            F.round(TX.stopword_ratio(), 4).alias("stopword_ratio"),
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )

    con = duckdb.connect()
    con.register("docs", pdf)
    want = con.execute(
        f"""
        WITH toks AS (
          SELECT doc_id, text,
                 LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'), x -> x <> '') AS t
          FROM docs
        )
        SELECT doc_id,
               LENGTH(text) AS n_chars,
               LEN(t) AS ws_tokens,
               CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]'))
                 AS INT) AS bpe_tokens,
               md5(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g'))) AS fingerprint,
               ROUND((LEN(t) - LEN(LIST_DISTINCT(t))) * 1.0 / GREATEST(LEN(t), 1), 4)
                 AS dup_word_frac,
               ROUND(COALESCE(LIST_MAX(LIST_TRANSFORM(LIST_DISTINCT(t),
                         w -> LEN(LIST_FILTER(t, x -> x = w)))), 0)
                     * 1.0 / GREATEST(LEN(t), 1), 4) AS top_word_frac,
               ROUND((LENGTH(text) - LENGTH(REGEXP_REPLACE(text,
                         '[^\\p{{L}}\\p{{N}}\\s]', '', 'g')))
                     * 1.0 / GREATEST(LENGTH(text), 1), 4) AS punct_ratio,
               ROUND(LEN(LIST_FILTER(t, x -> LIST_CONTAINS({STOPWORDS_SQL}, x)))
                     * 1.0 / GREATEST(LEN(t), 1), 4) AS stopword_ratio
        FROM toks ORDER BY doc_id
        """
    ).df().set_index("doc_id").sort_index()

    assert (got["n_chars"] == want["n_chars"]).all()
    assert (got["ws_tokens"] == want["ws_tokens"]).all(), (
        got["ws_tokens"].compare(want["ws_tokens"]).head()
    )
    assert (got["bpe_tokens"] == want["bpe_tokens"]).all(), (
        got["bpe_tokens"].compare(want["bpe_tokens"]).head()
    )
    assert (got["fingerprint"] == want["fingerprint"]).all()
    for col in ("dup_word_frac", "top_word_frac", "punct_ratio", "stopword_ratio"):
        diff = (got[col] - want[col]).abs()
        assert diff.max() <= 2e-4, (col, diff.idxmax(), docs[diff.idxmax()])


def test_simhash_signatures_match_duckdb_on_random_strings(spark):
    """The md5-derived SimHash signature (hi/lo word convention in
    dedup.simhash_signatures) must be bit-identical in DuckDB on hostile
    random text — this is the contract the c4 oracle stands on."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators import dedup
    from aws_snowflake_kinesis_airflow_pipeline_spark.plans.llm_suite import (
        _SIMHASH_SIG,
        _SIMHASH_SUMS,
    )

    docs = _random_docs(200, seed=11)
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
    got = (
        dedup.simhash_signatures(
            spark.createDataFrame(pdf)
        )
        .toPandas()
        .set_index("doc_id")["simhash"]
        .sort_index()
    )

    con = duckdb.connect()
    con.register("docs", pdf)
    want = con.execute(
        f"""
        WITH toks AS (
          SELECT doc_id,
                 UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'),
                                    x -> x <> '')) AS token
          FROM docs
        ),
        words AS (
          SELECT doc_id,
                 CAST(CONCAT('0x', SUBSTR(md5(token), 1, 8)) AS BIGINT) AS hi,
                 CAST(CONCAT('0x', SUBSTR(md5(token), 9, 8)) AS BIGINT) AS lo
          FROM toks
        ),
        sums AS (SELECT doc_id, {_SIMHASH_SUMS} FROM words GROUP BY doc_id)
        SELECT doc_id, CAST({_SIMHASH_SIG} AS BIGINT) AS simhash FROM sums
        ORDER BY doc_id
        """
    ).df().set_index("doc_id")["simhash"].sort_index()

    # docs with zero tokens produce no signature row in either engine
    assert set(got.index) == set(want.index)
    mism = got[got != want]
    assert mism.empty, f"signature drift on doc_ids {list(mism.index)[:5]}"


def test_simhash_128_signatures_match_duckdb_on_random_strings(spark):
    """Both words of the 128-bit signature (the c4 scale configuration)
    must be bit-identical in DuckDB on hostile random text — the widened
    oracle stands on all four md5 hash words, not just the first two."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators import dedup
    from aws_snowflake_kinesis_airflow_pipeline_spark.plans.llm_suite import (
        _SIMHASH_SUMS128,
        _SIMHASH_WORDS128,
        _simhash_sig_sql,
    )

    docs = _random_docs(200, seed=13)
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
    got = (
        dedup.simhash_signatures(
            spark.createDataFrame(pdf), bits=128
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )

    con = duckdb.connect()
    con.register("docs", pdf)
    want = con.execute(
        f"""
        WITH toks AS (
          SELECT doc_id,
                 UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'),
                                    x -> x <> '')) AS token
          FROM docs
        ),
        words AS (SELECT doc_id, {_SIMHASH_WORDS128} FROM toks),
        sums AS (SELECT doc_id, {_SIMHASH_SUMS128} FROM words
                 GROUP BY doc_id)
        SELECT doc_id,
               CAST({_simhash_sig_sql(0)} AS BIGINT) AS simhash,
               CAST({_simhash_sig_sql(64)} AS BIGINT) AS simhash_hi
        FROM sums ORDER BY doc_id
        """
    ).df().set_index("doc_id").sort_index()

    assert set(got.index) == set(want.index)
    for col in ("simhash", "simhash_hi"):
        mism = got[col][got[col] != want[col]]
        assert mism.empty, f"{col} drift on doc_ids {list(mism.index)[:5]}"


def test_lsh_pairs_match_exact_jaccard_on_random_corpus(spark):
    """MinHash-LSH pair set == brute-force exact-Jaccard pair set on a
    random corpus with planted near-duplicates (one word mutated in a
    40-60 word doc -> true jaccard ~0.85-0.95; banded miss probability
    <= ~4e-7 per pair, deterministic under the seeded hashing). Fuzzes
    the full shingle->signature->band->verify path off-fixture."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators import dedup

    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(300)]
    base = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(40, 60)))
        for _ in range(60)
    ]
    docs = list(base)
    for i in range(0, 60, 3):  # plant a near-dup of every third doc
        words = base[i].split()
        words[rng.randrange(len(words))] = rng.choice(vocab)
        docs.append(" ".join(words))
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": docs})

    got = {
        (r["id1"], r["id2"])
        for r in dedup.minhash_lsh_pairs(
            spark.createDataFrame(pdf), threshold=0.8
        ).collect()
    }

    con = duckdb.connect()
    con.register("documents", pdf)
    from aws_snowflake_kinesis_airflow_pipeline_spark.plans.llm_suite import (
        _EXACT_JACCARD_PAIRS_SQL,
    )

    want = {
        (r[0], r[1])
        for r in con.execute(_EXACT_JACCARD_PAIRS_SQL).fetchall()
    }
    assert got == want, (
        f"missed: {sorted(want - got)[:5]}  extra: {sorted(got - want)[:5]}"
    )


def test_ffd_packing_matches_duckdb_on_random_token_counts(spark):
    """pack_sequences == the recursive-CTE FFD oracle on a hostile
    random size distribution: zeros, budget-sized docs, oversize
    docs (> budget -> singleton pack with clamped capacity 0), ties on
    n_tokens (doc_id tiebreak), and a non-fixture partition count."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.packing import (
        pack_sequences,
    )
    from aws_snowflake_kinesis_airflow_pipeline_spark.plans.llm_suite import (
        ffd_oracle_sql,
    )

    rng = random.Random(11)
    budget, n_part = 100, 8
    sizes = (
        [0, 0, 1, budget, budget, budget + 1, budget * 3]
        + [rng.choice([7, 7, 7, 13, 40, 40, 99, 100, 101, 250]) for _ in range(400)]
    )
    pdf = pd.DataFrame(
        {"doc_id": [i * 7 + 3 for i in range(len(sizes))], "n_tokens": sizes}
    )
    packed = pack_sequences(
        spark.createDataFrame(pdf),
        max_tokens=budget,
        num_partitions=n_part,
    ).collect()
    from collections import defaultdict

    members = defaultdict(list)
    for r in packed:
        members[r["pack_id"]].append(r["n_tokens"])
    got_set = {
        (pid, len(ts), sum(ts)) for pid, ts in members.items()
    }

    con = duckdb.connect()
    con.register("raw_docs", pdf)
    want = con.execute(
        ffd_oracle_sql("SELECT doc_id, n_tokens FROM raw_docs", n_part, budget)
    ).fetchall()
    want_set = {(a, int(b), int(c)) for a, b, c in want}
    assert got_set == want_set, (
        f"spark-only: {sorted(got_set - want_set)[:5]} "
        f"oracle-only: {sorted(want_set - got_set)[:5]}"
    )
    # budget honored: a pack only exceeds the budget via a single oversize
    # doc; the docs that fit the budget never collectively exceed it
    # (0-token docs may legally ride along in an oversize bin of capacity 0)
    for pid, ts in members.items():
        fitting = [t for t in ts if t <= budget]
        assert sum(fitting) <= budget
        assert len([t for t in ts if t > budget]) <= 1


def test_lsh_ann_topk_matches_duckdb_on_random_vectors(spark):
    """lsh_topk == the inlined-hyperplane DuckDB replay on random gaussian
    vectors — bucket assignment (float64 sign arithmetic across engines),
    probe-set expansion, and probed-subset exact top-k, off-fixture."""
    import numpy as np

    from aws_snowflake_kinesis_airflow_pipeline_spark.operators import similarity

    rng = np.random.default_rng(5)
    n, dim = 400, 64
    vecs = rng.standard_normal((n, dim))
    # plant two near-copies of the query so the top of the ranking is
    # non-trivial (fixture vectors are near-orthogonal)
    vecs[1] = vecs[0] + 0.01 * rng.standard_normal(dim)
    vecs[2] = vecs[0] + 0.05 * rng.standard_normal(dim)
    pdf = pd.DataFrame(
        {"vec_id": range(n), "embedding": [list(map(float, v)) for v in vecs]}
    )
    sdf = spark.createDataFrame(pdf)
    got = [
        (r["vec_id"], r["cosine"])
        for r in similarity.lsh_topk(
            sdf, list(map(float, vecs[0])),
            probe_hamming=1, exclude_ids=[0],
        ).collect()
    ]

    from aws_snowflake_kinesis_airflow_pipeline_spark.plans.llm_suite import (
        _LSH_TOPK_SQL,
    )

    con = duckdb.connect()
    con.register("embeddings", pdf)
    want = [(r[0], r[1]) for r in con.execute(_LSH_TOPK_SQL).fetchall()]
    assert got == want


def test_bigram_lm_matches_duckdb_on_random_strings(spark):
    """B36: the bigram-LM score must agree with the DuckDB model replay on
    random hostile docs — including whitespace soup, CJK, empty docs and a
    vocab cut small enough that the UNK collapse is heavily engaged."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.lm import (
        bigram_lm_scores,
    )

    docs = _random_docs(250, seed=13)
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
    sdf = spark.createDataFrame(pdf)
    vocab_size = 12  # tiny on purpose: most tokens collapse to UNK
    # A fit sample covering the corpus: the model the replay below fits.
    got = (
        bigram_lm_scores(sdf, vocab_size=vocab_size, max_fit_docs=len(docs))
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.sql(
        f"""
        WITH toks AS (
          SELECT doc_id,
                 LIST_FILTER(STRING_SPLIT_REGEX(LOWER(COALESCE(text, '')),
                                                '\\s+'),
                             x -> x <> '') AS lt
          FROM documents
        ),
        uni AS (
          SELECT u.w AS w, COUNT(*) AS c
          FROM toks, UNNEST(lt) AS u(w) GROUP BY 1
        ),
        vocab AS (SELECT w FROM uni ORDER BY c DESC, w LIMIT {vocab_size}),
        nv AS (SELECT COUNT(*) AS v FROM vocab),
        bi AS (
          SELECT doc_id,
                 CASE WHEN lt[i.i] IN (SELECT w FROM vocab)
                      THEN lt[i.i] ELSE CHR(1) END AS w1,
                 CASE WHEN lt[i.i + 1] IN (SELECT w FROM vocab)
                      THEN lt[i.i + 1] ELSE CHR(1) END AS w2
          FROM toks, UNNEST(GENERATE_SERIES(1, LEN(lt) - 1)) AS i(i)
        ),
        mdl AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY 1, 2),
        ctx AS (SELECT w1, COUNT(*) AS c1 FROM bi GROUP BY 1),
        lm AS (
          SELECT b.doc_id, CAST(COUNT(*) AS INT) AS lm_bigrams,
                 ROUND(SUM(LN((m.c12 + 0.5) / (x.c1 + 0.5 * (nv.v + 1))))
                       / COUNT(*), 4) AS lm_logprob
          FROM bi b JOIN mdl m USING (w1, w2) JOIN ctx x USING (w1)
          CROSS JOIN nv GROUP BY 1
        )
        SELECT d.doc_id, COALESCE(lm.lm_bigrams, 0) AS lm_bigrams,
               lm.lm_logprob
        FROM documents d LEFT JOIN lm USING (doc_id) ORDER BY d.doc_id
        """
    ).df().set_index("doc_id").sort_index()

    assert (got["lm_bigrams"] == want["lm_bigrams"]).all(), (
        got["lm_bigrams"].compare(want["lm_bigrams"]).head()
    )
    both = got["lm_logprob"].notna() & want["lm_logprob"].notna()
    assert (got["lm_logprob"].isna() == want["lm_logprob"].isna()).all()
    diff = (got["lm_logprob"][both] - want["lm_logprob"][both]).abs()
    assert len(diff) > 50 and diff.max() <= 2e-4, (
        diff.idxmax(), docs[diff.idxmax()]
    )


def test_bm25_matches_duckdb_on_random_strings(spark):
    """B35: BM25 scores and the deterministic top-k cut must agree with the
    DuckDB formula replay on random docs and a query that mixes common and
    rare terms."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.search import (
        bm25_topk,
    )

    docs = _random_docs(250, seed=29)
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
    sdf = spark.createDataFrame(pdf)
    terms = ["cat", "mat", "the"]
    k = 25
    got = (
        bm25_topk(sdf, terms, k)
        .toPandas()
        .set_index("rank")
        .sort_index()
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.sql(
        f"""
        WITH toks AS (
          SELECT doc_id,
                 LIST_FILTER(STRING_SPLIT_REGEX(LOWER(COALESCE(text, '')),
                                                '\\s+'),
                             x -> x <> '') AS t
          FROM documents
        ),
        stats AS (SELECT COUNT(*) AS n_docs, AVG(LEN(t)) AS avgdl FROM toks),
        postings AS (
          SELECT doc_id, LEN(t) AS dl, term,
                 LEN(LIST_FILTER(t, x -> x = term)) AS tf
          FROM toks
          CROSS JOIN (SELECT UNNEST({terms!r}) AS term) q
          WHERE LIST_CONTAINS(t, term)
        ),
        dfs AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
        scored AS (
          SELECT p.doc_id,
                 ROUND(SUM(LN(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
                           * p.tf * (1.2 + 1)
                           / (p.tf + 1.2 * (1 - 0.75 + 0.75 * p.dl / s.avgdl))),
                       4) AS score,
                 CAST(COUNT(*) AS INT) AS n_terms
          FROM postings p JOIN dfs d USING (term) CROSS JOIN stats s
          GROUP BY p.doc_id
        )
        SELECT doc_id, score, n_terms, CAST(rank AS INT) AS rank FROM (
          SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank
          FROM scored
        ) WHERE rank <= {k} ORDER BY rank
        """
    ).df().set_index("rank").sort_index()

    assert len(got) == len(want) > 10
    assert (got["doc_id"] == want["doc_id"]).all(), (
        got["doc_id"].compare(want["doc_id"]).head()
    )
    assert (got["n_terms"] == want["n_terms"]).all()
    assert (got["score"] - want["score"]).abs().max() <= 2e-4


def test_bucketed_interval_join_matches_naive_on_random_events(spark):
    """B31: the lag-width bucketing rewrite of the batch interval join
    must emit EXACTLY the pairs of the naive (equi + range filter) form —
    fuzzed on random timestamps including exact-boundary lags (ts
    differences of exactly 0 and exactly max_lag) and bucket-edge
    alignments."""
    import datetime as dt

    from pyspark.sql import functions as F

    from aws_snowflake_kinesis_airflow_pipeline_spark.streaming.joins import (
        interval_join_pairs,
    )

    rng = random.Random(43)
    base = dt.datetime(2024, 3, 1)
    rows, eid = [], 0
    for _ in range(600):
        u = rng.randint(1, 12)
        # Mix of uniform offsets and exact multiples of the 30-min lag /
        # bucket width so boundary and bucket-edge cases are hit.
        sec = rng.choice(
            [rng.randint(0, 86_400), rng.randint(0, 48) * 1800, 0, 1800, 3600]
        )
        et = rng.choice(["purchase", "click", "view"])
        rows.append((eid, base + dt.timedelta(seconds=sec), u, et))
        eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string"
    )

    bucketed = {
        (r["user_id"], r["left_id"], r["right_id"])
        for r in interval_join_pairs(ev).collect()
    }
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("left_id"), F.col("ts").alias("lts")
    )
    right = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("ru"), F.col("event_id").alias("right_id"),
        F.col("ts").alias("rts"),
    )
    naive = {
        (r["user_id"], r["left_id"], r["right_id"])
        for r in left.join(
            right,
            (left["user_id"] == right["ru"])
            & (right["rts"] <= left["lts"])
            & (right["rts"] > left["lts"] - F.expr("INTERVAL 30 minutes")),
            "inner",
        ).collect()
    }
    assert bucketed == naive and len(naive) > 100


def test_span_dedup_matches_duckdb_on_random_corpus(spark):
    """B47: remove_duplicate_spans == the exact-run-string DuckDB replay
    (the c26 'span' branch CTE chain, shared via span_dedup_oracle_ctes)
    on a random corpus with planted duplicated passages at hostile
    placements — doc starts, doc ends, back-to-back repeats, overlapping
    removals from two different runs, and a run over max_df."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.spandup import (
        remove_duplicate_spans,
    )
    from aws_snowflake_kinesis_airflow_pipeline_spark.plans.llm_suite import (
        span_dedup_oracle_ctes,
    )

    rng = random.Random(31)
    vocab = [f"v{i}" for i in range(120)]
    window, max_df = 5, 4
    hot = " ".join(f"ph{i}" for i in range(6))
    docs = []
    for i in range(80):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
        body = " ".join(words)
        # each 8-doc block gets its OWN passage so per-run df stays 4
        # (= max_df, inclusive): 1 at a doc start + 1 at a doc end + 2
        # back-to-back in a third doc
        pas = " ".join(f"p{i // 8}w{j}" for j in range(9))
        roll = i % 8
        if roll == 0:
            body = f"{pas} {body}"                  # at doc start
        elif roll == 1:
            body = f"{body} {pas}"                  # at doc end
        elif roll == 2:
            body = f"{pas} {pas} {body}"            # back-to-back repeat
        elif roll == 4:
            body = f"{hot} {body}"                  # df=10 > max_df=4
        docs.append((i, body))

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_removed_tokens, r.n_spans)
        for r in remove_duplicate_spans(
            sdf, window=window, max_df=max_df
        ).collect()
    }

    pdf = pd.DataFrame({"doc_id": [i for i, _ in docs],
                        "text": [t for _, t in docs]})
    con = duckdb.connect()
    con.register("docs", pdf)
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(
            f"""
            WITH {span_dedup_oracle_ctes(
                "SELECT doc_id, text FROM docs", window, max_df)}
            SELECT st.doc_id,
                   COALESCE(sr.clean_text, '') AS clean_text,
                   CAST(LEN(st.t) AS INT) AS n_tokens,
                   CAST(LEN(st.t) - COALESCE(sr.n_kept, 0) AS INT)
                     AS n_removed,
                   CAST(COALESCE(ss.n_spans, 0) AS INT) AS n_spans
            FROM stoks st
            LEFT JOIN srebuilt sr USING (doc_id)
            LEFT JOIN sspanstats ss USING (doc_id)
            """
        ).fetchall()
    }
    assert set(got) == set(want)
    mism = {i: (got[i], want[i]) for i in got if got[i] != want[i]}
    assert not mism, dict(list(mism.items())[:3])
    # non-vacuous: removals happened in most blocks, and the over-max_df
    # hot run was EXCLUDED (its carrier docs keep every token)
    assert sum(g[3] for g in got.values()) >= 10
    assert all(got[i][2] == 0 for i in range(4, 80, 8))


def test_line_dedup_matches_duckdb_on_random_corpus(spark):
    """B30: drop_duplicate_lines == the c26 'line' branch DuckDB replay on
    a random corpus with hostile line shapes — NULL and empty documents,
    all-boilerplate documents, the EMPTY LINE as a hot line (blank lines
    repeat across most real documents), boilerplate at first/last
    position, and in-doc repeats of a below-threshold line (df counts
    documents, not occurrences)."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.linedup import (
        drop_duplicate_lines,
    )

    rng = random.Random(47)
    vocab = [f"w{i}" for i in range(60)]
    boiler = ["all rights reserved", "cookie notice", ""]  # incl. empty line
    docs = []
    for i in range(90):
        lines = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 6)))
            for _ in range(rng.randint(0, 5))
        ]
        roll = i % 9
        if roll == 0:
            lines.insert(0, boiler[0])            # hot at doc start
        elif roll == 1:
            lines.append(boiler[1])               # hot at doc end
        elif roll == 2:
            lines = [boiler[2]] + lines + [boiler[2]]  # empty line, twice
        elif roll == 3:
            lines = [boiler[0], boiler[1]]        # all-boilerplate doc
        elif roll == 4 and lines:
            lines = lines + [lines[0], lines[0]]  # in-doc repeat, df = 1
        elif roll == 5:
            lines = []                            # empty doc -> ''
        docs.append((i, "\n".join(lines)))
    docs.append((1000, None))                     # NULL text -> ''

    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    base = drop_duplicate_lines(sdf)
    got = {
        r.doc_id: (r.clean_text, r.n_lines, r.n_kept) for r in base.collect()
    }

    pdf = pd.DataFrame(
        {"doc_id": [i for i, _ in docs], "text": [t for _, t in docs]}
    )
    con = duckdb.connect()
    con.register("docs", pdf)
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            """
            WITH base AS (
              SELECT doc_id, COALESCE(text, '') AS text FROM docs
            ),
            lines AS (
              SELECT doc_id,
                     UNNEST(STRING_SPLIT(text, CHR(10))) AS line,
                     generate_subscripts(STRING_SPLIT(text, CHR(10)), 1) - 1
                       AS pos
              FROM base
            ),
            hot AS (
              SELECT line FROM (SELECT DISTINCT doc_id, line FROM lines)
              GROUP BY line HAVING COUNT(*) > 3
            ),
            kept AS (
              SELECT * FROM lines
              WHERE line NOT IN (SELECT line FROM hot)
            ),
            rebuilt AS (
              SELECT doc_id,
                     ARRAY_TO_STRING(LIST(line ORDER BY pos), CHR(10))
                       AS clean_text,
                     COUNT(*) AS n_kept
              FROM kept GROUP BY doc_id
            ),
            totals AS (
              SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id
            )
            SELECT t.doc_id, COALESCE(r.clean_text, '') AS clean_text,
                   CAST(t.n_lines AS BIGINT), CAST(COALESCE(r.n_kept, 0) AS BIGINT)
            FROM totals t LEFT JOIN rebuilt r USING (doc_id)
            """
        ).fetchall()
    }
    assert set(got) == set(want)
    mism = {i: (got[i], want[i]) for i in got if got[i] != want[i]}
    assert not mism, dict(list(mism.items())[:3])
    # non-vacuous: hot lines were stripped somewhere, all-boilerplate docs
    # survive as empty rows, and the NULL-text doc is one empty-doc row
    assert any(g[2] < g[1] for g in got.values())
    assert all(got[i] == ("", 2, 0) for i in range(3, 90, 9))
    assert got[1000] == ("", 1, 0)


def test_cohort_retention_matches_duckdb_on_random_events(spark):
    """B44: cohort_retention(week) == the s1 'retention' branch DuckDB
    formulation on random events — users whose first event lands near
    week boundaries, single-event users, users active in many weeks."""
    import datetime as dt

    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.retention import (
        cohort_retention,
    )

    rng = random.Random(17)
    t0 = dt.datetime(2024, 1, 1)  # a Monday: week-trunc boundary itself
    rows = []
    for u in range(60):
        for _ in range(rng.randint(1, 12)):
            rows.append(
                (u, t0 + dt.timedelta(minutes=rng.randint(0, 60 * 24 * 70)))
            )
    sdf = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz")
    # keys on .date(): DuckDB's DATE_TRUNC('week', ts) returns DATE while
    # the operator keeps TIMESTAMP (in the s1 oracle the union with the
    # other branches' TIMESTAMP window_start coerces it back)
    got = {
        (r.cohort.date(), r.period_offset): r.n_users
        for r in cohort_retention(sdf).collect()
    }

    pdf = pd.DataFrame(rows, columns=["user_id", "ts"])
    con = duckdb.connect()
    con.register("ev", pdf)
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            """
            SELECT cohort, period_offset, COUNT(DISTINCT user_id) FROM (
              SELECT e.user_id, f.cohort,
                     CAST(DATE_DIFF('day', f.cohort, DATE_TRUNC('week', e.ts)) // 7
                          AS INT) AS period_offset
              FROM ev e
              JOIN (SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort
                    FROM ev GROUP BY 1) f USING (user_id)
            ) GROUP BY 1, 2
            """
        ).fetchall()
    }
    assert got == want
    # non-vacuous: several cohorts, offsets beyond 0, and offset-0 rows
    # equal each cohort's size
    assert len({c for c, _ in got}) >= 3
    assert any(k > 0 for _, k in got)


def test_event_transitions_matches_duckdb_on_random_events(spark):
    """B45: event_transitions == the s1 'transition' branch DuckDB lead
    window on random events with same-timestamp ties and NULL tiebreak
    ids — exercising the asc_nulls_last pin against DuckDB's ANSI NULLS
    LAST default."""
    import datetime as dt

    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.transitions import (
        event_transitions,
    )

    rng = random.Random(23)
    t0 = dt.datetime(2024, 6, 1)
    rows, eid = [], 0
    for u in range(50):
        for _ in range(rng.randint(1, 10)):
            # coarse minute grid -> plenty of exact ts ties per user
            ts = t0 + dt.timedelta(minutes=rng.randint(0, 30))
            the_id = None if rng.random() < 0.15 else eid
            rows.append(
                (the_id, u, ts, rng.choice(["view", "click", "buy", "err"]))
            )
            eid += 1
    sdf = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, event_type string"
    )
    got = {
        (r.from_type, r.to_type): r.n for r in event_transitions(sdf).collect()
    }

    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "event_type"])
    con = duckdb.connect()
    con.register("ev", pdf)
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            """
            SELECT from_type, to_type, COUNT(*) FROM (
              SELECT event_type AS from_type,
                     LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                     ) AS to_type
              FROM ev
            ) WHERE to_type IS NOT NULL GROUP BY 1, 2
            """
        ).fetchall()
    }
    assert got == want and sum(got.values()) > 100


def test_token_encoding_matches_duckdb_on_random_strings(spark):
    """B42: build_vocab + encode_documents == the c22 'encode' branch
    DuckDB replay on random hostile strings (whitespace runs, \\x0b,
    unicode, empty docs) — vocab rank ties, OOV counts, and the id
    sequences themselves (md5 of the space-joined ids)."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.encoding import (
        build_vocab,
        encode_documents,
    )

    docs = _random_docs(250, seed=43)
    pdf = pd.DataFrame({"doc_id": range(len(docs)), "text": docs})
    sdf = spark.createDataFrame(pdf)
    vocab = build_vocab(sdf, vocab_size=32)
    enc = encode_documents(sdf, vocab)
    got = {
        r.doc_id: (r.n_tokens, r.n_oov, " ".join(str(i) for i in r.token_ids))
        for r in enc.collect()
    }

    con = duckdb.connect()
    con.register("docs", pdf)
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(
            """
            WITH ltoks AS (
              SELECT doc_id,
                     LIST_FILTER(STRING_SPLIT_REGEX(LOWER(COALESCE(text, '')), '\\s+'),
                                 x -> x <> '') AS t
              FROM docs
            ),
            vocab AS (
              SELECT token,
                     CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS INT)
                       AS token_id
              FROM (
                SELECT token, COUNT(*) AS cnt
                FROM (SELECT UNNEST(t) AS token FROM ltoks)
                GROUP BY 1 ORDER BY cnt DESC, token LIMIT 32
              )
            ),
            pos AS (
              SELECT doc_id, UNNEST(t) AS token,
                     UNNEST(range(1, LEN(t) + 1)) AS pos
              FROM ltoks
            ),
            enc AS (
              SELECT p.doc_id, p.pos, COALESCE(v.token_id, 0) AS tid
              FROM pos p LEFT JOIN vocab v USING (token)
            ),
            agg AS (
              SELECT doc_id, LIST(tid ORDER BY pos) AS ids,
                     COUNT(*) AS n_tokens,
                     SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS n_oov
              FROM enc GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(COALESCE(a.n_tokens, 0) AS INT),
                   CAST(COALESCE(a.n_oov, 0) AS INT),
                   COALESCE(ARRAY_TO_STRING(a.ids, ' '), '')
            FROM docs d LEFT JOIN agg a USING (doc_id)
            """
        ).fetchall()
    }
    assert got == want
    # non-vacuous: OOV present, in-vocab ids present, empty docs present
    assert any(v[1] > 0 for v in got.values())
    assert any("1" in v[2].split() for v in got.values())
    assert any(v[0] == 0 for v in got.values())


def test_corpus_diff_matches_duckdb_on_random_snapshots(spark):
    """B41 corpus diff off-fixture: random old/new snapshot pairs with
    whitespace-only churn (must classify 'unchanged' — the normalized
    fingerprint is the contract), real edits, NULL texts, adds and
    removes, replayed against the same full-outer-join SQL the c1 'diff'
    branch oracle uses."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.diffing import corpus_diff

    rng = random.Random(23)
    old_rows, new_rows = [], []
    for i in range(400):
        text = " ".join(
            rng.choice(["the", "cat", "sat", "mat", "dog", "ran"])
            for _ in range(rng.randint(0, 8))
        ) + rng.choice(["", " x\x0by", " 中文", "!!"])
        if rng.random() < 0.05:
            text = None
        kind = rng.random()
        if kind < 0.15:  # removed
            old_rows.append((i, text))
        elif kind < 0.30:  # added
            new_rows.append((i, text))
        elif kind < 0.45:  # whitespace churn only -> unchanged
            old_rows.append((i, text))
            new_rows.append(
                (i, None if text is None else f"  {text.replace(' ', '   ')}\t")
            )
        elif kind < 0.60:  # changed (NULL flips count as changed too)
            old_rows.append((i, text))
            new_rows.append((i, "edited " + (text or "")))
        else:  # unchanged verbatim
            old_rows.append((i, text))
            new_rows.append((i, text))
    old_pdf = pd.DataFrame(old_rows, columns=["doc_id", "text"])
    new_pdf = pd.DataFrame(new_rows, columns=["doc_id", "text"])

    got = (
        corpus_diff(
            spark.createDataFrame(old_pdf.astype({"doc_id": "int64"})),
            spark.createDataFrame(new_pdf.astype({"doc_id": "int64"})),
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )

    fp = (
        "md5(TRIM(REGEXP_REPLACE(LOWER(COALESCE(text, CHR(0) || 'null' || CHR(0))), "
        "'\\s+', ' ', 'g')))"
    )
    con = duckdb.connect()
    con.register("old_snap", old_pdf)
    con.register("new_snap", new_pdf)
    want = con.execute(
        f"""
        WITH fpo AS (SELECT doc_id, {fp} AS f FROM old_snap),
             fpn AS (SELECT doc_id, {fp} AS f FROM new_snap)
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.f IS NULL THEN 'added'
                    WHEN n.f IS NULL THEN 'removed'
                    WHEN o.f <> n.f THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM fpo o FULL OUTER JOIN fpn n ON o.doc_id = n.doc_id
        ORDER BY doc_id
        """
    ).df().set_index("doc_id").sort_index()

    assert (got["status"] == want["status"]).all(), (
        got["status"].compare(want["status"]).head()
    )
    # sanity: the generator produced every class
    assert set(got["status"].unique()) == {"added", "removed", "changed", "unchanged"}


def test_leakage_split_matches_duckdb_on_random_clone_groups(spark):
    """B46 leakage-safe split off-fixture: a random corpus of vocabulary-
    disjoint documents plus randomized exact-clone groups (recall is
    structural — identical signatures) must draw the SAME (split_key,
    split) per document as the c17 'leakage' oracle's recursive-CTE
    replay, and no clone group may straddle splits."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.leakage import (
        leakage_safe_split,
    )
    from aws_snowflake_kinesis_airflow_pipeline_spark.plans.llm_suite import (
        exact_jaccard_pairs_ctes,
    )

    rng = random.Random(31)
    rows = []
    next_id = 0
    # Per-doc invented vocabulary -> cross-doc jaccard is structurally 0;
    # only the planted clone groups form components.
    for _ in range(120):
        base_id = next_id
        text = " ".join(f"w{base_id}x{j}" for j in range(rng.randint(3, 9)))
        rows.append((base_id, text))
        next_id += 1
        for _ in range(rng.choice([0, 0, 0, 1, 1, 2, 3])):
            rows.append((next_id, text))
            next_id += 1
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])

    got = (
        leakage_safe_split(
            spark.createDataFrame(pdf.astype({"doc_id": "int64"})),
            val_fraction=0.1,
        )
        .select("doc_id", "split_key", "split")
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )

    con = duckdb.connect()
    con.register("corpus", pdf)
    want = con.execute(
        f"""
        WITH RECURSIVE {exact_jaccard_pairs_ctes("SELECT doc_id, text FROM corpus")},
        edges AS (
          SELECT id1 AS a, id2 AS b FROM jpairs
          UNION
          SELECT id2 AS a, id1 AS b FROM jpairs
        ),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION
          SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        comp AS (
          SELECT a AS doc_id, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
        )
        SELECT c.doc_id,
               COALESCE(p.component, c.doc_id) AS split_key,
               CASE WHEN CAST(CONCAT('0x',
                        SUBSTR(md5(CAST(COALESCE(p.component, c.doc_id) AS VARCHAR)), 1, 8))
                      AS UBIGINT) % 1000 < 100
                    THEN 'val' ELSE 'train' END AS split
        FROM corpus c LEFT JOIN comp p USING (doc_id)
        ORDER BY c.doc_id
        """
    ).df().set_index("doc_id").sort_index()

    assert (got["split_key"] == want["split_key"]).all(), (
        got["split_key"].compare(want["split_key"]).head()
    )
    assert (got["split"] == want["split"]).all()
    # no-straddle, asserted directly on the Spark output
    n_splits_per_key = got.groupby("split_key")["split"].nunique()
    assert (n_splits_per_key == 1).all()
    # sanity: the generator produced real multi-doc groups and both splits
    assert (got.groupby("split_key").size() > 1).any()
    assert set(got["split"].unique()) == {"train", "val"}
