"""Corpus-preparation operators (SURVEY §2 B26-B29): chunking boundaries,
funnel monotonicity/consistency, quantization round-trip, per-group caps.

The registered queries (c22-c25) carry the cross-engine oracle checks;
these tests pin the operator CONTRACTS on adversarial literal inputs the
fixture corpus can't produce (empty docs, all-zero vectors, exact-budget
boundaries, sub-cap groups)."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_snowflake_kinesis_airflow_pipeline_spark.functions import vectors as VX
from aws_snowflake_kinesis_airflow_pipeline_spark.operators.chunking import (
    chunk_documents,
)
from aws_snowflake_kinesis_airflow_pipeline_spark.operators.funnel import (
    quality_funnel,
)
from aws_snowflake_kinesis_airflow_pipeline_spark.operators.sampling import (
    per_group_cap,
    per_group_weight_budget,
)


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------- chunking


def test_chunk_boundaries_exact(spark):
    # 10 tokens, chunk=4, overlap=2 -> stride 2, starts < max(10-2,1)=8:
    # 0,2,4,6 -> windows of 4,4,4,4 tokens
    text = " ".join(f"t{i}" for i in range(10))
    out = chunk_documents(
        _docs_df(spark, [(1, text)]), chunk_tokens=4, overlap=2
    ).collect()
    assert [(r["chunk_idx"], r["chunk_start"], r["chunk_n_tokens"]) for r in out] == [
        (0, 0, 4),
        (1, 2, 4),
        (2, 4, 4),
        (3, 6, 4),
    ]


def test_chunk_short_doc_single_window(spark):
    # shorter than one window -> exactly one (short) chunk
    out = chunk_documents(
        _docs_df(spark, [(1, "a b c")]), chunk_tokens=8, overlap=2
    ).collect()
    assert [(r["chunk_idx"], r["chunk_n_tokens"]) for r in out] == [(0, 3)]


def test_chunk_empty_doc_yields_no_chunks(spark):
    out = chunk_documents(
        _docs_df(spark, [(1, ""), (2, "  \t "), (3, "x y z w")]),
        chunk_tokens=2,
        overlap=0,
    ).collect()
    assert {r["doc_id"] for r in out} == {3}


def test_chunk_coverage_and_overlap(spark):
    # every token index is covered; consecutive chunks share `overlap`
    # tokens except possibly the truncated final window
    n, ct, ov = 23, 6, 3
    text = " ".join(f"w{i}" for i in range(n))
    rows = sorted(
        chunk_documents(
            _docs_df(spark, [(1, text)]), chunk_tokens=ct, overlap=ov
        ).collect(),
        key=lambda r: r["chunk_idx"],
    )
    covered = set()
    for r in rows:
        covered |= set(range(r["chunk_start"], r["chunk_start"] + r["chunk_n_tokens"]))
    assert covered == set(range(n))
    for a, b in zip(rows, rows[1:]):
        assert b["chunk_start"] == a["chunk_start"] + (ct - ov)


def test_chunk_rejects_bad_overlap(spark):
    import pytest

    with pytest.raises(ValueError):
        chunk_documents(_docs_df(spark, [(1, "a")]), chunk_tokens=4, overlap=4)


# ------------------------------------------------------------------ funnel


def test_funnel_monotone_and_matches_apply(spark):
    df = spark.createDataFrame(
        [(i, i % 3 == 0, i % 2 == 0) for i in range(30)],
        "id long, p3 boolean, p2 boolean",
    )
    stages = [("div3", F.col("p3")), ("even", F.col("p2"))]
    rows = {r["stage"]: r for r in quality_funnel(df, stages).collect()}
    surv = [rows["total"], rows["div3"], rows["even"]]
    assert [r["stage_idx"] for r in surv] == [0, 1, 2]
    counts = [r["survivors"] for r in surv]
    assert counts == sorted(counts, reverse=True)  # monotone non-increasing
    assert counts == [30, 10, 5]
    # the last stage counts exactly the corpus the cascade lets through
    assert df.filter(F.col("p3") & F.col("p2")).count() == counts[-1]


def test_funnel_null_predicate_drops(spark):
    df = spark.createDataFrame(
        [(1, "x"), (2, None)], "id long, s string"
    )
    rows = {
        r["stage"]: r["survivors"]
        for r in quality_funnel(df, [("nonnull", F.length("s") > 0)]).collect()
    }
    assert rows == {"total": 2, "nonnull": 1}  # NULL predicate == drop


def test_funnel_rejects_duplicate_stage_names(spark):
    import pytest

    df = spark.range(1)
    with pytest.raises(ValueError):
        quality_funnel(df, [("a", F.lit(True)), ("a", F.lit(False))])
    with pytest.raises(ValueError):
        quality_funnel(df, [])


# ------------------------------------------------------------ quantization


def test_quantize_roundtrip_error_bound(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25, 0.0]), (2, [2.0, 2.0, -2.0, 1.0])],
        "vec_id long, v array<float>",
    )
    out = (
        df.withColumn("scale", VX.int8_scale("v"))
        .withColumn("q", VX.int8_quantize("v", F.col("scale")))
        .withColumn("err", VX.max_dequant_err("v", F.col("q"), F.col("scale")))
        .collect()
    )
    for r in out:
        assert all(-127 <= q <= 127 for q in r["q"])
        assert r["err"] <= r["scale"] / 2 + 1e-12
        # the max-magnitude element always quantizes to exactly +/-127
        assert max(abs(q) for q in r["q"]) == 127


def test_quantize_zero_vector_exact(spark):
    df = spark.createDataFrame([(1, [0.0, 0.0, 0.0])], "vec_id long, v array<float>")
    r = (
        df.withColumn("scale", VX.int8_scale("v"))
        .withColumn("q", VX.int8_quantize("v", F.col("scale")))
        .withColumn("err", VX.max_dequant_err("v", F.col("q"), F.col("scale")))
        .collect()[0]
    )
    assert r["q"] == [0, 0, 0] and r["err"] == 0.0


# ------------------------------------------------------------- group caps


def test_per_group_cap_exact_and_stable(spark):
    df = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(40)], "k long, g string"
    )
    out = per_group_cap(df, "k", "g", cap=5, seed=1)
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert all(v == 5 for v in counts.values())
    # deterministic across partitioning
    a = {(r["k"], r["sample_rank"]) for r in out.collect()}
    b = {
        (r["k"], r["sample_rank"])
        for r in per_group_cap(df.repartition(7), "k", "g", cap=5, seed=1).collect()
    }
    assert a == b
    # different seed -> different sample (40 rows, overlap all-10 is ~impossible)
    c = {r["k"] for r in per_group_cap(df, "k", "g", cap=5, seed=2).collect()}
    assert c != {r["k"] for r in out.collect()}


def test_per_group_cap_small_group_kept_whole(spark):
    df = spark.createDataFrame([(1, "g"), (2, "g")], "k long, g string")
    assert per_group_cap(df, "k", "g", cap=10).count() == 2


def test_weight_budget_maximal_prefix(spark):
    # weights all 10, budget 35 -> exactly 3 rows per group, in hash order
    df = spark.createDataFrame(
        [(i, f"g{i % 2}", 10) for i in range(20)], "k long, g string, w int"
    )
    out = per_group_weight_budget(df, "k", "g", "w", budget=35, seed=3)
    rows = out.collect()
    per_g = {}
    for r in rows:
        per_g.setdefault(r["g"], []).append(r["cum_weight"])
    for g, cums in per_g.items():
        assert sorted(cums) == [10, 20, 30]
    # a single over-budget first row -> empty group, not a crash
    big = spark.createDataFrame([(1, "g", 100)], "k long, g string, w int")
    assert per_group_weight_budget(big, "k", "g", "w", budget=35).count() == 0


# ------------------------------------------------------- off-fixture fuzz
# The c22/c24/c25 oracles replay engine arithmetic in DuckDB; these fuzz
# the same replay on RANDOM hostile inputs (whitespace soup, empty docs,
# skewed groups, negative/zero vectors) so parity never silently narrows
# to what the fixture corpus happens to contain.


def _fuzz_docs(n, seed):
    import random

    rng = random.Random(seed)
    words = ["the", "cat", "sat", "mat", "dog", "ran", "x", "yz", "qq"]
    rows = []
    for i in range(n):
        k = rng.choice([0, 1, 2, 3, 7, 20, 55, 90])
        body = " ".join(rng.choice(words) for _ in range(k))
        pad = rng.choice(["", " ", "\t", "\n\n", "  "])
        rows.append((i, pad + body + pad, f"s{rng.randint(0, 4)}"))
    return rows


def test_chunking_matches_duckdb_on_random_corpus(spark):
    import duckdb
    import pandas as pd

    rows = _fuzz_docs(200, seed=11)
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    got = sorted(
        tuple(r)
        for r in chunk_documents(
            spark.createDataFrame(pdf), chunk_tokens=10, overlap=4
        ).collect()
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(
        tuple(r)
        for r in con.execute(
            """
        WITH toks AS (
          SELECT doc_id,
                 LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'), x -> x <> '') AS t
          FROM documents
        ),
        starts AS (
          SELECT doc_id, t,
                 UNNEST(range(0, GREATEST(LEN(t) - 4, 1), 6)) AS chunk_start
          FROM toks WHERE LEN(t) > 0
        )
        SELECT doc_id, CAST(chunk_start // 6 AS INT), CAST(chunk_start AS INT),
               CAST(LEN(w) AS INT), md5(ARRAY_TO_STRING(w, ' '))
        FROM (SELECT doc_id, chunk_start,
                     LIST_SLICE(t, chunk_start + 1, chunk_start + 10) AS w
              FROM starts)
        """
        ).fetchall()
    )
    assert got == want


def test_group_caps_match_duckdb_on_random_corpus(spark):
    import duckdb
    import pandas as pd

    from aws_snowflake_kinesis_airflow_pipeline_spark.functions.text import (
        token_count,
    )

    rows = _fuzz_docs(300, seed=23)
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    docs = spark.createDataFrame(pdf).select(
        "doc_id", "source", token_count().alias("n_tok")
    )
    got_cap = sorted(
        (r["source"], r["doc_id"], r["sample_rank"])
        for r in per_group_cap(docs, "doc_id", "source", cap=9, seed=5).collect()
    )
    got_budget = sorted(
        (r["source"], r["doc_id"], r["cum_weight"])
        for r in per_group_weight_budget(
            docs, "doc_id", "source", "n_tok", budget=120, seed=5
        ).collect()
    )
    con = duckdb.connect()
    con.register("documents", pdf)
    base = """
        WITH t AS (
          SELECT doc_id, source,
                 LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'), x -> x <> ''))
                   AS n_tok
          FROM documents
        ),
        h AS (
          SELECT doc_id, source, n_tok,
                 CAST(CONCAT('0x', SUBSTR(md5(CONCAT('5:',
                      CAST(doc_id AS VARCHAR))), 1, 8)) AS UBIGINT) AS hh
          FROM t
        )
    """
    want_cap = sorted(
        tuple(r)
        for r in con.execute(
            base
            + """
        SELECT source, doc_id, rk FROM (
          SELECT doc_id, source,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rk
          FROM h) WHERE rk <= 9
        """
        ).fetchall()
    )
    want_budget = sorted(
        tuple(r)
        for r in con.execute(
            base
            + """
        SELECT source, doc_id, cw FROM (
          SELECT doc_id, source,
                 SUM(n_tok) OVER (PARTITION BY source ORDER BY hh, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
          FROM h) WHERE cw <= 120
        """
        ).fetchall()
    )
    assert got_cap == want_cap
    assert got_budget == want_budget


def test_quantization_matches_duckdb_on_random_vectors(spark):
    import duckdb
    import random

    import pandas as pd

    rng = random.Random(31)
    rows = []
    for i in range(150):
        dim = rng.choice([4, 8, 16])
        scale = rng.choice([0.001, 0.5, 10.0])
        v = [round(rng.uniform(-scale, scale), 6) for _ in range(dim)]
        if i % 10 == 0:
            v = [0.0] * dim  # all-zero vectors exercise the scale=0 branch
        rows.append((i, v))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    sdf = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sorted(
        tuple(r)
        for r in sdf.withColumn("scale", VX.int8_scale("embedding"))
        .withColumn("qv", VX.int8_quantize("embedding", F.col("scale")))
        .select(
            "vec_id",
            F.round("scale", 6).alias("s6"),
            F.aggregate("qv", F.lit(0).cast("long"), lambda a, x: a + x).alias(
                "q_sum"
            ),
            F.aggregate(
                "qv", F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
            ).alias("q_abs"),
        )
        .collect()
    )
    con = duckdb.connect()
    con.register("embeddings", pdf)
    want = sorted(
        tuple(r)
        for r in con.execute(
            """
        WITH s AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                 LIST_MAX(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
                          x -> ABS(x))) / 127.0 AS scale
          FROM embeddings
        ),
        q AS (
          SELECT vec_id, scale,
                 LIST_TRANSFORM(v, x -> CAST(CASE WHEN scale = 0 THEN 0
                     ELSE FLOOR(x / scale + 0.5) END AS INT)) AS qv
          FROM s
        )
        SELECT vec_id, ROUND(scale, 6),
               CAST(LIST_SUM(qv) AS BIGINT),
               CAST(LIST_SUM(LIST_TRANSFORM(qv, x -> ABS(x))) AS BIGINT)
        FROM q
        """
        ).fetchall()
    )
    assert got == want


# -------------------------------------------------------- line-level dedup


def test_corpus_diversity_counts_types_and_tokens(spark):
    """Per-group trigram type/token stats: repeated trigrams count once as
    types, every occurrence as tokens; sub-k docs contribute zero grams
    but still count as docs; NULL text and a NULL group are real rows."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.diversity import (
        corpus_diversity,
    )

    rows = [
        (1, "a b c d", "web"),      # grams: 'a b c', 'b c d'
        (2, "a b c", "web"),        # gram:  'a b c' (duplicate type)
        (3, "x y", "web"),          # sub-k: 0 grams, still a doc
        (4, "p q r", "books"),
        (5, None, "books"),         # NULL text -> 0 grams
        (6, "m n o", None),         # NULL group is a real group
    ]
    out = {
        r[0]: r[1:]
        for r in (
            (r["source"], r["n_docs"], r["total_ngrams"],
             r["distinct_ngrams"], r["ttr"])
            for r in corpus_diversity(
                spark.createDataFrame(
                    rows, "doc_id long, text string, source string"
                ),
            ).collect()
        )
    }
    assert out["web"] == (3, 3, 2, round(2 / 3, 4))
    assert out["books"] == (2, 1, 1, 1.0)
    assert out[None] == (1, 1, 1, 1.0)


def test_corpus_diversity_all_subk_group_reports_null_ttr(spark):
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.diversity import (
        corpus_diversity,
    )

    rows = [(1, "one two", "tiny"), (2, "", "tiny")]
    (r,) = corpus_diversity(
        spark.createDataFrame(rows, "doc_id long, text string, source string"),
    ).collect()
    assert (r["n_docs"], r["total_ngrams"], r["distinct_ngrams"], r["ttr"]) == (
        2, 0, 0, None,
    )


def test_line_dedup_strips_hot_lines_preserves_order(spark):
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.linedup import (
        drop_duplicate_lines,
    )

    boiler = "all rights reserved"
    rows = [(i, f"intro {i}\n{boiler}\nbody {i}") for i in range(4)]
    rows.append((100, boiler))                      # pure boilerplate doc
    rows.append((101, f"{boiler}\nkeep me\n{boiler}"))  # in-doc repeat
    out = {
        r["doc_id"]: r
        for r in drop_duplicate_lines(
            spark.createDataFrame(rows, "doc_id long, text string"),
        ).collect()
    }
    assert len(out) == 6  # every input doc survives as a row
    for i in range(4):
        assert out[i]["clean_text"] == f"intro {i}\nbody {i}"  # order kept
        assert (out[i]["n_lines"], out[i]["n_kept"]) == (3, 2)
    assert out[100]["clean_text"] == "" and out[100]["n_kept"] == 0
    assert out[101]["clean_text"] == "keep me"


def test_line_dedup_df_counts_docs_not_occurrences(spark):
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.linedup import (
        drop_duplicate_lines,
    )

    # one doc repeats a line 5 times -> df is still 1 -> kept
    rows = [(1, "x\nx\nx\nx\nx"), (2, "y")]
    out = {
        r["doc_id"]: r["clean_text"]
        for r in drop_duplicate_lines(
            spark.createDataFrame(rows, "doc_id long, text string"),
        ).collect()
    }
    assert out[1] == "x\nx\nx\nx\nx"
    assert out[2] == "y"


def test_line_dedup_null_text_survives_as_empty_doc(spark):
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.linedup import (
        drop_duplicate_lines,
    )

    # split(NULL) -> NULL -> posexplode emits nothing, which used to drop
    # NULL-text documents from the output entirely; the contract is one
    # row per input document with clean_text = ''.
    rows = [(1, "real line"), (2, None)]
    out = {
        r["doc_id"]: r
        for r in drop_duplicate_lines(
            spark.createDataFrame(rows, "doc_id long, text string"),
        ).collect()
    }
    assert set(out) == {1, 2}
    assert out[2]["clean_text"] == ""
    assert out[1]["clean_text"] == "real line"
