"""Text-function tests: tokenizers, shingles, fingerprints, lang-ID on real
multilingual samples (the heuristic's contract), quality components."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_snowflake_kinesis_airflow_pipeline_spark.functions import text as TX


def one(spark, s, col):
    return spark.createDataFrame([(s,)], "text string").select(
        col.alias("out")
    ).first()["out"]


def test_token_counts(spark):
    assert one(spark, "a b c", TX.token_count()) == 3
    assert one(spark, "hello, world!", TX.bpe_token_count()) == 4


def test_word_shingles(spark):
    got = one(spark, "a b c d", TX.word_shingles(TX.tokens("text"), 3))
    assert got == ["a b c", "b c d"]
    assert one(spark, "a b", TX.word_shingles(TX.tokens("text"), 3)) == []


def test_fingerprint_normalizes(spark):
    a = one(spark, "Hello   World", TX.doc_fingerprint("text"))
    b = one(spark, "hello world ", TX.doc_fingerprint("text"))
    c = one(spark, "hello worlds", TX.doc_fingerprint("text"))
    assert a == b != c


def test_lang_id_on_real_samples(spark):
    samples = {
        "the cat is in the house and it is warm": "en",
        "der hund ist nicht in das haus und die katze": "de",
        "el perro es grande y la casa es una maravilla en que vivo": "es",
        "le chien est dans la maison et les chats pour une fois": "fr",
        "这是一个中文句子": "zh",
    }
    for text_val, expect in samples.items():
        assert one(spark, text_val, TX.lang_id()) == expect, text_val
    assert one(spark, "zzz qqq xxx", TX.lang_id()) == "und"


def test_quality_components(spark):
    assert one(spark, "a,b!c?", TX.punct_ratio("text")) == 0.5
    sw = one(spark, "the dog and the cat", TX.stopword_ratio())
    assert abs(sw - 0.6) < 1e-9
    q = one(spark, "the quick brown fox jumps over the lazy dog", TX.quality_score())
    assert 0.0 <= q <= 1.0


def test_repetition_signals(spark):
    from aws_snowflake_kinesis_airflow_pipeline_spark.functions.text import (
        dup_word_frac,
        top_word_frac,
    )

    rows = [
        (1, "a b c d"),          # all distinct
        (2, "a a a a"),          # one token repeated
        (3, "a a b c"),          # one repeat of four
    ]
    out = {
        r["i"]: (r["d"], r["t"])
        for r in spark.createDataFrame(rows, "i long, text string")
        .select(
            "i",
            dup_word_frac().alias("d"),
            top_word_frac().alias("t"),
        )
        .collect()
    }
    assert out[1] == (0.0, 0.25)
    assert out[2] == (0.75, 1.0)
    assert out[3] == (0.25, 0.5)


def test_tokenizer_is_whitespace_regex(spark):
    """trim + \\s+ split: tabs/newlines/runs of spaces separate tokens and
    padding never fabricates empty-string tokens."""
    assert one(spark, "a\tb\n  c", TX.token_count()) == 3
    assert one(spark, "  padded  doc  ", TX.tokens("text")) == ["padded", "doc"]
    # empty text -> zero tokens (empty-token filter; oracle-matching via
    # LIST_FILTER on the SQL side)
    assert one(spark, "", TX.token_count()) == 0
    # padding no longer scores as repetition
    assert one(spark, "  a  b  ", TX.dup_word_frac()) == 0.0


def test_char_shingles(spark):
    assert one(spark, "abcdef", TX.char_shingles("text")) == [
        "abcde",
        "bcdef",
    ]
    assert one(spark, "abc", TX.char_shingles("text")) == []


def test_cjk_docs_carry_dedup_and_quality_signal(spark):
    """No-space scripts must not silently vanish from the dedup family nor
    score as pure punctuation: word shingles degenerate to zero on CJK, so
    adaptive shingles take character n-grams; punct_ratio treats ideographs
    as letters; lang_id short-circuits to zh."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    zh1 = "今天天气很好我们去公园散步吧然后一起吃晚饭"
    zh2 = "今天天气很好我们去公园散步吧然后一起吃午饭"  # one char differs
    zh3 = "完全不同的文本内容关于机器学习和分布式系统"
    row = (
        spark.createDataFrame([(zh1,)], "text string")
        .select(
            F.size(TX.word_shingles(TX.tokens("text"), 3)).alias("w"),
            F.size(TX.adaptive_shingles(3)).alias("a"),
            F.round(TX.punct_ratio("text"), 4).alias("p"),
            TX.lang_id().alias("lang"),
        )
        .first()
    )
    assert row["w"] == 0  # whitespace tokenization degenerates
    assert row["a"] == len(zh1) - 4  # char 5-grams carry the signal
    assert row["p"] == 0.0  # ideographs are letters, not punctuation
    assert row["lang"] == "zh"

    df = spark.createDataFrame(
        [(1, zh1), (2, zh2), (3, zh3)], "doc_id long, text string"
    )
    pairs = {
        (r["id1"], r["id2"])
        for r in ngram_jaccard_pairs(
            df, k=3, threshold=0.5
        ).collect()
    }
    assert pairs == {(1, 2)}  # near-identical CJK docs pair; unrelated doesn't


def test_top_word_frac_matches_naive_definition(spark):
    """The O(L log L) longest-equal-run formulation must equal the
    definitional max-token-count / token-count on adversarial token mixes
    (repeats at the ends, runs in the middle, single tokens, all-same)."""
    from collections import Counter

    docs = [
        "a",
        "a a a a",
        "a b a b a",
        "x y z",
        "b a a a b",
        "one two two three three three",
        "  padded   runs\tof   whitespace  ",
        "z z z z z z z a",
        "tie tie break break",
    ]
    df = spark.createDataFrame([(i, d) for i, d in enumerate(docs)], "i long, text string")
    got = {
        r["i"]: r["f"]
        for r in df.select(
            "i", F.round(TX.top_word_frac(), 6).alias("f")
        ).collect()
    }
    for i, d in enumerate(docs):
        toks = d.strip().split()
        expect = round(Counter(toks).most_common(1)[0][1] / len(toks), 6)
        assert got[i] == expect, (d, got[i], expect)


def test_tokenizer_contract_on_hostile_whitespace(spark):
    """Tab/newline padding and separator runs must never fabricate empty
    tokens (space-only trimming did), and the engine must agree with the
    pandas UDF kernel on every input — including \x0B, which is whitespace
    to Java/Python but NOT to the RE2 oracle: the shared WS_CLASS
    deliberately excludes it so both engines treat it as a token char."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.functions.udf_demo import (
        pd_token_count,
    )

    docs = [
        "\ta b",          # leading tab
        "a b\n",          # trailing newline
        "\na b\n",        # both ends
        "a\t\tb",         # tab run
        "",               # empty -> zero tokens
        "   \t\n  ",      # whitespace-only -> zero tokens
        "a\x0bb",         # \x0B is NOT a separator (RE2 parity) -> 1 token
    ]
    expected = [2, 2, 2, 2, 0, 0, 1]
    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(docs)], "i long, text string"
    )
    rows = df.select(
        "i",
        TX.token_count().alias("n"),
        pd_token_count("text").alias("pd_n"),
        F.round(TX.dup_word_frac(), 4).alias("dup"),
    ).collect()
    got = {r["i"]: r for r in rows}
    for i, exp in enumerate(expected):
        assert got[i]["n"] == exp, (docs[i], got[i]["n"], exp)
        assert got[i]["pd_n"] == exp, ("udf", docs[i], got[i]["pd_n"], exp)
    # padded 'a b' variants have two distinct tokens -> zero fabricated dups
    for i in (0, 1, 2, 3):
        assert got[i]["dup"] == 0.0, (docs[i], got[i]["dup"])
