"""Dedup-family tests with planted duplicates / near-duplicates — recall is
pinned here since the LSH queries are rows-only in the oracle harness."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_snowflake_kinesis_airflow_pipeline_spark.operators import dedup

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away into "
    "the deep green forest tonight while stars shine bright above the hills"
)
NEAR = BASE.replace("tonight", "today")  # one-token edit -> high jaccard
OTHER = (
    "completely different content about database engines and query planners "
    "optimizing joins aggregates and shuffles across large clusters of machines"
)


def make_docs(spark):
    return spark.createDataFrame(
        [(1, BASE), (2, NEAR), (3, OTHER), (4, BASE)],  # 4 = exact dup of 1
        "doc_id long, text string",
    )


def test_exact_dedup_keeps_min_id(spark):
    docs = make_docs(spark)
    out = dedup.exact_dedup(docs, key_cols=["text"], id_col="doc_id")
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [1, 2, 3]  # 4 collapsed into 1 (min id wins)


def test_ngram_jaccard_finds_planted_pair(spark):
    docs = make_docs(spark)
    pairs = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5
        ).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0  # exact dup
    assert (1, 2) in pairs and 0.5 <= pairs[(1, 2)] < 1.0  # near dup
    assert not any(3 in p for p in pairs)  # unrelated doc never pairs


def test_minhash_lsh_recalls_planted_pairs(spark):
    docs = make_docs(spark)
    got = {
        (r["id1"], r["id2"])
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.5
        ).collect()
    }
    assert (1, 4) in got and (1, 2) in got


def test_minhash_matches_exact_jaccard_on_fixture(spark, sf_dir):
    """LSH candidates + exact verify must equal the full exact pass at the
    fixture's planted-near-dup threshold (recall check at corpus scale)."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r["id1"], r["id2"])
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.8
        ).collect()
    }
    lsh = {
        (r["id1"], r["id2"])
        for r in dedup.minhash_lsh_pairs(
            docs, threshold=0.8
        ).collect()
    }
    assert lsh == exact


def test_ngram_jaccard_hot_shingle_cap(spark):
    """The max_doc_freq guard must keep genuinely-near-dup pairs (their
    overlap is not boilerplate) while dropping hot shingles from pairing."""
    docs = make_docs(spark)
    pairs = {
        (r["id1"], r["id2"])
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, max_doc_freq=3
        ).collect()
    }
    assert (1, 4) in pairs and (1, 2) in pairs


def test_hot_shingle_cap_bounds_pair_blowup(spark):
    """One boilerplate shingle shared by ALL docs (a license header at 100 TB)
    must not generate O(n^2) co-shingled pairs once the cap is on: with
    max_doc_freq set the pairing side drops the hot shingle entirely, so the
    all-docs clique contributes zero candidate pairs; unguarded it emits the
    full C(n,2)."""
    n = 60
    rows = [
        (i, f"shared boilerplate header unique{i} token{i} payload{i}")
        for i in range(n)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # threshold=0 surfaces every generated pair, so the counts below measure
    # candidate generation itself, not the jaccard filter.
    unguarded = dedup.ngram_jaccard_pairs(
        docs, threshold=0.0
    ).count()
    guarded = dedup.ngram_jaccard_pairs(
        docs, threshold=0.0, max_doc_freq=10
    ).count()
    assert unguarded == n * (n - 1) // 2  # the quadratic clique
    assert guarded == 0  # hot shingle dropped from pairing


def test_capped_grouped_emission_matches_join_form(spark):
    """The capped path (grouped posting-list pair emission) must produce the
    exact pair set of the uncapped join form restricted to the same cap —
    including the boundary: a shingle in exactly ``cap`` docs still pairs,
    ``cap + 1`` does not. Randomized word soup with planted overlap tiers
    straddling the cap."""
    import random

    rng = random.Random(7)
    vocab = [f"w{j}" for j in range(40)]
    rows = []
    # Tier A: 3 docs sharing a 3-gram (df=3 == cap) -> pairs survive.
    for i in range(3):
        rows.append((i, "alpha beta gamma " + " ".join(rng.choices(vocab, k=8))))
    # Tier B: 4 docs sharing a 3-gram (df=4 > cap) -> dropped from pairing.
    for i in range(3, 7):
        rows.append((i, "delta epsilon zeta " + " ".join(rng.choices(vocab, k=8))))
    # Noise docs.
    for i in range(7, 20):
        rows.append((i, " ".join(rng.choices(vocab, k=12))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cap = 3

    capped = {
        (r["id1"], r["id2"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.0, max_doc_freq=cap
        ).collect()
    }
    # Reference: join form with the cap applied via its own (pre-refactor)
    # anti-join semantics — reconstructed from the uncapped index.
    idx = dedup.shingle_index(docs)
    hot = (
        idx.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > cap)
        .select("shingle")
    )
    cool = idx.join(hot, "shingle", "left_anti")
    sizes = dedup.doc_shingles(docs).select(
        "doc_id", F.size("hs").alias("n_sh")
    )
    expected = {
        (r["id1"], r["id2"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.0, index=cool, sizes=sizes
        ).collect()
    }
    assert capped == expected
    ids_a = {p[:2] for p in capped if p[0] < 3 and p[1] < 3}
    assert len(ids_a) == 3  # df==cap boundary kept: C(3,2) tier-A pairs


def test_simhash_near_dups(spark):
    docs = make_docs(spark)
    sig = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_signatures(docs).collect()
    }
    assert sig[1] == sig[4]  # identical text -> identical signature
    pairs = {
        (r["id1"], r["id2"]): r["hamming"]
        for r in dedup.simhash_near_dup_pairs(
            docs, max_hamming=10
        ).collect()
    }
    assert pairs[(1, 4)] == 0
    assert (1, 2) in pairs and pairs[(1, 2)] <= 10
    assert (1, 3) not in pairs and (2, 3) not in pairs and (3, 4) not in pairs


def test_zero_vector_cosine_is_null_not_nan(spark):
    """A zero-magnitude embedding must never surface as a near-dup (NaN
    sorts above every number in Spark, so an unguarded 0/0 would pass any
    >= threshold filter and top every ranking)."""
    v = [1.0, 0.0] * 32
    zero = [0.0] * 64
    emb = spark.createDataFrame(
        [(1, v), (2, v), (3, zero), (4, zero)],
        "vec_id long, embedding array<double>",
    )
    pairs = {
        (r["id1"], r["id2"])
        for r in dedup.embedding_near_dup_pairs(
            emb, threshold=0.9
        ).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p and 4 not in p for p in pairs)


def test_cosine_pairs_udf_matches_expression_and_null_contract(spark):
    """The Arrow-batched verify kernel must agree with the expression form
    (cosine_col) to float tolerance and share its NULL contract: NULL in,
    zero vector, or length mismatch -> NULL out (never NaN — NaN sorts
    above every number and would pass any >= threshold filter)."""
    import math
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)],
         [rng.uniform(-1, 1) for _ in range(8)])
        for i in range(50)
    ]
    rows += [
        (100, None, [1.0] * 8),          # NULL in
        (101, [0.0] * 8, [1.0] * 8),     # zero vector
        (102, [1.0] * 4, [1.0] * 8),     # length mismatch
    ]
    df = spark.createDataFrame(
        rows, "pid long, v1 array<double>, v2 array<double>"
    )
    got = df.select(
        "pid",
        dedup.cosine_pairs_udf()(F.col("v1"), F.col("v2")).alias("c_udf"),
        dedup.cosine_col(F.col("v1"), F.col("v2")).alias("c_expr"),
    ).collect()
    for r in got:
        if r["pid"] >= 100:
            assert r["c_udf"] is None and r["c_expr"] is None, r
        else:
            assert r["c_udf"] is not None
            assert not math.isnan(r["c_udf"])
            assert math.isclose(r["c_udf"], r["c_expr"], abs_tol=1e-12), r


def test_cosine_pairs_udf_batch_order_independent(spark):
    """A malformed (short) vector arriving FIRST in an Arrow batch must not
    poison the valid pairs behind it, and equal-length pairs of ANY length
    must be scored — matching cosine_col, which never looks at other rows.
    (Regression: the kernel once inferred the batch dim from the first
    non-null row and nulled every pair of a different length.)"""
    import math

    rows = [
        (0, [1.0] * 4, [1.0] * 8),     # malformed pair FIRST: len mismatch
        (1, [3.0] * 4, [3.0] * 4),     # valid at dim 4
        (2, [1.0, 2.0] * 32, [1.0, 2.0] * 32),  # valid at dim 64
        (3, [1.0] * 8, [2.0] * 8),     # valid at dim 8
    ]
    df = spark.createDataFrame(
        rows, "pid long, v1 array<double>, v2 array<double>"
    ).coalesce(1)  # one partition -> one Arrow batch, malformed row first
    got = {
        r["pid"]: (r["c_udf"], r["c_expr"])
        for r in df.select(
            "pid",
            dedup.cosine_pairs_udf()(F.col("v1"), F.col("v2")).alias("c_udf"),
            dedup.cosine_col(F.col("v1"), F.col("v2")).alias("c_expr"),
        ).collect()
    }
    assert got[0] == (None, None)
    for pid in (1, 2, 3):
        udf_val, expr_val = got[pid]
        assert udf_val is not None, f"pid {pid} nulled by batch poisoning"
        assert math.isclose(udf_val, expr_val, abs_tol=1e-12)


def test_simhash_pigeonhole_holds_above_three(spark):
    """max_hamming > 3 must still find every pair within the bound — the
    chunk count has to scale with the bound (4 fixed chunks would miss a
    pair with one differing bit in each chunk)."""
    from pyspark.sql import functions as F

    docs = make_docs(spark)
    sig = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_signatures(docs).collect()
    }
    h12 = bin(sig[1] ^ sig[2]).count("1")
    pairs = {
        (r["id1"], r["id2"])
        for r in dedup.simhash_near_dup_pairs(
            docs, max_hamming=max(h12, 4)
        ).collect()
    }
    assert (1, 2) in pairs  # found at its exact hamming distance
    assert (1, 4) in pairs


def test_simhash_128_exact_recall_and_low_word_identity(spark):
    """The 128-bit scale configuration must (a) keep the low signature
    word bit-identical to the 64-bit signature (same md5 words, same
    assembly — the widening adds bits, it doesn't re-hash), and (b) find
    EXACTLY the brute-force Hamming<=k pair set, including pairs whose
    only agreeing pigeonhole chunk straddles the 64-bit word boundary
    (chunk offsets are computed over 128 logical bits, so one chunk always
    spans bit 64 at max_hamming=6)."""
    import itertools

    docs = make_docs(spark)
    s64 = {
        r["doc_id"]: r["simhash"]
        for r in dedup.simhash_signatures(docs).collect()
    }
    s128 = {
        r["doc_id"]: (r["simhash"], r["simhash_hi"])
        for r in dedup.simhash_signatures(
            docs, bits=128
        ).collect()
    }
    assert {k: v[0] for k, v in s128.items()} == s64

    def ham(a, b):
        return bin((a[0] ^ b[0]) & (2**64 - 1)).count("1") + bin(
            (a[1] ^ b[1]) & (2**64 - 1)
        ).count("1")

    for mh in (6, 20):
        brute = {
            (i, j)
            for i, j in itertools.combinations(sorted(s128), 2)
            if ham(s128[i], s128[j]) <= mh
        }
        got = {
            (r["id1"], r["id2"]): r["hamming"]
            for r in dedup.simhash_near_dup_pairs(
                docs, max_hamming=mh, bits=128
            ).collect()
        }
        assert set(got) == brute, f"mh={mh}"
        for (i, j), h in got.items():
            assert h == ham(s128[i], s128[j])


def test_simhash_strategies_emit_identical_pairs(spark):
    """Pigeonhole chunk candidates and an exhaustive all-pairs scan must
    produce the IDENTICAL exact pair set (verification is exact; only the
    candidate generation differs) — on a richer corpus than make_docs so
    chunk agreement patterns actually vary, at both signature widths.
    Exact copies agree on every chunk yet come out once, at hamming 0."""
    import itertools

    rows = [(i, f"w{i % 7} common tokens here x{i} y{i % 3}") for i in range(40)]
    rows += [(100, rows[0][1]), (101, rows[1][1])]  # exact dups
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    mask = 2**64 - 1
    for mh, bits in ((3, 64), (6, 128)):
        sig = {
            r["doc_id"]: (
                r["simhash"] & mask,
                (r["simhash_hi"] & mask) if bits == 128 else 0,
            )
            for r in dedup.simhash_signatures(
                docs, bits=bits
            ).collect()
        }
        brute = {
            (i, j, bin(sig[i][0] ^ sig[j][0]).count("1")
             + bin(sig[i][1] ^ sig[j][1]).count("1"))
            for i, j in itertools.combinations(sorted(sig), 2)
        }
        brute = {p for p in brute if p[2] <= mh}
        got = [
            (r["id1"], r["id2"], r["hamming"])
            for r in dedup.simhash_near_dup_pairs(
                docs, mh, bits
            ).collect()
        ]
        assert len(got) == len(set(got)), (mh, bits)
        assert set(got) == brute, (mh, bits)
        assert (0, 100, 0) in got and (1, 101, 0) in got, (mh, bits)


def test_embedding_near_dups_planted(spark):
    v = [1.0, 0.0, 0.5, 0.2] * 16  # dim 64
    v_near = list(v)
    v_near[0] = 0.98
    v_far = [(-1.0) ** i * (i % 7) for i in range(64)]
    emb = spark.createDataFrame(
        [(1, v), (2, v_near), (3, v_far)],
        "vec_id long, embedding array<double>",
    )
    pairs = {
        (r["id1"], r["id2"]): r["cosine"]
        for r in dedup.embedding_near_dup_pairs(
            emb, threshold=0.95
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
    assert not any(3 in p for p in pairs)


def test_grouped_capped_path_matches_capped_join_form_on_skewed_corpora(
    spark, sf_dir
):
    """The grouped capped emission (size-carrying postings with the
    length filter) must be BIT-IDENTICAL to the join form over the
    cap-filtered index: same capped-Jaccard semantics (intersections over
    cool shingles, full sizes). Fixture + a heavy-tailed corpus (many df=1 shingles) + a
    boilerplate corpus where the cap actually bites."""
    import random

    from aws_snowflake_kinesis_airflow_pipeline_spark.catalog import load_table

    def rows_of(out):
        return sorted(tuple(r) for r in out.collect())

    def check(docs, threshold, cap):
        idx = dedup.shingle_index(docs)
        sizes = dedup.doc_shingles(docs).select(
            "doc_id", F.size("hs").alias("n_sh")
        )
        hot = (
            idx.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > cap)
            .select("shingle")
        )
        cool = idx.join(hot, "shingle", "left_anti")
        ref = rows_of(
            dedup.ngram_jaccard_pairs(
                docs, threshold=threshold,
                index=cool, sizes=sizes,
            )
        )
        sized = rows_of(
            dedup.ngram_jaccard_pairs(
                docs, threshold=threshold,
                max_doc_freq=cap,
            )
        )
        assert sized == ref
        return ref

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    assert check(docs, 0.8, 100)

    # heavy-tailed soup: a tiny shared core + mostly-unique long tails
    rng = random.Random(17)
    rows = []
    for i in range(80):
        core = " ".join(rng.choices(["the", "a", "of", "and"], k=3))
        tail = " ".join(f"u{i}x{j}" for j in range(rng.randint(5, 12)))
        rows.append((i, core + " " + tail))
    rows.append((200, "alpha beta gamma delta epsilon zeta eta theta"))
    rows.append((201, "alpha beta gamma delta epsilon zeta eta iota"))
    soup = spark.createDataFrame(rows, "doc_id long, text string")
    assert (200, 201) in {x[:2] for x in check(soup, 0.4, 50)}

    # cap bites: hot boilerplate shingles excluded from every intersection
    rows = [
        (i, "boiler plate header line " + " ".join(
            rng.choices([f"w{j}" for j in range(20)], k=8)))
        for i in range(40)
    ]
    hotdocs = spark.createDataFrame(rows, "doc_id long, text string")
    check(hotdocs, 0.3, 5)


def test_length_filter_survives_int32_scale_documents(spark):
    """The size-ratio prefilter multiplies shingle counts by 100000; with
    int32 operands a document beyond ~21474 shingles overflowed (ANSI
    mode: job-killing ARITHMETIC_OVERFLOW). Operands are cast to long —
    a giant doc plus a near-duplicate pair must come through exactly."""
    big = " ".join(f"tok{i}" for i in range(21600))
    rows = [
        (1, big),
        (2, "alpha beta gamma delta epsilon zeta"),
        (3, "alpha beta gamma delta epsilon zeta eta"),
    ]
    out = dedup.ngram_jaccard_pairs(
        spark.createDataFrame(rows, "doc_id long, text string"),
        threshold=0.8,
        max_doc_freq=100,
    ).collect()
    assert [(r["id1"], r["id2"]) for r in out] == [(2, 3)]


def test_exact_dedup_distinguishes_null_placement(spark):
    """xxhash64 skips NULL children structurally, so without explicit
    null-flag children the keys ('a', NULL) and (NULL, 'a') hash equal
    and exact_dedup silently merged distinct rows."""
    rows = [(1, "a", None), (2, None, "a"), (3, "a", None)]
    out = dedup.exact_dedup(
        spark.createDataFrame(rows, "id long, k1 string, k2 string"),
        key_cols=["k1", "k2"],
        id_col="id",
    )
    got = sorted((r["id"], r["k1"], r["k2"]) for r in out.collect())
    assert got == [(1, "a", None), (2, None, "a")]

