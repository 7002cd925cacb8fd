"""LLM-data-pipeline queries (SURVEY.md §2 Part B11-B13 + north-star ops):
dedup family, similarity search, text analysis, multimodal plumbing.

Oracle policy: every op whose fixture result is deterministic and
SQL-expressible gets DuckDB SQL — including the LSH near-dup flagships,
whose exact-verified candidates match exact-Jaccard ground truth (recall
is deterministically 1.0 on the fixtures, pinned by test). Rows-only is
reserved for genuinely non-SQL ops (the KMeans-backed IVF probe, whose
centroids are not SQL-derivable), with pytest coverage pinning recall.
SimHash (c4) graduated from rows-only to a full oracle by deriving its
token hash from md5 (portable across engines) instead of xxhash64; the
LSH ANN (c7) graduated by inlining its fixed hyperplanes as SQL
literals; FFD packing (c18) by making its partition hash md5-portable
and replaying first-fit-decreasing in a recursive CTE with list state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import text as TX
from ..operators import dedup, multimodal, pq, similarity
from ..operators.spread import spread
from .registry import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: documents parquet at test SFs is a single row group = one
    # scan task, serializing the regex/shingle-heavy per-row work of every
    # query below on one of 32 cores (measured 19 s -> 7 s on the sf1
    # text-feature pack alone). Self-disabling no-op once the input
    # arrives in >= core-count splits — i.e. at any real corpus size.
    return spread(load_table(spark, sf_dir, "documents"), "doc_id")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load_table(spark, sf_dir, "embeddings"), "vec_id")


# --------------------------------------------------------------------------
# Dedup family (B11)
# --------------------------------------------------------------------------


#: Portable-md5 bucket that derives the diff branch's "v2" snapshot from
#: the documents fixture — a pure function of doc_id, so both engines
#: name the same rows: bucket 0 dropped (removed), bucket 1 perturbed
#: (changed), bucket 2 re-added under a shifted id (added), rest kept.
_DIFF_SEED, _DIFF_ADD_SHIFT = 41, 2_000_000
_DIFF_FP_SQL = (
    "md5(TRIM(REGEXP_REPLACE(LOWER(COALESCE(text, CHR(0) || 'null' || CHR(0))), "
    "'\\s+', ' ', 'g')))"
)


@register(
    "c1_exact_dedup",
    oracle=f"""
    WITH bucketed AS (
      SELECT doc_id, text, lang,
             CAST(CONCAT('0x',
                    SUBSTR(md5(CONCAT('{_DIFF_SEED}:', CAST(doc_id AS VARCHAR))), 1, 8))
                  AS UBIGINT) % 10 AS b
      FROM documents
    ),
    v2 AS (
      SELECT doc_id,
             CASE WHEN b = 1 THEN text || ' v2marker' ELSE text END AS text
      FROM bucketed WHERE b <> 0
      UNION ALL
      SELECT doc_id + {_DIFF_ADD_SHIFT} AS doc_id, text
      FROM bucketed WHERE b = 2
    ),
    fpo AS (SELECT doc_id, {_DIFF_FP_SQL} AS fp FROM documents),
    fpn AS (SELECT doc_id, {_DIFF_FP_SQL} AS fp FROM v2)
    SELECT 'exact' AS branch, MIN(doc_id) AS doc_id, text AS payload,
           ARG_MIN(lang, doc_id) AS lang
    FROM (
      SELECT doc_id, text, lang FROM documents
      UNION ALL
      SELECT doc_id + 1099511627776 AS doc_id, text, lang FROM documents
    )
    GROUP BY text
    UNION ALL
    SELECT 'diff' AS branch, COALESCE(o.doc_id, n.doc_id) AS doc_id,
           CASE WHEN o.fp IS NULL THEN 'added'
                WHEN n.fp IS NULL THEN 'removed'
                WHEN o.fp <> n.fp THEN 'changed'
                ELSE 'unchanged' END AS payload,
           CAST(NULL AS VARCHAR) AS lang
    FROM fpo o FULL OUTER JOIN fpn n ON o.doc_id = n.doc_id
    """,
    survey_ref="§2 B11 exact dedup ('exact' branch: hash group-by, "
    "deterministic keeper) + §2 B41 corpus snapshot diff ('diff' branch: "
    "full-outer join on (id, normalized-content md5 fingerprint) vs a "
    "portable-md5-derived v2 of the fixture — per-id added/removed/"
    "changed/unchanged replayed bit-for-bit)",
)
def c1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged dedup-maintenance pack. 'exact' branch: exact dedup over a
    corpus with every doc duplicated (union of the fixture with an
    id-shifted copy) — keeps min doc_id per distinct text; payload = the
    distinct text. 'diff' branch (operators/diffing.py): corpus_diff of
    the fixture vs a deterministically derived v2 snapshot (portable-md5
    doc_id buckets: 0 removed, 1 text-perturbed, 2 cloned under a shifted
    id) — payload = per-id status, every id in either snapshot under the
    driver hash. Both branches are one key exchange each: groupBy(text)
    for exact, full-outer join on doc_id over (id, 16-byte fingerprint)
    projections for diff — the diff exchange never carries bodies."""
    from ..operators.diffing import corpus_diff
    from ..operators.sampling import shuffle_hash

    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    # Shift = 2^40: far beyond any fixture's doc_id range (the largest
    # derived scale fixture, .scale/sf1000docs, tops out near 5e7), so
    # the union's ids stay disjoint no matter how fixtures grow — a
    # colliding shift would silently violate the unique_ids precondition
    # below and the loser anti-join would drop/keep wrong rows.
    shifted = docs.withColumn("doc_id", F.col("doc_id") + (1 << 40))
    corpus = docs.union(shifted)
    # unique_ids: the union's ids are disjoint by construction (shift >
    # fixture max), so the narrow-exchange fast path applies — bodies
    # never shuffle; only (fingerprint, id) pairs do.
    out = dedup.exact_dedup(
        corpus, key_cols=["text"], id_col="doc_id", unique_ids=True
    )
    exact = out.select(
        F.lit("exact").alias("branch"),
        "doc_id",
        F.col("text").alias("payload"),
        "lang",
    )

    v1 = docs.select("doc_id", "text")
    bucketed = v1.withColumn(
        "_b", shuffle_hash(F.col("doc_id"), seed=_DIFF_SEED) % 10
    )
    v2 = (
        bucketed.filter(F.col("_b") != 0)
        .select(
            "doc_id",
            F.when(
                F.col("_b") == 1, F.concat(F.col("text"), F.lit(" v2marker"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            bucketed.filter(F.col("_b") == 2).select(
                (F.col("doc_id") + _DIFF_ADD_SHIFT).alias("doc_id"), "text"
            )
        )
    )
    diff = corpus_diff(v1, v2).select(
        F.lit("diff").alias("branch"),
        "doc_id",
        F.col("status").alias("payload"),
        F.lit(None).cast("string").alias("lang"),
    )
    return exact.unionByName(diff)


def exact_jaccard_pairs_ctes(
    docs_src: str = "SELECT doc_id, text FROM documents",
) -> str:
    """The exact-Jaccard ≥0.8 pair CTE chain over ``docs_src`` (any SQL
    source yielding (doc_id, text)) ending in a ``jpairs`` relation —
    shared by the c2/c16 oracles (over the plain fixture) and the c17
    leakage branch (fixture + planted clone groups)."""
    return f"""
    toks AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'), x -> x <> '') AS t
      FROM ({docs_src})
    ),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
      WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS m
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jpairs AS (
      SELECT id1, id2,
             ROUND(m * 1.0 / (s1.n + s2.n - m), 4) AS jaccard
      FROM inter
      JOIN sizes s1 ON id1 = s1.doc_id
      JOIN sizes s2 ON id2 = s2.doc_id
      WHERE ROUND(m * 1.0 / (s1.n + s2.n - m), 4) >= 0.8
    )"""


_EXACT_JACCARD_PAIRS_SQL = f"""
    WITH {exact_jaccard_pairs_ctes()}
    SELECT id1, id2, jaccard FROM jpairs
"""

#: Seed of the portable-md5 half split the c2 'incremental' branch uses to
#: partition documents into (indexed corpus, new batch).
_INC_SEED = 17


def _build_index_dir(kind: str, build) -> str:
    """Per-invocation index directory under the system temp root.

    The c2/c5 'incremental' branches' declared computation includes
    building the index in-query, so EVERY plan construction rebuilds it
    from the fixture inputs into a fresh ``mkdtemp`` — no reuse across
    reps, branch splits, or processes (a fixture-keyed cache here would
    be persisted-intermediate precomputation, not optimization; round
    12's verdict flagged exactly that). The returned plan reads these
    parquet files lazily, so the directory must outlive the caller's
    collect: it is removed at interpreter exit instead of eagerly. The
    probe-vs-lifecycle split stays visible through bench.py's
    'incremental' branch timing."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=f"spark_graft_{kind}_idx_")
    build(path)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


@register(
    "c2_minhash_lsh_near_dups",
    oracle=f"""
    WITH {exact_jaccard_pairs_ctes()},
    half AS (
      SELECT doc_id,
             CAST(CONCAT('0x',
                    SUBSTR(md5(CONCAT('{_INC_SEED}:', CAST(doc_id AS VARCHAR))), 1, 8))
                  AS UBIGINT) % 2 AS h
      FROM documents
    )
    SELECT 'pairs' AS branch, id1, id2, jaccard FROM jpairs
    UNION ALL
    SELECT 'incremental' AS branch, p.id1, p.id2, p.jaccard
    FROM jpairs p
    JOIN half h1 ON p.id1 = h1.doc_id
    JOIN half h2 ON p.id2 = h2.doc_id
    WHERE NOT (h1.h = 0 AND h2.h = 0)
    """,
    survey_ref="§2 B11 MinHash+LSH near-dup (shingle→minhash→band→bucket "
    "join); oracle = the exact-Jaccard pair set, which the LSH path must "
    "reproduce because candidates are exact-verified and banded recall on "
    "the fixture is deterministically 1.0 (pinned by "
    "test_minhash_matches_exact_jaccard_on_fixture) + §2 B22 incremental "
    "MinHash-index dedup ('incremental' branch: persist the index for a "
    "portable-md5-selected half, probe with the other half — the probe's "
    "pair set must equal every exact-Jaccard pair with >=1 endpoint in "
    "the batch half, i.e. the reference's hourly NOT-IN dedup lifted to "
    "near-dup granularity, value-checked end-to-end)",
)
def c2_minhash_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged near-dup pack. 'pairs' branch: LSH near-dup pairs over the
    full fixture, hash-checked against ground truth — false positives are
    impossible (every candidate is exact-verified) and the 16x4 banding's
    miss probability at jaccard 0.8 is ~2e-4 per pair under deterministic
    hashing; zero misses on the fixtures (verified at sf0.01 and sf0.1),
    so the oracle is the plain exact-Jaccard SQL.

    'incremental' branch (operators/incremental.py, B22): the persisted-
    index lifecycle run INSIDE the query — write the MinHash index
    (band-bucket store + hive-bucketed shingle sets) for the portable-md5
    half-0 documents to a temp path, then probe it with the half-1 batch.
    The probe's pairs (batch-vs-corpus via the broadcast bucket join +
    batch-vs-batch via grouped emission) must equal the exact-Jaccard
    pairs with at least one endpoint in the batch — the same recall
    argument as the 'pairs' branch, now through the on-disk index and
    partition-pruned set fetches. This is the reference's hourly
    INSERT..NOT IN dedup (airflow/dags/snowflake_data_pipeline.py:128-146)
    lifted to near-dup granularity, as a fully value-checked driver row.
    """
    from ..operators import incremental
    from ..operators.sampling import shuffle_hash

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.8)
    pairs_branch = pairs.select(
        F.lit("pairs").alias("branch"), "id1", "id2", "jaccard"
    )

    half = shuffle_hash(F.col("doc_id"), seed=_INC_SEED) % 2
    indexed = docs.filter(half == 0)
    batch = docs.filter(half == 1)
    # Fresh per-invocation index (see _build_index_dir): the write→probe
    # lifecycle is the declared computation, so every rep pays it — the
    # bench's 'incremental' branch split reports the probe share.
    path = _build_index_dir(
        "c2",
        lambda p: incremental.write_minhash_index(
            indexed, p
        ),
    )
    inc = incremental.incremental_near_dup_pairs(
        spark, batch, path
    )
    inc_branch = inc.select(
        F.lit("incremental").alias("branch"), "id1", "id2", "jaccard"
    )
    return pairs_branch.unionByName(inc_branch).orderBy(
        "branch", "id1", "id2"
    )


@register(
    "c3_ngram_jaccard_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'), x -> x <> '') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
      WHERE len(t) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    hot AS (
      SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > 100
    ),
    cool AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
    inter AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS m
      FROM cool a JOIN cool b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id1, id2,
           ROUND(m * 1.0 / (s1.n + s2.n - m), 4) AS jaccard
    FROM inter
    JOIN sizes s1 ON id1 = s1.doc_id
    JOIN sizes s2 ON id2 = s2.doc_id
    WHERE ROUND(m * 1.0 / (s1.n + s2.n - m), 4) >= 0.8
    """,
    survey_ref="§2 B11 exact n-gram Jaccard via inverted shingle index, "
    "with the hot-shingle cap engaged (the 100 TB blowup guard)",
)
def c3_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_doc_freq=100: shingles shared by >100 documents are dropped from
    the *pairing* side (a boilerplate shingle generates O(df^2) candidate
    pairs and carries no dedup signal); sizes still count every shingle.
    The oracle implements the identical guard, so this is the shipped
    scale configuration under the exactness check — not an unguarded
    oracle twin."""
    return dedup.ngram_jaccard_pairs(
        _docs(spark, sf_dir), k=3, threshold=0.8,
        max_doc_freq=100,
    )


# SimHash oracle: recompute the md5-derived 64-bit signature per document
# in SQL (same hi/lo word convention as operators/dedup.py::
# simhash_signatures), then take ALL pairs with Hamming <= 6 — the oracle
# is the brute-force ground truth, so this also re-proves the pigeonhole
# candidate generation loses nothing. The bit-vote sums and the
# two's-complement signature assembly are generated here rather than
# hand-written. The registered query runs the 128-bit scale configuration
# (18-bit pigeonhole chunks at max_hamming=6 — the signature width IS the
# candidate-volume knob, see dedup.simhash_near_dup_pairs); the 64-bit
# generators are kept for the signature fuzz test.
_SIMHASH_SUMS = ", ".join(
    f"SUM(CASE WHEN (({'lo' if j < 32 else 'hi'} >> {j % 32}) & 1) = 1 "
    f"THEN 1 ELSE -1 END) AS s{j}"
    for j in range(64)
)


def _simhash_sig_sql(lo_bit: int) -> str:
    """Two's-complement BIGINT assembly of sign-votes s{lo_bit}..s{lo_bit+63}
    (bit 63 of a signed long contributes its negative place value)."""
    return " + ".join(
        f"CASE WHEN s{lo_bit + j} > 0 THEN "
        f"{-(1 << 63) if j == 63 else (1 << j)} ELSE 0 END"
        for j in range(64)
    )


_SIMHASH_SIG = _simhash_sig_sql(0)

#: 32-bit hash words of the full md5: w{i} holds logical bits [32i, 32i+32).
#: Hex-char starts mirror dedup._SIMHASH_WORD_HEX_START exactly.
_SIMHASH_WORDS128 = ", ".join(
    f"CAST(CONCAT('0x', SUBSTR(md5(token), {start}, 8)) AS BIGINT) AS w{w}"
    for w, start in enumerate((9, 1, 25, 17))
)
_SIMHASH_SUMS128 = ", ".join(
    f"SUM(CASE WHEN ((w{j // 32} >> {j % 32}) & 1) = 1 "
    f"THEN 1 ELSE -1 END) AS s{j}"
    for j in range(128)
)
_SIMHASH_HAMMING128 = (
    "BIT_COUNT(XOR(a.sig_lo, b.sig_lo)) + BIT_COUNT(XOR(a.sig_hi, b.sig_hi))"
)
_SIMHASH_PAIRS_SQL = f"""
    WITH toks AS (
      SELECT doc_id,
             UNNEST(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'),
                                x -> x <> '')) AS token
      FROM documents
    ),
    words AS (SELECT doc_id, {_SIMHASH_WORDS128} FROM toks),
    sums AS (SELECT doc_id, {_SIMHASH_SUMS128} FROM words GROUP BY doc_id),
    sig AS (
      SELECT doc_id,
             CAST({_simhash_sig_sql(0)} AS BIGINT) AS sig_lo,
             CAST({_simhash_sig_sql(64)} AS BIGINT) AS sig_hi
      FROM sums
    )
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST({_SIMHASH_HAMMING128} AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE {_SIMHASH_HAMMING128} <= 6
    ORDER BY id1, id2
"""


@register(
    "c4_simhash_near_dups",
    oracle=_SIMHASH_PAIRS_SQL,
    survey_ref="§2 B11 SimHash near-dup (chunk pigeonhole + Hamming "
    "verify) at the 128-bit scale configuration; oracle = brute-force "
    "all-pairs Hamming over the identical md5-derived signature, so "
    "candidate recall is proven exhaustive",
)
def c4_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature hashing is md5-derived (engine-portable — see
    simhash_signatures), so the oracle recomputes the exact 128-bit
    signatures and the exact pair set: a full bit-for-bit check of an
    op that was rows-only when it hashed with xxhash64. bits=128 is the
    shipped scale configuration: pigeonhole chunks are 18 bits wide at
    max_hamming=6, so unrelated-chunk collisions (the quadratic term a
    64-bit signature suffers at corpus scale) drop ~512x."""
    return (
        dedup.simhash_near_dup_pairs(
            _docs(spark, sf_dir), max_hamming=6, bits=128
        )
        .withColumn("hamming", F.col("hamming").cast("int"))
        .orderBy("id1", "id2")
    )


@register(
    "c5_embedding_near_dups",
    oracle=f"""
    WITH planted AS (
      SELECT vec_id AS v,
             CAST(CONCAT('0x',
                    SUBSTR(md5(CONCAT('{_INC_SEED}:', CAST(vec_id AS VARCHAR))), 1, 8))
                  AS UBIGINT) % 2 AS h1,
             CAST(CONCAT('0x',
                    SUBSTR(md5(CONCAT('{_INC_SEED}:', CAST(vec_id + 1000000 AS VARCHAR))), 1, 8))
                  AS UBIGINT) % 2 AS h2
      FROM embeddings WHERE vec_id < 10
    )
    SELECT 'pairs' AS branch, v AS id1, v + 1000000 AS id2,
           CAST(1.0 AS DOUBLE) AS cosine
    FROM planted
    UNION ALL
    SELECT 'incremental', v, v + 1000000, CAST(1.0 AS DOUBLE)
    FROM planted WHERE NOT (h1 = 0 AND h2 = 0)
    ORDER BY branch, id1
    """,
    survey_ref="§2 B11 embedding-cosine near-dup (hyperplane LSH + exact "
    "verify) over planted exact duplicates + §2 B24 incremental "
    "embedding-LSH dedup ('incremental' branch: persist the hyperplane "
    "index for the portable-md5-selected half-0 vectors, probe with the "
    "half-1 batch — the probe's pair set must equal every planted pair "
    "with >=1 endpoint in the batch half, the B22 lifecycle transferred "
    "to the cosine store, value-checked end-to-end)",
)
def c5_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged embedding near-dup pack. 'pairs' branch: near-dup pairs over
    the fixture plus 10 planted exact copies (vec_id + 1e6). The fixture's
    vectors are near-orthogonal (zero pairs >= 0.9 — an unplanted run
    verified nothing), while an identical copy lands in the same bucket of
    *every* LSH table and verifies at cosine exactly 1.0 — so recall on
    the planted pairs is deterministic and the full pair set is
    oracle-checkable.

    'incremental' branch (operators/incremental.py, B24): the persisted
    embedding-index lifecycle run INSIDE the query — write the hyperplane
    bucket + vector store for the portable-md5 half-0 vectors (fresh per
    invocation, see _build_index_dir), then probe it with the half-1
    batch. Recall on the planted pairs stays deterministic through the
    store: an identical copy buckets identically under the index's OWN
    persisted hyperplanes whichever half it lands in, so the probe's pair
    set must equal the planted pairs with >=1 batch endpoint — the c2
    'incremental' value-check transferred to the cosine store."""
    from ..operators import incremental
    from ..operators.sampling import shuffle_hash

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    planted = emb.filter(F.col("vec_id") < 10).withColumn(
        "vec_id", F.col("vec_id") + 1000000
    )
    all_v = emb.unionByName(planted)
    pairs_branch = dedup.embedding_near_dup_pairs(
        all_v, threshold=0.9
    ).select(F.lit("pairs").alias("branch"), "id1", "id2", "cosine")

    half = shuffle_hash(F.col("vec_id"), seed=_INC_SEED) % 2
    corpus = all_v.filter(half == 0)
    batch = all_v.filter(half == 1)
    path = _build_index_dir(
        "c5",
        lambda p: incremental.write_embedding_index(
            corpus, p
        ),
    )
    inc = incremental.incremental_embedding_near_dups(
        spark, batch, path
    )
    inc_branch = inc.select(
        F.lit("incremental").alias("branch"), "id1", "id2", "cosine"
    )
    return pairs_branch.unionByName(inc_branch).orderBy(
        "branch", "id1", "id2"
    )


# --------------------------------------------------------------------------
# Similarity search (B12)
# --------------------------------------------------------------------------

_QUERY_VEC_ID = 0


_BRUTE_TOPK_SQL = f"""
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(
             CAST(e.embedding AS DOUBLE[]),
             (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings
              WHERE vec_id = {_QUERY_VEC_ID})
           ), 4) AS cosine
    FROM embeddings e
    WHERE e.vec_id <> {_QUERY_VEC_ID}
    ORDER BY cosine DESC, e.vec_id
    LIMIT 10
"""


# LSH ANN oracle: the hyperplanes for (dim=64, n_bits=8, seed=42) are
# fixed constants, so they are inlined as DOUBLE[] literals and DuckDB
# recomputes every vector's sign bucket, the query's probe set (own bucket
# + all Hamming-1 neighbors), and the exact cosine top-k within the probed
# subset — the bucket arithmetic (dot > 0 -> bit b -> +2^b) mirrors
# operators/similarity.py::_bucket_of / hyperplane_buckets_udf bit for bit
# (float64 summation-order divergence would need |dot| ~ 1e-15; verified
# zero bucket mismatches across both fixture SFs).
def _lsh_bucket_sql_expr() -> str:
    planes = dedup._hyperplanes(dim=64, n_bits=8, seed=42)
    terms = []
    for b, p in enumerate(planes):
        lit = "[" + ",".join(repr(x) for x in p) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"{lit}) > 0 THEN {1 << b} ELSE 0 END)"
        )
    return " + ".join(terms)


_LSH_TOPK_SQL = f"""
    WITH buckets AS (
      SELECT vec_id, embedding, {_lsh_bucket_sql_expr()} AS bucket
      FROM embeddings
    ),
    q AS (
      SELECT bucket, CAST(embedding AS DOUBLE[]) AS qv
      FROM buckets WHERE vec_id = {_QUERY_VEC_ID}
    ),
    probes AS (
      SELECT (SELECT bucket FROM q) AS pb
      UNION ALL
      SELECT xor((SELECT bucket FROM q), 1 << b) FROM range(8) t(b)
    )
    SELECT b.vec_id,
           ROUND(list_cosine_similarity(CAST(b.embedding AS DOUBLE[]),
                                        (SELECT qv FROM q)), 4) AS cosine
    FROM buckets b
    WHERE b.bucket IN (SELECT pb FROM probes) AND b.vec_id <> {_QUERY_VEC_ID}
    ORDER BY cosine DESC, b.vec_id
    LIMIT 10
"""


@register(
    "c6_cosine_topk_pack",
    oracle=f"""
    SELECT 'exact' AS branch, vec_id, cosine FROM ({_BRUTE_TOPK_SQL})
    UNION ALL
    SELECT 'lsh', vec_id, cosine FROM ({_LSH_TOPK_SQL})
    """,
    survey_ref="§2 B12 cosine top-k pack: brute-force exact baseline "
    "('exact' branch) and LSH-bucketed ANN scale path ('lsh' branch, "
    "probe ≈9/256 of data) over the same query vector; the LSH oracle "
    "inlines the fixed hyperplanes and recomputes bucket assignment, "
    "probe set, and probed-subset exact top-k in SQL",
)
def c6_cosine_topk_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact baseline and ANN scale path side by side, tagged. The 'exact'
    branch scans every vector (TakeOrderedAndProject: per-partition top-10,
    driver merge — no global sort). The 'lsh' branch probes only the query
    bucket + Hamming-1 neighbors; approximate, but deterministically so:
    the probed subset is a pure function of the fixed hyperplanes, so the
    oracle reproduces the identical result rows (the c4 playbook, applied
    to ANN). One driver row checks both, and checks them against each
    other: any exact/lsh divergence beyond the probed subset shows up as a
    hash mismatch."""
    emb = _emb(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == _QUERY_VEC_ID).first()["embedding"]
    exact = similarity.brute_force_topk(
        emb, list(qvec), k=10, exclude_ids=[_QUERY_VEC_ID]
    ).select(F.lit("exact").alias("branch"), "vec_id", "cosine")
    lsh = similarity.lsh_topk(
        emb,
        list(qvec),
        probe_hamming=1,
        exclude_ids=[_QUERY_VEC_ID],
    ).select(F.lit("lsh").alias("branch"), "vec_id", "cosine")
    return exact.unionByName(lsh)


#: The planted needle: an exact copy of the query vector under a fresh id.
#: IVF must return it at RANK 1 — an identical vector lands in the query's
#: own (always-probed) cell and true cosine 1.0 is unbeatable, on ANY
#: corpus. PQ's guarantee is deliberately weaker — IN the top-k: ADC ranks
#: by the score of each document's own quantization, and another document's
#: codes can in principle reconstruct marginally better-aligned than the
#: needle's, so rank 1 is near-certain but not a theorem; top-k admission
#: of an exact duplicate is the honest quantization-robust invariant.
#: Recall@k itself is unboundable tightly here: on the isotropic synthetic
#: embeddings it is inherently ~scan-fraction (the top-10 of a noise corpus
#: is itself noise); the loose floor below documents that reality, while
#: test_clustering_ivf/test_pq pin >= 0.9 recall on clustered fixtures
#: where neighbors are real.
_NEEDLE_ID = -1
_C15_RECALL_FLOOR = 0.2


@register(
    "c15_cosine_topk_ivf",
    oracle=f"""
    SELECT 'ivf' AS op, CAST(10 AS BIGINT) AS n_results,
           TRUE AS needle_ok, TRUE AS recall_ok
    UNION ALL
    SELECT 'pq', CAST(10 AS BIGINT), TRUE, TRUE
    UNION ALL
    SELECT 'semdedup', CAST(4 AS BIGINT), TRUE, TRUE
    """,
    survey_ref="§2 B12 IVF ANN (KMeans cells, probe n nearest — scan "
    "fraction n_probe/n_clusters) + §2 B32 product quantization (ADC "
    "top-k over m-byte codes, JVM-only scoring) + §2 B39 SemDeDup "
    "cluster-scoped dedup (planted one-hot original/clone pairs: exact "
    "duplicates share a k-means cell STRUCTURALLY, so the min-id "
    "originals must survive and the clones must drop; precision rides "
    "as a JVM recheck of every emitted pair's cosine against the numpy "
    "kernel), one tagged pack; the oracle bounds per-branch summary "
    "booleans (b8 sketch-band pattern): the planted exact-duplicate "
    "needle must come back at rank 1 (ivf — true cosine 1.0 is "
    "unbeatable) / in the top-k (pq — ADC rank 1 is not a theorem under "
    "quantization), and recall@10 vs the exact scan must clear the "
    "documented floor",
)
def c15_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF and PQ ANN over embeddings + a planted needle, reduced to the
    oracle-boundable summary: (n_results, needle_ok, recall_ok) per
    branch. Detail rows (ids + scores) stay available through the
    operators and the c6 exact/LSH pack; here the driver hash pins the
    invariants approximation cannot excuse — result cardinality, retrieval
    of a planted exact duplicate (rank 1 for IVF, top-k admission for PQ
    — see the needle note above), and a recall floor vs the brute-force
    scan computed in the same plan (10-row frames joined, no driver-side
    comparison).

    ONE k-means fit + ONE assignment pass serve both the ivf and semdedup
    branches (round-9 consolidation): the index is built over base ∪
    needle ∪ semdedup plants at the semdedup granularity (cells ≈
    corpus/500), the ivf probe widens n_probe to keep the probed fraction
    at the historical 3/8, and the plants join the query vector on the
    exclude list so the ANN branches' result sets are plant-free. The
    assigned corpus is pinned with one lazy localCheckpoint: every pass
    below (exact scan, ivf probe, per-cell semdedup, PQ fit/encode, pair
    join-backs) reads the materialized (id, vector, cell) blocks, so the
    parquet is scanned once and the assignment UDF runs once instead of
    once per consumer (three Python passes measured in the final action
    before the pin). localCheckpoint caveat (operators/lm.py note): non-
    replicated, lineage-truncated — on clusters with preemption, swap for
    reliable checkpoint()/replicated persist."""
    base = _emb(spark, sf_dir).select("vec_id", "embedding")
    qvec = [
        float(x)
        for x in base.filter(F.col("vec_id") == _QUERY_VEC_ID).first()[
            "embedding"
        ]
    ]
    # coalesce(1): a tiny local-data frame otherwise materializes with
    # defaultParallelism partitions, and every union below drags those
    # empty partitions through EVERY downstream stage (measured: the c15
    # pack ran 96-task stages on 2 k rows; ~1/3 of its sf0.1 wall clock
    # was scheduling empty tasks). repartition, NOT coalesce: coalescing a
    # local relation plans one task that pulls all parent partitions from
    # the driver serially (measured 3.5 s per action); the 1-row exchange
    # is free.
    needle = spark.createDataFrame(
        [(_NEEDLE_ID, qvec)], "vec_id long, embedding array<float>"
    ).repartition(1)
    emb = base.unionByName(needle)
    plants = spark.createDataFrame(
        [
            (pid, [1.0 if j == coord else 0.0 for j in range(64)])
            for pid, coord in _SEM_PLANTS
        ],
        "vec_id long, embedding array<float>",
    ).repartition(1)
    # Materialized once (see docstring); lazy — the count below is the
    # first action and builds the blocks inside its own job (one
    # scheduling round instead of two), then reads them for free.
    all_in = emb.unionByName(plants).localCheckpoint(eager=False)
    # One bounded count: the SemDeDup cells-per-rows knob (paper's
    # granularity rule) now also sizes the shared index.
    n_clusters = max(16, all_in.count() // 500)
    exclude = [_QUERY_VEC_ID] + [pid for pid, _ in _SEM_PLANTS]
    # 20k-row fit samples: the centroids / 16-code-per-4-dim PQ books
    # converge far below that, and the orderBy(hash).limit sample draw
    # ships max_fit_rows rows PER PARTITION to the driver merge — at sf10
    # the 100k default made the two fits 23 s of a 27 s query (A/B in
    # BASELINE.md round-5 notes).
    model, indexed0 = similarity.ivf_index(
        all_in, n_clusters=n_clusters, max_fit_rows=20_000
    )
    # One assignment pass total: ivf probe and the semdedup per-cell
    # exchange both read these blocks. Lazy: the blocks build inside the
    # semdedup components' first convergence count (the next action),
    # overlapping with the per-cell kernel stages, instead of as a
    # standalone job the driver waits on.
    indexed = indexed0.localCheckpoint(eager=False)
    # PLAN-LAYER-ONLY ground truth: this O(corpus) brute-force scan exists
    # solely so the registered query can reduce to oracle-boundable recall
    # booleans. It must NEVER leak into the operator API — ivf_topk /
    # pq_topk stay O(probed cells) and never compute an exact scan
    # (pinned by test_operator_api_never_triggers_exact_scan).
    exact = similarity.brute_force_topk(
        all_in, qvec, k=10, exclude_ids=exclude
    ).select(F.col("vec_id").alias("exact_id"))
    # Probe the same fraction of the corpus the historical 3-of-8 setting
    # scanned, independent of the shared index's cell count.
    n_probe = max(3, round(n_clusters * 3 / 8))
    ivf = similarity.ivf_topk(
        model,
        indexed,
        qvec,
        k=10,
        n_probe=n_probe,
        exclude_ids=exclude,
    ).select(F.lit("ivf").alias("op"), "vec_id", F.col("cosine").alias("score"))
    # PQ reads the same checkpointed blocks, minus the plants — its input
    # (base ∪ needle) and therefore its codebooks are unchanged by the
    # shared-index consolidation.
    emb_ck = all_in.filter(
        ~F.col("vec_id").isin([pid for pid, _ in _SEM_PLANTS])
    ).select("vec_id", "embedding")
    pq_model = pq.pq_fit(
        emb_ck, m=16, n_codes=16, dim=64, max_fit_rows=20_000
    )
    encoded = pq.pq_encode(emb_ck, pq_model)
    quant = pq.pq_topk(
        pq_model,
        encoded,
        qvec,
        k=10,
        exclude_ids=exclude,
    ).select(
        F.lit("pq").alias("op"), "vec_id", F.col("adc_cosine").alias("score")
    )
    detail = ivf.unionByName(quant)
    ranked = detail.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("op").orderBy(
                F.col("score").desc(), F.col("vec_id")
            )
        ),
    )
    ann = (
        ranked.join(exact, ranked["vec_id"] == exact["exact_id"], "left")
        .groupBy("op")
        .agg(
            F.count("*").cast("long").alias("n_results"),
            F.max(
                (F.col("vec_id") == _NEEDLE_ID)
                & ((F.col("op") == "pq") | (F.col("rk") == 1))
            ).alias("needle_ok"),
            (
                F.count("exact_id") / F.lit(10.0) >= F.lit(_C15_RECALL_FLOOR)
            ).alias("recall_ok"),
        )
    )
    return ann.unionByName(_semdedup_branch(all_in, indexed))


#: (vec_id, one-hot coordinate) plants for the semdedup branch. Negative
#: ids can't collide with fixture ids at any SF. Originals are MORE
#: negative than their clones, so min-id survivorship must keep exactly
#: the originals; -200 is an isolated probe in no duplicate pair (and,
#: being the global min id, it survives even if some fixture vector
#: unexpectedly matched it — the check cannot false-fail on data drift).
_SEM_PLANTS = [
    (-200, 10),
    (-103, 0),
    (-102, 1),
    (-101, 2),
    (-53, 0),
    (-52, 1),
    (-51, 2),
]
_SEM_SURVIVORS = [-200, -103, -102, -101]
_SEM_THRESHOLD = 0.95


def _cos_expr(a, b):
    """Exact JVM cosine of two float arrays (whole-stage codegen; the
    1.5e-4 slack at the call sites absorbs float32-vs-float64 accumulation
    order differences vs the numpy kernel)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    sq = lambda v: F.aggregate(  # noqa: E731
        F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x
    )
    return dot / (F.sqrt(sq(a)) * F.sqrt(sq(b)))


def _semdedup_branch(sem_in: DataFrame, indexed: DataFrame) -> DataFrame:
    """B39 SemDeDup reduced to the c15 summary schema (op, n_results,
    needle_ok, recall_ok).

    * needle_ok — survivor-policy check on planted one-hot vectors:
      identical vectors share a k-means cell STRUCTURALLY (assignment is
      a pure function of the vector), so each (original, clone) pair is
      always found and min-id survivorship must keep exactly
      ``_SEM_SURVIVORS``; n_results counts them (4).
    * recall_ok — precision recheck: every pair the numpy kernel emitted
      is re-scored in the JVM (two independent cosine implementations)
      and must sit within 1.5e-4 of the reported cosine and above
      threshold − 1.5e-4. Pair volume is near-dup-sized, so the two
      join-backs to the corpus are broadcast-small.

    ``sem_in``/``indexed`` come from the pack's SHARED ivf_index (one fit,
    one assignment, cells ≈ corpus/500 — the SemDeDup paper's knob); the
    planted checks are clustering-independent, so sharing cannot perturb
    the oracle row. sem_in now also carries the ANN needle (an exact clone
    of the query vector) — it simply contributes one more rechecked pair
    and is not a planted id, so neither boolean can see it.
    """
    from ..operators import semdedup

    # Pairs feed both the survivor derivation and the precision recheck;
    # tens of rows — checkpoint so the per-cell kernel pass runs once,
    # lazily: connected_components' own build-time actions materialize it
    # (an eager checkpoint here measured as one redundant extra job).
    pairs = semdedup.semantic_dedup_pairs(
        sem_in,
        threshold=_SEM_THRESHOLD,
        indexed=indexed,
    ).localCheckpoint(eager=False)
    survivors = semdedup.semantic_dedup(sem_in, pairs)
    planted_status = survivors.filter(
        F.col("vec_id").isin([pid for pid, _ in _SEM_PLANTS])
    ).agg(
        F.count("*").cast("long").alias("n_results"),
        (
            F.sort_array(F.collect_list("vec_id"))
            == F.array(*[F.lit(v).cast("long") for v in sorted(_SEM_SURVIVORS)])
        ).alias("needle_ok"),
    )
    v1 = sem_in.select(
        F.col("vec_id").alias("id1"), F.col("embedding").alias("_v1")
    )
    v2 = sem_in.select(
        F.col("vec_id").alias("id2"), F.col("embedding").alias("_v2")
    )
    recheck = (
        F.broadcast(pairs)
        .join(v1, "id1")
        .join(v2, "id2")
        .select(
            _cos_expr(F.col("_v1"), F.col("_v2")).alias("_re"),
            F.col("cosine"),
        )
        .agg(
            F.coalesce(
                F.sum(
                    (
                        (F.abs(F.col("_re") - F.col("cosine")) > 1.5e-4)
                        | (F.col("_re") < _SEM_THRESHOLD - 1.5e-4)
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("_bad")
        )
    )
    # 1x1 scalar combine (documented engine precedent, relational.py).
    return planted_status.crossJoin(recheck).select(
        F.lit("semdedup").alias("op"),
        "n_results",
        "needle_ok",
        (F.col("_bad") == 0).alias("recall_ok"),
    )


@register(
    "c16_near_dup_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE pairs AS ({_EXACT_JACCARD_PAIRS_SQL}),
    edges AS (
      SELECT id1 AS a, id2 AS b FROM pairs
      UNION
      SELECT id2 AS a, id1 AS b FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM edges
      UNION
      SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    dropped AS (
      SELECT a AS doc_id FROM reach GROUP BY a HAVING MIN(b) < a
    )
    SELECT doc_id, lang FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    ORDER BY doc_id
    """,
    survey_ref="§2 B11 end-to-end near-dup removal (LSH pairs → connected "
    "components → min-id survivor); oracle clusters the exact-Jaccard "
    "pair set with a recursive-CTE transitive closure and keeps each "
    "component's min id — valid because LSH recall on the fixture is "
    "deterministically 1.0 (same argument as c2)",
)
def c16_near_dup_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    survivors = dedup.near_dup_dedup(docs, threshold=0.8)
    return survivors.select("doc_id", "lang").orderBy("doc_id")


# --------------------------------------------------------------------------
# Text analysis (B13 extended)
# --------------------------------------------------------------------------

#: Hostile wrapper planted around every (pure-ASCII) fixture document for
#: the c8 unicode-normalization columns: curly quotes (punct translate),
#: tab + space runs (collapse), a ligature and full-width letters/digits
#: (NFKC folds), a zero-width space (Cf strip) and a BEL control byte (Cc
#: strip). The oracle replays the pipeline with the NFKC folds of the
#: planted forms inlined as literals (DuckDB has no NFKC builtin; the
#: fold itself is pinned against unicodedata in tests/test_normalize.py).
_NORM_PREFIX = "  \u201c"
_NORM_SUFFIX = "\u201d\t\ufb01\uff21\uff22\uff23\uff11\uff12\uff13\u200b\x07  "


@register(
    "c8_text_features",
    oracle="""
    WITH toks AS (
      SELECT doc_id, text,
             LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'), x -> x <> '') AS t,
             LIST_FILTER(STRING_SPLIT_REGEX(LOWER(COALESCE(text, '')), '\\s+'),
                         x -> x <> '') AS lt
      FROM documents
    ),
    -- LM fit sample: the 200 smallest doc ids under the portable md5
    -- permutation (seed 0) — the exact draw bigram_lm_scores(max_fit_docs)
    -- makes, so the model (vocab + counts) is replayed from the SAMPLE
    -- while every document is scored.
    fit AS (
      SELECT doc_id, lt FROM toks
      ORDER BY CAST(CONCAT('0x',
                 SUBSTR(md5(CONCAT('0:', CAST(doc_id AS VARCHAR))), 1, 8))
               AS UBIGINT),
               doc_id
      LIMIT 200
    ),
    uni AS (
      SELECT u.w AS w, COUNT(*) AS c FROM fit, UNNEST(lt) AS u(w) GROUP BY 1
    ),
    vocab AS (SELECT w FROM uni ORDER BY c DESC, w LIMIT 64),
    nv AS (SELECT COUNT(*) AS v FROM vocab),
    fbi AS (
      SELECT CASE WHEN lt[i.i] IN (SELECT w FROM vocab)
                  THEN lt[i.i] ELSE CHR(1) END AS w1,
             CASE WHEN lt[i.i + 1] IN (SELECT w FROM vocab)
                  THEN lt[i.i + 1] ELSE CHR(1) END AS w2
      FROM fit, UNNEST(GENERATE_SERIES(1, LEN(lt) - 1)) AS i(i)
    ),
    mdl AS (SELECT w1, w2, COUNT(*) AS c12 FROM fbi GROUP BY 1, 2),
    ctx AS (SELECT w1, COUNT(*) AS c1 FROM fbi GROUP BY 1),
    bi AS (
      SELECT doc_id,
             CASE WHEN lt[i.i] IN (SELECT w FROM vocab)
                  THEN lt[i.i] ELSE CHR(1) END AS w1,
             CASE WHEN lt[i.i + 1] IN (SELECT w FROM vocab)
                  THEN lt[i.i + 1] ELSE CHR(1) END AS w2
      FROM toks, UNNEST(GENERATE_SERIES(1, LEN(lt) - 1)) AS i(i)
    ),
    lm AS (
      SELECT b.doc_id,
             CAST(COUNT(*) AS INT) AS lm_bigrams,
             ROUND(SUM(LN((COALESCE(m.c12, 0) + 0.5)
                          / (COALESCE(x.c1, 0) + 0.5 * (nv.v + 1))))
                   / COUNT(*), 4) AS lm_logprob
      FROM bi b LEFT JOIN mdl m USING (w1, w2)
                LEFT JOIN ctx x USING (w1) CROSS JOIN nv
      GROUP BY 1
    )
    SELECT doc_id,
           LENGTH(text) AS n_chars,
           LEN(t) AS ws_tokens,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]')) AS INT)
             AS bpe_tokens,
           md5(TRIM(REGEXP_REPLACE(LOWER(text), '\\s+', ' ', 'g'))) AS fingerprint,
           ROUND((LEN(t) - LEN(LIST_DISTINCT(t)))
                 * 1.0 / GREATEST(LEN(t), 1), 4) AS dup_word_frac,
           ROUND(LIST_MAX(LIST_TRANSFORM(LIST_DISTINCT(t),
                     w -> LEN(LIST_FILTER(t, x -> x = w))))
                 * 1.0 / GREATEST(LEN(t), 1), 4) AS top_word_frac,
           ROUND((LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\p{L}\\p{N}\\s]', '', 'g')))
                 * 1.0 / GREATEST(LENGTH(text), 1), 4) AS punct_ratio,
           ROUND(LEN(LIST_FILTER(t,
                     x -> LIST_CONTAINS(['the','and','of','to','is','in','that',
                                         'it','for','with','a','an','on','at',
                                         'by','as'], x)))
                 * 1.0 / GREATEST(LEN(t), 1), 4)
             AS stopword_ratio,
           ROUND(
             0.4 * LEAST(LENGTH(text) / 200.0, 1.0)
           + 0.3 * (1.0 - LEAST(((LENGTH(text)
                 - LENGTH(REGEXP_REPLACE(text, '[^\\p{L}\\p{N}\\s]', '', 'g')))
                 * 1.0 / GREATEST(LENGTH(text), 1)) * 5.0, 1.0))
           + 0.3 * (CASE WHEN (LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) * 1.0
                     / GREATEST(LEN(t), 1))
                     BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END),
           4) AS quality,
           COALESCE(lm.lm_bigrams, 0) AS lm_bigrams,
           lm.lm_logprob AS lm_logprob,
           TRIM(REGEXP_REPLACE(
               '  "' || COALESCE(text, '') || '"' || CHR(9) || 'fiABC123  ',
               '\\s+', ' ', 'g')) AS norm_clean,
           CAST(LENGTH(TRIM(REGEXP_REPLACE(
               '  "' || COALESCE(text, '') || '"' || CHR(9) || 'fiABC123  ',
               '\\s+', ' ', 'g'))) AS INT) AS norm_clean_len
    FROM toks LEFT JOIN lm USING (doc_id)
    """,
    survey_ref="§2 B13 pack: token counting (whitespace + BPE-ish regex), "
    "document fingerprinting (normalized content hash), Gopher-style "
    "repetition signals (duplicate-word + top-word fractions), quality "
    "scoring (length/punct/stopword components + composite), B36 "
    "count-based bigram-LM quality score (CCNet-style perplexity signal: "
    "add-k smoothed bigram model fit on a bounded portable-md5 document "
    "sample — the KenLM fit-on-sample/score-the-corpus shape — top-64 "
    "vocab with OOV collapse, unseen bigrams smoothed at count 0; oracle "
    "replays the sample draw, rebuilds the model from it, and replays "
    "every document's mean bigram log-prob), and the north-star unicode "
    "normalization pack "
    "(functions/normalize.py — NFKC fold + control/format strip + punct "
    "unification + whitespace collapse over a planted hostile wrapper; "
    "the oracle inlines the planted forms' known NFKC folds as literals "
    "and replays the strip/translate/collapse stages byte-for-byte)",
)
def c8_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts, the normalized content fingerprint, the
    quality-score components (one projection, all JVM expressions) — plus
    the bigram-LM quality score joined per document (operators/lm.py,
    fit on a bounded 200-doc portable-md5 sample so the corpus is
    tokenized once; the model is UNK-bounded so both scoring joins
    broadcast), plus the full unicode-cleaning pass over the document
    wrapped in hostile unicode (curly quotes, NFKC compatibility forms, a
    zero-width and a control byte, whitespace runs — _NORM_PREFIX/_SUFFIX
    below). The fixture text is pure ASCII (NFKC-invariant), so the
    oracle replays the pipeline exactly with the planted folds as SQL
    literals; only the NFKC fold itself is Python (Arrow-batched C-stdlib
    kernel, plan pinned by test_normalize::test_plan_arrow_batched)."""
    from ..functions import normalize as NZ
    from ..operators.lm import bigram_lm_scores

    docs = _docs(spark, sf_dir)
    dirty = F.concat(
        F.lit(_NORM_PREFIX),
        F.coalesce(F.col("text"), F.lit("")),
        F.lit(_NORM_SUFFIX),
    )
    clean = NZ.normalize_text(dirty)
    feats = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        TX.token_count().alias("ws_tokens"),
        TX.bpe_token_count().cast("int").alias("bpe_tokens"),
        TX.doc_fingerprint("text").alias("fingerprint"),
        F.round(TX.dup_word_frac(), 4).alias("dup_word_frac"),
        F.round(TX.top_word_frac(), 4).alias("top_word_frac"),
        F.round(TX.punct_ratio("text"), 4).alias("punct_ratio"),
        F.round(TX.stopword_ratio(), 4).alias("stopword_ratio"),
        TX.quality_score().alias("quality"),
        clean.alias("norm_clean"),
        F.length(clean).cast("int").alias("norm_clean_len"),
    )
    return feats.join(
        bigram_lm_scores(docs, vocab_size=64, max_fit_docs=200), "doc_id"
    )


@register(
    "c11_lang_id_histogram",
    oracle="""
    WITH scored AS (
      SELECT
        LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
            x -> LIST_CONTAINS(['the','and','of','to','is','in','that','it',
                                'for','with'], x))) AS s_en,
        LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
            x -> LIST_CONTAINS(['der','die','das','und','ist','nicht','ein',
                                'mit','für','von'], x))) AS s_de,
        LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
            x -> LIST_CONTAINS(['el','la','los','las','es','en','que','por',
                                'con','una'], x))) AS s_es,
        LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
            x -> LIST_CONTAINS(['le','la','les','est','et','dans','que',
                                'pour','une','avec'], x))) AS s_fr,
        REGEXP_MATCHES(text, '[一-鿿]') AS has_cjk
      FROM documents
    ),
    lang AS (
      SELECT pred_lang, COUNT(*) AS n FROM (
        SELECT CASE WHEN has_cjk THEN 'zh'
                    WHEN GREATEST(s_en, s_de, s_es, s_fr) = 0 THEN 'und'
                    WHEN s_en = GREATEST(s_en, s_de, s_es, s_fr) THEN 'en'
                    WHEN s_de = GREATEST(s_en, s_de, s_es, s_fr) THEN 'de'
                    WHEN s_es = GREATEST(s_en, s_de, s_es, s_fr) THEN 'es'
                    WHEN s_fr = GREATEST(s_en, s_de, s_es, s_fr) THEN 'fr'
                    ELSE 'und' END AS pred_lang -- NULL text -> 'und' like Spark
        FROM scored
      )
      GROUP BY pred_lang
    ),
    toksd AS (
      SELECT source,
             LIST_FILTER(STRING_SPLIT_REGEX(COALESCE(text, ''), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    tri AS (
      SELECT source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
      FROM toksd, UNNEST(generate_series(1, len(t) - 2)) AS gi(i)
      WHERE len(t) >= 3
    ),
    dtotals AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(GREATEST(len(t) - 2, 0)) AS BIGINT) AS total_ngrams
      FROM toksd GROUP BY source
    ),
    dtypes AS (
      SELECT source, COUNT(DISTINCT g) AS distinct_ngrams
      FROM tri GROUP BY source
    )
    SELECT 'lang' AS branch, pred_lang AS grp, n AS n_docs,
           CAST(NULL AS BIGINT) AS total_ngrams,
           CAST(NULL AS BIGINT) AS distinct_ngrams,
           CAST(NULL AS DOUBLE) AS ttr
    FROM lang
    UNION ALL
    SELECT 'diversity' AS branch, t.source AS grp, t.n_docs, t.total_ngrams,
           COALESCE(ty.distinct_ngrams, 0) AS distinct_ngrams,
           CASE WHEN t.total_ngrams > 0
                THEN ROUND(ty.distinct_ngrams * 1.0 / t.total_ngrams, 4)
           END AS ttr
    FROM dtotals t
    LEFT JOIN dtypes ty ON t.source IS NOT DISTINCT FROM ty.source
    """,
    survey_ref="§2 B13 language-ID heuristic histogram ('lang' branch: "
    "marker-word argmax, ties resolved in en>de>es>fr order on both "
    "engines) + north-star corpus diversity report ('diversity' branch, "
    "operators/diversity.py: per-source exact trigram type/token counts "
    "and TTR — the corpus-level dedup-effectiveness / data-mixing "
    "instrument; every count exact so DuckDB replays it bit-for-bit)",
)
def c11_lang_id_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged pack. 'lang' branch: marker-word language-ID histogram.
    'diversity' branch: per-source n-gram diversity (n_docs, total
    trigram occurrences, distinct trigrams, type-token ratio) — row-local
    n-gram build, one corpus-volume distinct whose scaled exchange keys
    on the n-gram alone (subset-key rule), two map-side-combined group
    aggregates."""
    from ..operators.diversity import corpus_diversity

    docs = _docs(spark, sf_dir)
    nulls = [
        F.lit(None).cast("long").alias("total_ngrams"),
        F.lit(None).cast("long").alias("distinct_ngrams"),
        F.lit(None).cast("double").alias("ttr"),
    ]
    lang = (
        docs.select(TX.lang_id().alias("pred_lang"))
        .groupBy("pred_lang")
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.lit("lang").alias("branch"),
            F.col("pred_lang").alias("grp"),
            "n_docs",
            *nulls,
        )
    )
    div = corpus_diversity(docs).select(
        F.lit("diversity").alias("branch"),
        F.col("source").alias("grp"),
        "n_docs",
        "total_ngrams",
        "distinct_ngrams",
        "ttr",
    )
    return lang.unionByName(div)


#: Planted near-dup clone groups for the c17 leakage branch — invented
#: vocabulary disjoint from the fixture (and between groups), so the pair
#: graph over documents ∪ plants gains exactly these components: {9000001,
#: 9000002}, {9000003..9000005}, and 9000006 stays a singleton. Exact
#: clones ⇒ MinHash recall is structural (identical signatures), so the
#: exact-Jaccard oracle replay names the same pairs at any SF.
_LEAK_PLANTED = [
    (9000001, "zephlor quandrix velmotta kaprenth osculind brizzorn", "xx"),
    (9000002, "zephlor quandrix velmotta kaprenth osculind brizzorn", "xx"),
    (9000003, "mottravel skenquill droxibar faluneth gorpandel wexitron", "xx"),
    (9000004, "mottravel skenquill droxibar faluneth gorpandel wexitron", "xx"),
    (9000005, "mottravel skenquill droxibar faluneth gorpandel wexitron", "xx"),
    (9000006, "solvintra quebexor manthiloy repkindra zulvoster catrinquel", "xx"),
]


def _leak_planted_values_sql() -> str:
    rows = ", ".join(
        f"({i}, '{t}', '{lang}')" for i, t, lang in _LEAK_PLANTED
    )
    return f"(VALUES {rows}) v(doc_id, text, lang)"


@register(
    "c17_train_val_split",
    oracle=f"""
    WITH RECURSIVE corpus AS (
      SELECT doc_id, text, lang FROM documents
      UNION ALL
      SELECT doc_id, text, lang FROM {_leak_planted_values_sql()}
    ),
    {exact_jaccard_pairs_ctes("SELECT doc_id, text FROM corpus")},
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
    ),
    keyed AS (
      SELECT c.doc_id, c.lang,
             COALESCE(p.component, c.doc_id) AS split_key
      FROM corpus c LEFT JOIN comp p USING (doc_id)
    )
    SELECT 'plain' AS branch, doc_id, lang, split,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY split
             ORDER BY CAST(CONCAT('0x', SUBSTR(md5(CONCAT('7:', CAST(doc_id AS VARCHAR))), 1, 8))
                           AS UBIGINT),
                      doc_id
           ) AS BIGINT) AS shuffle_rank,
           CAST(NULL AS BIGINT) AS split_key
    FROM (
      SELECT doc_id, lang,
             CASE WHEN CAST(CONCAT('0x', SUBSTR(md5(CAST(text AS VARCHAR)), 1, 8))
                       AS UBIGINT) % 1000 < 100
                  THEN 'val' ELSE 'train' END AS split
      FROM documents
    )
    UNION ALL
    SELECT 'leakage' AS branch, doc_id, lang,
           CASE WHEN CAST(CONCAT('0x', SUBSTR(md5(CAST(split_key AS VARCHAR)), 1, 8))
                     AS UBIGINT) % 1000 < 100
                THEN 'val' ELSE 'train' END AS split,
           CAST(NULL AS BIGINT) AS shuffle_rank,
           split_key
    FROM keyed
    """,
    survey_ref="north-star deterministic train/val split (content-hash "
    "bucketing, 'plain' branch) + §2 B21 deterministic training-order "
    "shuffle (shuffle_rank = per-split position under the portable md5 "
    "permutation, recomputed bit-for-bit) + §2 B46 leakage-safe split "
    "('leakage' branch: MinHash-LSH pairs → connected components → split "
    "keyed on the cluster-canonical min id; the oracle replays exact-"
    "Jaccard pairs, a recursive-CTE transitive closure, and the md5 "
    "bucket of every document's split_key — planted clone groups pin the "
    "no-straddle guarantee at every SF)",
)
def c17_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged split pack. 'plain' branch: per-document content-hash split
    + deterministic shuffle rank. 'leakage' branch (operators/leakage.py):
    near-dup clusters (LSH pairs → connected components) draw ONE split
    via their canonical min-id key, so near-duplicates can never straddle
    train/val — the driver hash covers every document's (split_key,
    split), which IS the no-straddle property (same key ⇒ same split).
    Scale shape: pair/component volume is near-dup-sized; the only
    corpus-sized steps are one left join to the component table and the
    hash-split projection."""
    from ..operators.leakage import leakage_safe_split
    from ..operators.sampling import with_shuffle_rank, with_split

    docs = _docs(spark, sf_dir)
    split_df = with_split(docs, "text", val_fraction=0.1)
    ranked = with_shuffle_rank(split_df, seed=7)
    plain = ranked.select(
        F.lit("plain").alias("branch"),
        "doc_id",
        "lang",
        "split",
        "shuffle_rank",
        F.lit(None).cast("long").alias("split_key"),
    )
    planted = spark.createDataFrame(
        _LEAK_PLANTED, "doc_id long, text string, lang string"
    ).repartition(1)  # tiny local frame: see the c15 needle note
    corpus = docs.select("doc_id", "text", "lang").unionByName(planted)
    leak = leakage_safe_split(
        corpus, val_fraction=0.1, threshold=0.8
    ).select(
        F.lit("leakage").alias("branch"),
        "doc_id",
        "lang",
        "split",
        F.lit(None).cast("long").alias("shuffle_rank"),
        F.col("split_key").cast("long"),
    )
    return plain.unionByName(leak)


# FFD packing oracle: the operator is deterministic end to end — part =
# md5 bucket of doc_id (engine-portable), order within part = (n_tokens
# DESC, doc_id), first-fit over open bins — so DuckDB can REPLAY the
# exact algorithm: a recursive CTE walks each part's docs in order (all
# parts advance in lockstep, one doc per part per step) carrying the open
# bins' remaining capacities as BIGINT[] list state; list_position finds
# the first bin that fits, list slicing rebuilds the updated state.
# Recursion depth = max docs per part (~n/32); the oracle only ever runs
# at fixture SF.
_FFD_PART, _FFD_BUDGET = 32, 256
_FFD_IDX = "list_position(list_transform(f.caps, c -> c >= o.n_tokens), true)"


def ffd_oracle_sql(docs_cte: str, n_part: int, budget: int) -> str:
    """DuckDB replay of pack_sequences: ``docs_cte`` must yield
    (doc_id, n_tokens). Exposed so fuzz tests can run the identical
    oracle over arbitrary generated corpora, not just the fixture."""
    return f"""
    WITH RECURSIVE docs AS ({docs_cte}),
    parted AS (
      SELECT doc_id, n_tokens,
             CAST(CONCAT('0x', SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                  AS UBIGINT) % {n_part} AS part
      FROM docs
    ),
    ordered AS (
      SELECT doc_id, n_tokens, part,
             ROW_NUMBER() OVER (PARTITION BY part
                                ORDER BY n_tokens DESC, doc_id) AS rn
      FROM parted
    ),
    ffd(part, rn, caps, bin) AS (
      SELECT part, CAST(0 AS BIGINT), CAST([] AS BIGINT[]),
             CAST(NULL AS BIGINT)
      FROM (SELECT DISTINCT part FROM ordered)
      UNION ALL
      SELECT o.part, o.rn,
             CASE WHEN COALESCE({_FFD_IDX}, 0) = 0
                  THEN list_append(f.caps,
                                   GREATEST({budget} - o.n_tokens, 0))
                  ELSE list_concat(list_concat(
                         f.caps[:{_FFD_IDX}-1],
                         [f.caps[{_FFD_IDX}] - o.n_tokens]),
                         f.caps[{_FFD_IDX}+1:]) END,
             CASE WHEN COALESCE({_FFD_IDX}, 0) = 0 THEN len(f.caps) + 1
                  ELSE {_FFD_IDX} END
      FROM ffd f JOIN ordered o ON o.part = f.part AND o.rn = f.rn + 1
    ),
    assigned AS (
      SELECT o.doc_id, o.n_tokens,
             'p' || CAST(f.part AS VARCHAR) || '_'
                 || CAST(f.bin - 1 AS VARCHAR) AS pack_id
      FROM ffd f JOIN ordered o ON o.part = f.part AND o.rn = f.rn
      WHERE f.rn >= 1
    )
    SELECT pack_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
    FROM assigned GROUP BY pack_id ORDER BY pack_id
"""


_SEQ_PACKING_SQL = ffd_oracle_sql(
    """
      SELECT doc_id,
             LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'),
                             x -> x <> '')) AS n_tokens
      FROM documents
    """,
    _FFD_PART,
    _FFD_BUDGET,
)


@register(
    "c18_sequence_packing_stats",
    oracle=_SEQ_PACKING_SQL,
    survey_ref="north-star sequence packing (token-budget bin packing, "
    "partition-parallel FFD via mapInPandas); oracle replays the exact "
    "md5-part + first-fit-decreasing algorithm in a recursive CTE with "
    "list state — graduated from rows-only",
)
def c18_sequence_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-pack stats of the FFD packing. The md5 part hash (portable) and
    a pinned partition count make the pack ids a pure function of the
    corpus, so the oracle hash-checks every pack's membership stats —
    partitioning-scheme determinism is itself under test (the xxhash64
    production path keeps its own partition-invariance pytest)."""
    from ..functions.text import token_count
    from ..operators.packing import pack_sequences

    docs = _docs(spark, sf_dir).select(
        "doc_id", token_count().alias("n_tokens")
    )
    packed = pack_sequences(
        docs,
        max_tokens=_FFD_BUDGET,
        num_partitions=_FFD_PART,
    )
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
        )
        .orderBy("pack_id")
    )


@register(
    "c19_corpus_mixing",
    oracle="""
    WITH w(source, wt) AS (VALUES ('src0', 1.0), ('src1', 1.0), ('src2', 2.0)),
    counts AS (
      SELECT source, COUNT(*) AS n
      FROM documents JOIN w USING (source) GROUP BY source
    ),
    scale AS (SELECT MIN(n / wt) AS s FROM counts JOIN w USING (source)),
    fracs AS (
      SELECT source, LEAST(wt * s / n, 1.0) AS frac
      FROM counts JOIN w USING (source) CROSS JOIN scale
    )
    SELECT source, COUNT(*) AS n
    FROM documents d JOIN fracs USING (source)
    WHERE CAST(CONCAT('0x', SUBSTR(md5(CAST(d.text AS VARCHAR)), 1, 8))
               AS UBIGINT) % 100000
          < CAST(ROUND_EVEN(frac * 100000, 0) AS UBIGINT)
    GROUP BY source
    """,
    survey_ref="north-star corpus mixing (weighted source proportions via "
    "deterministic hash downsampling — binding-source scale + hash "
    "selection reproduced in SQL; ROUND_EVEN matches Python round()'s "
    "banker's rounding in mix_corpus — FLOOR would drop the boundary "
    "bucket whenever frac*1e5 has fractional part >= 0.5, e.g. a 2/3 "
    "fraction, which the fixture's equal source counts happen to avoid)",
)
def c19_corpus_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import mix_corpus

    docs = _docs(spark, sf_dir)
    mixed = mix_corpus(
        docs, {"src0": 1.0, "src1": 1.0, "src2": 2.0}
    )
    return (
        mixed.groupBy("source")
        .agg(F.count("*").alias("n"))
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Multimodal plumbing
# --------------------------------------------------------------------------


# Planted PPM fixture for the c13 'pixel' branch: pixel byte j of image
# media_id is (media_id + 3*j) % 256 and dims are (2 + id%3) x (1 + id%2)
# — pure functions of the id, so the ORACLE recomputes the per-channel
# means the kernel must produce from REAL decoded pixels. Any parse error
# in the P6 decode (header offset, raster truncation, channel order)
# shifts bytes between channels and breaks the means. One corrupt payload
# pins the per-row quarantine contract (px_ok = false, NULL stats).
_PPM_PLANTED_IDS = list(range(9_200_000, 9_200_008))
_PPM_CORRUPT_ID = 9_200_008


def _ppm_planted_rows() -> list[tuple[int, bytes]]:
    rows = []
    for mid in _PPM_PLANTED_IDS:
        w, h = 2 + mid % 3, 1 + mid % 2
        data = bytes((mid + 3 * j) % 256 for j in range(3 * w * h))
        rows.append((mid, b"P6\n%d %d\n255\n" % (w, h) + data))
    rows.append((_PPM_CORRUPT_ID, b"NOTANIMAGE"))
    return rows


@register(
    "c13_media_pack",
    oracle=f"""
    WITH ppm AS (
      SELECT media_id, 2 + media_id % 3 AS w, 1 + media_id % 2 AS h
      FROM (SELECT UNNEST({_PPM_PLANTED_IDS!r}) AS media_id)
    ),
    ppx AS (
      SELECT media_id, w, h, UNNEST(RANGE(w * h)) AS p FROM ppm
    ),
    pstats AS (
      SELECT media_id,
             ROUND(AVG((media_id + 9 * p) % 256), 4) AS mean_r,
             ROUND(AVG((media_id + 9 * p + 3) % 256), 4) AS mean_g,
             ROUND(AVG((media_id + 9 * p + 6) % 256), 4) AS mean_b
      FROM ppx GROUP BY media_id
    )
    SELECT 'meta' AS branch, doc_id AS media_id,
           OCTET_LENGTH(ENCODE(text)) AS n_bytes,
           SHA256(text) AS digest,
           'image/png' AS mime,
           CAST(n_chars % 1024 AS INT) AS width,
           CAST(n_chars % 768 AS INT) AS height,
           ROUND(CAST(CONCAT('0x', SUBSTR(sha256(COALESCE(text, '')), 1, 8))
                      AS UBIGINT) / 4294967296.0, 4) AS f0,
           CAST(NULL AS BOOLEAN) AS px_ok,
           CAST(NULL AS INT) AS px_width, CAST(NULL AS INT) AS px_height,
           CAST(NULL AS DOUBLE) AS mean_r, CAST(NULL AS DOUBLE) AS mean_g,
           CAST(NULL AS DOUBLE) AS mean_b
    FROM documents
    UNION ALL
    SELECT 'pixel', m.media_id,
           -- header 'P6\\n<w> <h>\\n255\\n' is 11 bytes at 1-digit dims
           CAST(11 + 3 * m.w * m.h AS BIGINT),
           NULL, 'image/x-portable-pixmap',
           CAST(m.w AS INT), CAST(m.h AS INT), NULL,
           TRUE, CAST(m.w AS INT), CAST(m.h AS INT),
           s.mean_r, s.mean_g, s.mean_b
    FROM ppm m JOIN pstats s USING (media_id)
    UNION ALL
    SELECT 'pixel', {_PPM_CORRUPT_ID}, 10, NULL, 'image/x-portable-pixmap',
           NULL, NULL, NULL, FALSE, NULL, NULL, NULL, NULL, NULL
    """,
    survey_ref="north-star multimodal pack: 'meta' branch — JVM-side binary "
    "metadata extraction joined with the Arrow-batched mapInPandas feature "
    "kernel (oracle recomputes byte length, digest, synthetic dims, first "
    "feature dim); 'pixel' branch — REAL P6 PPM pixel decode in the "
    "mapInPandas kernel over planted formula-valued images (oracle "
    "recomputes the per-channel means from the pixel formula; a corrupt "
    "payload pins the px_ok=false quarantine row)",
)
def c13_media_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged multimodal pack. 'meta': the cheap JVM pre-filter stage
    joined with the feature-kernel output on media_id — the join shuffles
    on the id only; payload bytes never leave their stage. 'pixel': real
    P6 PPM decode (operators/multimodal.py::decode_ppm) over planted
    images whose pixels are a pure function of the id, reduced to
    dimensions + per-channel means the oracle recomputes — plus one
    corrupt payload exercising the per-row quarantine (px_ok=false)."""
    media = multimodal.documents_as_media(_docs(spark, sf_dir))
    meta = multimodal.media_metadata(media)
    feats = multimodal.extract_features(media).select(
        "media_id", F.round(F.element_at("feature", 1), 4).alias("f0")
    )
    null = lambda t: F.lit(None).cast(t)  # noqa: E731
    meta_branch = meta.join(feats, "media_id").select(
        F.lit("meta").alias("branch"),
        "media_id", "n_bytes", "digest", "mime", "width", "height", "f0",
        null("boolean").alias("px_ok"),
        null("int").alias("px_width"), null("int").alias("px_height"),
        null("double").alias("mean_r"), null("double").alias("mean_g"),
        null("double").alias("mean_b"),
    )
    planted = spark.createDataFrame(
        _ppm_planted_rows(), "media_id long, content binary"
    ).repartition(1)  # tiny local frame: see the c15 needle note
    stats = multimodal.extract_pixel_stats(planted)
    pixel_branch = planted.join(stats, "media_id").select(
        F.lit("pixel").alias("branch"),
        "media_id",
        F.octet_length("content").alias("n_bytes"),
        null("string").alias("digest"),
        F.lit("image/x-portable-pixmap").alias("mime"),
        F.col("px_width").alias("width"),
        F.col("px_height").alias("height"),
        null("double").alias("f0"),
        "px_ok", "px_width", "px_height", "mean_r", "mean_g", "mean_b",
    )
    return meta_branch.unionByName(pixel_branch).orderBy("media_id")


@register(
    "b17_pandas_udf_token_count",
    oracle="""
    SELECT doc_id,
           CAST(LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'), x -> x <> '')) AS INT) AS pd_tokens
    FROM documents
    """,
    survey_ref="§2 B17 UDF escape hatch (Arrow-batched pandas_udf, "
    "oracle-verified against the SQL equivalent)",
)
def b17_pandas_udf_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udf_demo import pd_token_count

    return _docs(spark, sf_dir).select(
        "doc_id", pd_token_count("text").alias("pd_tokens")
    )


# c14 (feature extraction alone) merged into c13_media_pack above.


# --------------------------------------------------------------------------
# Benchmark decontamination + PII redaction (north-star corpus hygiene)
# --------------------------------------------------------------------------


@register(
    "c20_benchmark_decontamination",
    oracle="""
    WITH toks AS (
      SELECT doc_id, LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'), x -> x <> '') AS t FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t) - 2, 0) + 1),
                    i -> ARRAY_TO_STRING(t[i:i+2], ' '))) AS sh
      FROM toks
    ),
    bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 97 = 0)
    SELECT s.doc_id,
           COUNT(*) AS n_shingles,
           COUNT(*) FILTER (WHERE b.sh IS NOT NULL) AS n_contaminated,
           ROUND(COUNT(*) FILTER (WHERE b.sh IS NOT NULL) * 1.0 / COUNT(*), 4)
             AS contamination
    FROM sh s LEFT JOIN bench b USING (sh)
    WHERE s.doc_id % 97 <> 0
    GROUP BY s.doc_id
    """,
    survey_ref="north-star benchmark decontamination (word-k-gram overlap "
    "vs an eval set, GPT-3/C4 rule; broadcast benchmark-shingle join — "
    "no self-join, no pair blowup)",
)
def c20_benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram-overlap contamination of every corpus doc against a
    deterministic fixture 'benchmark' slice (doc_id % 97 == 0 — ~1% of
    docs, standing in for a held-out eval set). The benchmark's distinct
    shingles broadcast; the corpus index is exploded once and never
    self-joined. Spark counts hashed shingles, the oracle counts the
    strings — identical modulo a ~2^-64 xxhash64 collision."""
    from ..operators.contamination import benchmark_ngram_overlap

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return benchmark_ngram_overlap(corpus, bench)


# Planted PII rows (fixture documents are PII-free by construction); the
# ids sit far above the fixture doc_id range at every SF. The same constant
# builds the Spark DataFrame and the VALUES list in the oracle, so both
# engines see byte-identical inputs.
_PII_PLANTED: list[tuple[int, str]] = [
    (90000001, "contact alice at alice.w@example.com or 555-123-4567 for details"),
    (90000002, "server logs show 192.168.0.1 and 10.0.0.255 probing port 22"),
    (90000003, "bob.smith+spam@mail.example.org emailed from 172.16.254.3 twice"),
    (90000004, "fax 800.555.0199 office 212-555-0100 email ops@corp.io thanks"),
    (90000005, "no pii in this row just ordinary filler words and numbers 42"),
]

_PII_VALUES_SQL = ",\n      ".join(
    f"({i}, '{t}')" for i, t in _PII_PLANTED
)


def _pii_oracle() -> str:
    from ..functions.pii import EMAIL_RE, IPV4_RE, PHONE_RE

    return f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT * FROM (VALUES {_PII_VALUES_SQL}) AS t(doc_id, text)
    )
    SELECT doc_id,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '{EMAIL_RE}')) AS INT) AS n_emails,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '{PHONE_RE}')) AS INT) AS n_phones,
           CAST(LEN(REGEXP_EXTRACT_ALL(text, '{IPV4_RE}')) AS INT) AS n_ips,
           REGEXP_REPLACE(
             REGEXP_REPLACE(
               REGEXP_REPLACE(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
               '{PHONE_RE}', '<PHONE>', 'g'),
             '{IPV4_RE}', '<IP>', 'g') AS redacted
    FROM base
    """


@register(
    "c21_pii_redaction",
    oracle=_pii_oracle(),
    survey_ref="north-star PII scrub (email/phone/IPv4 detection counts + "
    "ordered redaction, Java-regex/RE2-portable patterns, all JVM "
    "regexp expressions) over documents plus planted PII rows",
)
def c21_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counts per PII category on the original text plus the redacted text
    itself (the value-hash check then covers every byte of the output).
    One narrow projection — no shuffle at all."""
    from ..functions import pii

    planted = spark.createDataFrame(
        _PII_PLANTED, "doc_id long, text string"
    ).repartition(1)  # tiny local frame: see the c15 needle note
    base = (
        _docs(spark, sf_dir).select("doc_id", "text").unionByName(planted)
    )
    return base.select(
        "doc_id",
        pii.email_count("text").alias("n_emails"),
        pii.phone_count("text").alias("n_phones"),
        pii.ipv4_count("text").alias("n_ips"),
        pii.redact_pii("text").alias("redacted"),
    )


# --------------------------------------------------------------------------
# Corpus-preparation operators (B26-B29): chunking, quality funnel,
# embedding quantization, per-source caps
# --------------------------------------------------------------------------


@register(
    "c22_doc_chunks",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'), x -> x <> '') AS t
      FROM documents
    ),
    starts AS (
      SELECT doc_id, t,
             UNNEST(range(0, GREATEST(LEN(t) - 8, 1), 16)) AS chunk_start
      FROM toks WHERE LEN(t) > 0
    ),
    ltoks AS (
      SELECT doc_id,
             LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    vocab AS (
      SELECT token,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS INT)
               AS token_id
      FROM (
        SELECT token, COUNT(*) AS cnt
        FROM (SELECT UNNEST(t) AS token FROM ltoks)
        GROUP BY 1 ORDER BY cnt DESC, token LIMIT 64
      )
    ),
    pos AS (
      SELECT doc_id,
             UNNEST(t) AS token,
             UNNEST(range(1, LEN(t) + 1)) AS pos
      FROM ltoks
    ),
    enc AS (
      SELECT p.doc_id, p.pos, COALESCE(v.token_id, 0) AS tid
      FROM pos p LEFT JOIN vocab v USING (token)
    ),
    agg AS (
      SELECT doc_id,
             LIST(tid ORDER BY pos) AS ids,
             COUNT(*) AS n_tokens,
             SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS n_oov
      FROM enc GROUP BY 1
    )
    SELECT 'chunk' AS op, doc_id,
           CAST(chunk_start // 16 AS INT) AS chunk_idx,
           CAST(chunk_start AS INT) AS chunk_start,
           CAST(LEN(w) AS INT) AS chunk_n_tokens,
           md5(ARRAY_TO_STRING(w, ' ')) AS chunk_fp
    FROM (
      SELECT doc_id, chunk_start,
             LIST_SLICE(t, chunk_start + 1, chunk_start + 24) AS w
      FROM starts
    )
    UNION ALL
    SELECT 'encode' AS op, d.doc_id,
           CAST(COALESCE(a.n_oov, 0) AS INT) AS chunk_idx,
           CASE WHEN d.doc_id IN (
             SELECT doc_id FROM documents
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 256
           ) THEN CAST(1 AS INT) ELSE CAST(NULL AS INT) END AS chunk_start,
           CAST(COALESCE(a.n_tokens, 0) AS INT) AS chunk_n_tokens,
           md5(COALESCE(ARRAY_TO_STRING(a.ids, ' '), '')) AS chunk_fp
    FROM documents d LEFT JOIN agg a USING (doc_id)
    UNION ALL
    SELECT 'bpe' AS op, rank AS doc_id,
           CAST(NULL AS INT) AS chunk_idx, CAST(NULL AS INT) AS chunk_start,
           CAST(n AS INT) AS chunk_n_tokens, fp AS chunk_fp
    FROM (VALUES (1, 2, 'e|s'), (2, 3, 'es|t'), (3, 7, 'est|</w>'),
                 (4, 2, 'l|o'), (5, 3, 'lo|w'), (6, 2, 'e|w'),
                 (7, 9, 'ew|est</w>'), (8, 10, 'n|ewest</w>'))
         AS bpe(rank, n, fp)
    """,
    survey_ref="§2 B26 document chunking ('chunk' branch: overlapping "
    "token windows, 24-token chunks / 8-token overlap; oracle replays the "
    "identical start-offset and slice arithmetic and fingerprints every "
    "window) + §2 B42 token-ID encoding ('encode' branch: 64-token "
    "frequency-rank vocab, per-doc id sequences fingerprinted, OOV "
    "counts, and a decode→re-encode round-trip invariant the oracle pins "
    "to 1 on a deterministic 256-doc portable-md5 sample both engines "
    "name identically — in-vocab ids survive the round trip by vocab "
    "identity, OOV positions re-encode to UNK by construction) + BPE "
    "merge-rule induction ('bpe' branch: the full fit pipeline over a "
    "planted Sennrich corpus whose 8-merge sequence is hand-derived, so "
    "the oracle's literal rows are ground truth; hypothesis replay vs "
    "the paper pseudocode covers arbitrary corpora in tests/test_bpe.py)",
)
def c22_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-branch pack.

    'chunk': every document exploded into overlapping 24-token windows —
    chunk offsets, lengths, and md5 window fingerprints, so the driver
    hash covers every token boundary the chunker produces. Pure per-row
    array expressions + posexplode; no shuffle (operators/chunking.py).

    'encode': token-ID encoding (operators/encoding.py) under a 64-token
    frequency-rank vocab — small enough that the fixture genuinely
    exercises OOV. Per doc: n_oov (chunk_idx slot), n_tokens, md5 of the
    id sequence (chunk_fp), and a decode→re-encode round-trip equality
    bit (chunk_start slot) — decode emits '<unk>' at OOV positions, which
    re-encodes to UNK_ID, so exact id-sequence equality is an invariant
    of a CORRECT encode/decode pair, not of the data. The round trip runs
    on a bounded 256-doc portable-md5 sample (non-sampled rows carry
    NULL): a full-corpus decode+re-encode is two extra corpus token
    exchanges nobody would pay as a standing audit at 100 TB — the A/B
    measured it at ~8 s of c22's 15 s at sf10 — and the sample is
    deterministic SQL, so the oracle names the exact same 256 ids. The
    64-row vocab is localCheckpointed once so the passes that reuse it
    (encode, decode, re-encode) don't each recompute the unigram scan."""
    from ..operators.chunking import chunk_documents
    from ..operators.encoding import build_vocab, decode_ids, encode_documents

    docs = _docs(spark, sf_dir)
    chunks = chunk_documents(
        docs, chunk_tokens=24, overlap=8
    ).select(
        F.lit("chunk").alias("op"),
        "doc_id",
        "chunk_idx",
        "chunk_start",
        "chunk_n_tokens",
        "chunk_fp",
    )
    # Bounded (64 rows) by construction; lineage truncation here is what
    # keeps this branch at ~2 corpus tokenize passes instead of 5.
    vocab = build_vocab(docs, vocab_size=64).localCheckpoint(
        eager=False  # bounded 64 rows; materializes at its first consumer
    )
    enc = encode_documents(docs, vocab)
    # Round-trip audit sample: the 256 smallest portable-md5 doc ids —
    # ids-only top-k (executor merge) + broadcast semi fetch, the lm.py
    # draw pattern, replayed verbatim by the oracle's ORDER BY md5 LIMIT.
    audit_ids = (
        docs.select("doc_id")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(256)
    )
    # Encoding is per-doc independent under a fixed vocab, so the audit
    # encodes its 256 documents FROM SCRATCH (a bounded explode) instead
    # of semi-joining the corpus encode — which would re-derive the full
    # corpus pass a second time inside the final action (measured +4 s
    # at sf10; exchange reuse does not reach across the semi-join).
    docs_audit = docs.select("doc_id", "text").join(
        F.broadcast(audit_ids), "doc_id", "left_semi"
    )
    enc_audit = encode_documents(docs_audit, vocab)
    reenc = encode_documents(decode_ids(enc_audit, vocab), vocab).select(
        "doc_id", F.col("token_ids").alias("_ids2")
    )

    def ids_str(c):
        return F.array_join(F.transform(c, lambda x: x.cast("string")), " ")

    encode_branch = enc.join(reenc, "doc_id", "left").select(
        F.lit("encode").alias("op"),
        "doc_id",
        F.col("n_oov").cast("int").alias("chunk_idx"),
        F.when(
            F.col("_ids2").isNotNull(),
            (
                F.md5(ids_str(F.col("token_ids")))
                == F.md5(ids_str(F.col("_ids2")))
            ).cast("int"),
        ).alias("chunk_start"),
        F.col("n_tokens").cast("int").alias("chunk_n_tokens"),
        F.md5(ids_str(F.col("token_ids"))).alias("chunk_fp"),
    )

    # 'bpe' branch (operators/bpe.py, the tokenizer-training seam): the
    # full Spark fit pipeline (tokenize → word-count aggregation →
    # bounded collect → driver merge loop) run INSIDE the query over a
    # PLANTED corpus whose merge sequence is hand-derivable (the classic
    # Sennrich low/lower/newest/widest example; derivation in
    # tests/test_bpe.py) — so the oracle's literal rows are ground truth,
    # not an implementation echo, and the driver hash covers the operator
    # end-to-end at every SF identically. Fixture-corpus behavior is
    # pytest territory (hypothesis replay vs the paper pseudocode): a BPE
    # loop is not SQL-expressible, which is exactly why the driver row
    # pins the planted analytic case. Columns: doc_id = 1-based merge
    # rank, chunk_n_tokens = merged-symbol length, chunk_fp =
    # 'left|right'.
    from ..operators.bpe import induce_bpe_merges

    planted_text = " ".join(
        [w for w, c in
         (("low", 5), ("lower", 2), ("newest", 6), ("widest", 3))
         for _ in range(c)]
    )
    planted = spark.createDataFrame(
        [(1, planted_text)], "doc_id long, text string"
    ).repartition(1)
    merges = induce_bpe_merges(planted, n_merges=8)
    bpe_branch = spark.createDataFrame(
        [
            (rank + 1, len(a + b), f"{a}|{b}")
            for rank, (a, b) in enumerate(merges)
        ],
        "doc_id long, chunk_n_tokens int, chunk_fp string",
    ).repartition(1).select(
        F.lit("bpe").alias("op"),
        "doc_id",
        F.lit(None).cast("int").alias("chunk_idx"),
        F.lit(None).cast("int").alias("chunk_start"),
        "chunk_n_tokens",
        "chunk_fp",
    )
    return chunks.unionByName(encode_branch).unionByName(bpe_branch)


@register(
    "c23_quality_funnel",
    oracle="""
    WITH feat AS (
      SELECT LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'), x -> x <> ''))
               AS n_tok,
             LIST_FILTER(STRING_SPLIT_REGEX(text, '\\s+'), x -> x <> '') AS t,
             text
      FROM documents
    ),
    pred AS (
      SELECT n_tok >= 20 AS p1,
             (REGEXP_MATCHES(text, '[一-鿿]') OR GREATEST(
                LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
                    x -> LIST_CONTAINS(['the','and','of','to','is','in','that',
                                        'it','for','with'], x))),
                LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
                    x -> LIST_CONTAINS(['der','die','das','und','ist','nicht',
                                        'ein','mit','für','von'], x))),
                LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
                    x -> LIST_CONTAINS(['el','la','los','las','es','en','que',
                                        'por','con','una'], x))),
                LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
                    x -> LIST_CONTAINS(['le','la','les','est','et','dans',
                                        'que','pour','une','avec'], x)))) > 0)
               AS p2,
             ((LEN(t) - LEN(LIST_DISTINCT(t))) * 1.0 / GREATEST(LEN(t), 1))
               <= 0.6 AS p3,
             ROUND(
               0.4 * LEAST(LENGTH(text) / 200.0, 1.0)
             + 0.3 * (1.0 - LEAST(((LENGTH(text)
                   - LENGTH(REGEXP_REPLACE(text, '[^\\p{L}\\p{N}\\s]', '', 'g')))
                   * 1.0 / GREATEST(LENGTH(text), 1)) * 5.0, 1.0))
             + 0.3 * (CASE WHEN (LENGTH(REGEXP_REPLACE(text, '\\s', '', 'g')) * 1.0
                       / GREATEST(LEN(t), 1))
                       BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END),
             4) >= 0.8 AS p4
      FROM feat
    ),
    agg AS (
      SELECT COUNT(*) AS c0,
             COUNT(*) FILTER (p1) AS c1,
             COUNT(*) FILTER (p1 AND p2) AS c2,
             COUNT(*) FILTER (p1 AND p2 AND p3) AS c3,
             COUNT(*) FILTER (p1 AND p2 AND p3 AND p4) AS c4
      FROM pred
    )
    SELECT 0 AS stage_idx, 'total' AS stage, c0 AS survivors FROM agg
    UNION ALL SELECT 1, 'min_length', c1 FROM agg
    UNION ALL SELECT 2, 'lang_confident', c2 FROM agg
    UNION ALL SELECT 3, 'not_repetitive', c3 FROM agg
    UNION ALL SELECT 4, 'quality', c4 FROM agg
    """,
    survey_ref="§2 B27 quality-filter funnel (staged corpus curation with "
    "per-stage attrition: length -> language-ID confidence -> Gopher "
    "repetition -> composite quality; one aggregate pass, see "
    "operators/funnel.py)",
)
def c23_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor counts for the standard curation cascade over documents.
    All four predicates evaluate in one projection and aggregate in one
    pass (conditional sums over cumulative conjunctions) — no joins, no
    repeated scans; the oracle recomputes every stage predicate from
    scratch, so a threshold or tokenizer drift in ANY stage moves a
    driver-checked count. lang_confident mirrors lang_id() != 'und':
    a CJK codepoint or any marker-word hit."""
    from ..operators.funnel import quality_funnel

    docs = _docs(spark, sf_dir)
    stages = [
        ("min_length", TX.token_count() >= 20),
        ("lang_confident", TX.lang_id() != "und"),
        ("not_repetitive", TX.dup_word_frac() <= 0.6),
        ("quality", TX.quality_score() >= 0.8),
    ]
    return quality_funnel(docs, stages)


@register(
    "c24_embedding_quant_pack",
    oracle="""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s AS (
      SELECT vec_id, v,
             LIST_MAX(LIST_TRANSFORM(v, x -> ABS(x))) / 127.0 AS scale
      FROM base
    ),
    q AS (
      SELECT vec_id, v, scale,
             LIST_TRANSFORM(v, x -> CAST(CASE WHEN scale = 0 THEN 0
                 ELSE FLOOR(x / scale + 0.5) END AS INT)) AS qv
      FROM s
    )
    SELECT vec_id,
           CAST(LEN(v) AS INT) AS dim,
           ROUND(SQRT(LIST_SUM(LIST_TRANSFORM(v, x -> x * x))), 4) AS l2_norm,
           ROUND(scale, 6) AS scale_r6,
           CAST(LIST_SUM(qv) AS BIGINT) AS q_sum,
           CAST(LIST_SUM(LIST_TRANSFORM(qv, x -> ABS(x))) AS BIGINT)
             AS q_abs_sum,
           ROUND(LIST_MAX(LIST_TRANSFORM(LIST_ZIP(v, qv),
                 p -> ABS(p[1] - p[2] * scale))), 6) AS max_abs_err
    FROM q
    """,
    survey_ref="§2 B28 embedding normalization + symmetric int8 "
    "quantization (per-vector scale = max|x|/127, portable half-up "
    "rounding; integer checksums pin the quantized vector exactly, the "
    "reconstruction-error bound pins dequantization)",
)
def c24_embedding_quant_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector quantization audit: L2 norm, int8 scale, integer
    checksums of the quantized vector (sum + abs-sum — exact cross-engine,
    no float-hash fragility), and the max dequantization error. All
    higher-order-function expressions, JVM-side, no shuffle; the quantizer
    rounds via floor(x/scale + 0.5) so Spark and DuckDB agree on ties
    (see functions/vectors.py)."""
    from ..functions import vectors as VX

    emb = _emb(spark, sf_dir)
    with_scale = emb.withColumn("scale", VX.int8_scale("embedding"))
    with_q = with_scale.withColumn(
        "qv", VX.int8_quantize("embedding", F.col("scale"))
    )
    return with_q.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(VX.l2_norm(), 4).alias("l2_norm"),
        F.round("scale", 6).alias("scale_r6"),
        F.aggregate(
            "qv", F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("q_sum"),
        F.aggregate(
            "qv", F.lit(0).cast("long"), lambda a, x: a + F.abs(x)
        ).alias("q_abs_sum"),
        F.round(
            VX.max_dequant_err("embedding", F.col("qv"), F.col("scale")), 6
        ).alias("max_abs_err"),
    )


@register(
    "c25_sample_caps_pack",
    oracle="""
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
    SELECT 'cap' AS branch, source, doc_id, CAST(rk AS BIGINT) AS pos FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY hh, doc_id) AS rk
      FROM h
    ) WHERE rk <= 15
    UNION ALL
    SELECT 'budget', source, doc_id, CAST(cw AS BIGINT) FROM (
      SELECT doc_id, source,
             SUM(n_tok) OVER (
               PARTITION BY source ORDER BY hh, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cw
      FROM h
    ) WHERE cw <= 700
    """,
    survey_ref="§2 B29 per-source caps: deterministic per-domain document "
    "cap ('cap' branch, <= 15 docs/source) and per-source token budget "
    "('budget' branch, <= 700 tokens/source), both ordered by the "
    "portable md5 permutation the oracle replays bit-for-bit",
)
def c25_sample_caps_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two web-corpus downsampling disciplines over documents, tagged:
    at most 15 docs per source (rank form — WindowGroupLimit pushes the
    cap below the shuffle) and at most ~700 tokens per source (running-sum
    prefix form). Selection order is the portable (seed=5, doc_id) md5
    hash, so the surviving sample is identical on any cluster shape and
    any engine (see operators/sampling.py)."""
    from ..operators.sampling import per_group_cap, per_group_weight_budget

    docs = _docs(spark, sf_dir).select(
        "doc_id", "source", TX.token_count().alias("n_tok")
    )
    cap = per_group_cap(docs, "doc_id", "source", cap=15, seed=5).select(
        F.lit("cap").alias("branch"),
        "source",
        "doc_id",
        F.col("sample_rank").cast("long").alias("pos"),
    )
    budget = per_group_weight_budget(
        docs, "doc_id", "source", "n_tok", budget=700, seed=5
    ).select(
        F.lit("budget").alias("branch"),
        "source",
        "doc_id",
        F.col("cum_weight").alias("pos"),
    )
    return cap.unionByName(budget)


# Line-level dedup fixture: the driver corpus is single-line fake text, so
# boilerplate *line* structure (the thing B30 removes) is planted — the
# same pattern as c21's planted PII rows. Three boilerplate lines each
# appear in >= 5 planted docs (df > 3 -> stripped everywhere); content
# lines are unique (kept). One doc is pure boilerplate (rebuilds to ''),
# one repeats a boilerplate line twice in the same doc (df counts docs,
# not occurrences).
_BOILER = [
    "subscribe to our newsletter today",
    "copyright example corp all rights reserved",
    "home about contact privacy terms",
]
_LINEDUP_PLANTED: list[tuple[int, str]] = [
    (9_000_000 + i, "\n".join([_BOILER[0], f"unique content line {i}",
                               _BOILER[1], f"more unique text {i} here",
                               _BOILER[2]]))
    for i in range(5)
] + [
    (9_000_100, "\n".join(_BOILER)),                      # all boilerplate
    (9_000_101, "\n".join([_BOILER[0], "kept line", _BOILER[0]])),  # in-doc repeat
]


def _linedup_planted_values_sql() -> str:
    rows = ", ".join(
        "({}, '{}')".format(i, t.replace("\n", "' || CHR(10) || '"))
        for i, t in _LINEDUP_PLANTED
    )
    return f"(VALUES {rows}) AS planted(doc_id, text)"


# Duplicate-SPAN dedup fixture (B47): the driver corpus's ~100-word
# vocabulary makes a natural duplicated 8-token run astronomically unlikely
# (≈(1/100)^8 per pair), so every contract case is planted with
# corpus-impossible words: a 30-token passage shared by three docs (one
# canonical survivor, one cross-doc removal, one doc carrying it twice —
# both non-canonical), a periodic self-repeat whose removals truncate its
# own canonical window (the documented per-RUN-not-per-passage semantics),
# a sub-window doc that must pass through untouched, and a 12-token run in
# six docs whose df=6 > max_df=4 means it is EXCLUDED (kept everywhere).
_SPAN_W = 8
_SPAN_MAX_DF = 4
_SPAN_PASSAGE = " ".join(f"spanword{i:02d}" for i in range(30))
_SPAN_HOT = " ".join(f"hotword{i:02d}" for i in range(12))
_SPANDUP_PLANTED: list[tuple[int, str]] = [
    (9_100_000, f"alpha0 alpha1 alpha2 {_SPAN_PASSAGE} omega0 omega1"),
    (9_100_001, f"beta0 {_SPAN_PASSAGE} gamma0 gamma1 gamma2"),
    (9_100_002, f"{_SPAN_PASSAGE} mid0 mid1 {_SPAN_PASSAGE}"),
    (9_100_003, " ".join(["rep0 rep1 rep2 rep3"] * 4)),
    (9_100_004, "tiny doc"),
] + [
    (9_100_005 + i, f"hotdoc{i} {_SPAN_HOT} tail{i}") for i in range(6)
]


def _spandup_planted_values_sql() -> str:
    rows = ", ".join(f"({i}, '{t}')" for i, t in _SPANDUP_PLANTED)
    return f"(VALUES {rows}) AS sp(doc_id, text)"


def span_dedup_oracle_ctes(docs_sql: str, window: int, max_df: int) -> str:
    """DuckDB CTE chain replaying remove_duplicate_spans over ``docs_sql``
    (a SELECT yielding (doc_id, text)) by EXACT run string — equal windows
    hash equal by construction, so this is the rolling-hash semantics
    minus only the ~n^2/2^64 collision the fixtures cannot produce.
    Exposes ``stoks`` (doc_id, t), ``srebuilt`` (doc_id, clean_text,
    n_kept) and ``sspanstats`` (doc_id, n_spans); shared by the c26
    oracle and the off-fixture parity fuzz (test_oracle_parity_fuzz)."""
    return f"""
    sbase AS ({docs_sql}),
    stoks AS (
      SELECT doc_id,
             LIST_FILTER(STRING_SPLIT_REGEX(COALESCE(text, ''), '\\s+'),
                         x -> x <> '') AS t
      FROM sbase
    ),
    sruns AS (
      SELECT doc_id, pos,
             ARRAY_TO_STRING(t[pos + 1 : pos + {window}], ' ') AS run
      FROM (
        SELECT doc_id, t,
               UNNEST(RANGE(GREATEST(LEN(t) - {window} + 1, 0))) AS pos
        FROM stoks
      )
    ),
    smarked AS (
      SELECT doc_id, pos,
             COUNT(*) OVER (PARTITION BY run) AS df,
             ROW_NUMBER() OVER (PARTITION BY run ORDER BY doc_id, pos) AS rn
      FROM sruns
    ),
    sremoved AS (
      SELECT doc_id, pos FROM smarked
      WHERE df BETWEEN 2 AND {max_df} AND rn > 1
    ),
    sisl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev IS NOT NULL AND pos - prev <= {window}
                      THEN 0 ELSE 1 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM (SELECT doc_id, pos,
                   LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
            FROM sremoved)
    ),
    sspans AS (
      SELECT doc_id, grp, MIN(pos) AS s, MAX(pos) + {window} AS e
      FROM sisl GROUP BY doc_id, grp
    ),
    stokpos AS (
      SELECT doc_id, UNNEST(t) AS tok, generate_subscripts(t, 1) - 1 AS i
      FROM stoks
    ),
    skept AS (
      SELECT tp.doc_id, tp.tok, tp.i
      FROM stokpos tp
      WHERE NOT EXISTS (SELECT 1 FROM sspans s
                        WHERE s.doc_id = tp.doc_id
                          AND s.s <= tp.i AND tp.i < s.e)
    ),
    srebuilt AS (
      SELECT doc_id, ARRAY_TO_STRING(LIST(tok ORDER BY i), ' ') AS clean_text,
             COUNT(*) AS n_kept
      FROM skept GROUP BY doc_id
    ),
    sspanstats AS (
      SELECT doc_id, COUNT(*) AS n_spans FROM sspans GROUP BY doc_id
    )"""


@register(
    "c26_line_dedup",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id, text FROM {_linedup_planted_values_sql()}
    ),
    lines AS (
      SELECT doc_id,
             UNNEST(STRING_SPLIT(text, CHR(10))) AS line,
             generate_subscripts(STRING_SPLIT(text, CHR(10)), 1) - 1 AS pos
      FROM base
    ),
    hot AS (
      SELECT line FROM (SELECT DISTINCT doc_id, line FROM lines)
      GROUP BY line HAVING COUNT(*) > 3
    ),
    kept AS (
      SELECT * FROM lines WHERE line NOT IN (SELECT line FROM hot)
    ),
    rebuilt AS (
      SELECT doc_id,
             ARRAY_TO_STRING(LIST(line ORDER BY pos), CHR(10)) AS clean_text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id),
    -- span branch (B47): shared CTE chain, see span_dedup_oracle_ctes
    {span_dedup_oracle_ctes(
        "SELECT doc_id, text FROM documents UNION ALL "
        f"SELECT doc_id, text FROM {_spandup_planted_values_sql()}",
        _SPAN_W,
        _SPAN_MAX_DF,
    )}
    SELECT 'line' AS branch, t.doc_id,
           COALESCE(r.clean_text, '') AS clean_text,
           t.n_lines AS n_units, COALESCE(r.n_kept, 0) AS n_kept,
           CAST(0 AS BIGINT) AS n_spans
    FROM totals t LEFT JOIN rebuilt r USING (doc_id)
    UNION ALL
    SELECT 'span' AS branch, st.doc_id,
           COALESCE(sr.clean_text, '') AS clean_text,
           LEN(st.t) AS n_units, COALESCE(sr.n_kept, 0) AS n_kept,
           COALESCE(ss.n_spans, 0) AS n_spans
    FROM stoks st
    LEFT JOIN srebuilt sr USING (doc_id)
    LEFT JOIN sspanstats ss USING (doc_id)
    """,
    survey_ref="§2 B30 corpus-wide line-level dedup ('line' branch: "
    "boilerplate lines with document frequency > 3 stripped, documents "
    "reassembled in original line order; planted multi-line docs make the "
    "stage non-vacuous at every SF) + §2 B47 exact duplicate-span dedup "
    "('span' branch: repeated 8-token runs removed except the canonical "
    "min-(doc,pos) occurrence, overlap-merged spans, max_df exclusion; "
    "planted cross-doc / in-doc / periodic-self-overlap / sub-window / "
    "over-max_df cases exercise every contract clause)",
)
def c26_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged corpus-dedup pack: boilerplate LINE removal ('line' branch,
    operators/linedup.py) and duplicate-SPAN removal ('span' branch,
    operators/spandup.py) over documents + per-branch planted rows.

    Both branches rebuild every document's clean_text and the driver hash
    compares it byte-for-byte between engines — the line branch in the
    original byte-exact line form, the span branch in the operator's
    documented single-space token re-join — so splitting/fingerprinting,
    df counting, canonical selection, the strip/merge, and
    order-preserving reassembly are all under the hash. The span oracle replays
    the rolling-hash semantics by exact run STRING (equal windows hash
    equal by construction; the engine's 64-bit hash only diverges on a
    ~n^2/2^64 collision, which the fixture vocabulary cannot produce).
    Each branch keeps the engine's corpus-volume budget: one narrow
    fingerprint exchange + one text join-back for lines, one grouped
    fingerprint exchange + boilerplate-volume join-back for spans — no
    pair blowup anywhere."""
    from ..operators.linedup import drop_duplicate_lines
    from ..operators.spandup import remove_duplicate_spans
    from ..operators.spread import pin

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    # Shared pinned bases (round-13, guide §2.4): each branch's operator
    # references its docs∪planted base 2-3 times (fingerprint pass, hot
    # occurrence pass, text rebuild join-back), so the un-pinned pack
    # re-scans parquet 12 times and re-spreads the text per appearance —
    # 42 Exchanges. Pinning each branch's base once cut the plan to 18
    # Exchanges / 0 re-scans and exec 2.0 -> 1.4 s (same sitting,
    # identical rows).
    line_planted = spark.createDataFrame(
        _LINEDUP_PLANTED, "doc_id long, text string"
    ).repartition(1)  # tiny local frame: see the c15 needle note
    line_base = pin(docs.unionByName(line_planted), source=docs)
    line = drop_duplicate_lines(
        line_base,
    ).select(
        F.lit("line").alias("branch"),
        "doc_id",
        "clean_text",
        F.col("n_lines").cast("long").alias("n_units"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.lit(0).cast("long").alias("n_spans"),
    )
    span_planted = spark.createDataFrame(
        _SPANDUP_PLANTED, "doc_id long, text string"
    ).repartition(1)  # tiny local frame: see the c15 needle note
    span_base = pin(docs.unionByName(span_planted), source=docs)
    span = remove_duplicate_spans(
        span_base,
        window=_SPAN_W,
        max_df=_SPAN_MAX_DF,
    ).select(
        F.lit("span").alias("branch"),
        "doc_id",
        "clean_text",
        F.col("n_tokens").cast("long").alias("n_units"),
        (F.col("n_tokens") - F.col("n_removed_tokens"))
        .cast("long")
        .alias("n_kept"),
        F.col("n_spans").cast("long").alias("n_spans"),
    )
    return line.unionByName(span)


# --------------------------------------------------------------------------
# B35 — lexical (BM25) corpus search
# --------------------------------------------------------------------------

_BM25_QUERY = ["hash", "join", "merge"]
_BM25_K = 20


@register(
    "c27_bm25_search",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             LIST_FILTER(STRING_SPLIT_REGEX(LOWER(COALESCE(text, '')), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, AVG(LEN(t)) AS avgdl FROM toks),
    postings AS (
      SELECT doc_id, LEN(t) AS dl, term,
             LEN(LIST_FILTER(t, x -> x = term)) AS tf
      FROM toks
      CROSS JOIN (SELECT UNNEST({_BM25_QUERY!r}) AS term) q
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
    ) WHERE rank <= {_BM25_K}
    """,
    survey_ref="§2 B35 lexical BM25 corpus search (Lucene idf formulation, "
    "k1=1.2 b=0.75, query-term-filtered postings, deterministic top-k cut "
    "on (rounded score, doc_id))",
)
def c27_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for a fixed bag-of-words query over documents — the
    lexical retrieval counterpart of c6's vector top-k. Scale shape
    (operators/search.py): postings filtered to query terms BEFORE the
    (doc, term) aggregation so the only corpus-volume exchange carries
    matching tokens; corpus stats and per-term df broadcast back; top-k is
    TakeOrderedAndProject. The oracle replays the full formula — idf, tf
    saturation, length norm, the 4-dp round, and the rank cut."""
    from ..operators.search import bm25_topk

    return bm25_topk(
        _docs(spark, sf_dir).select("doc_id", "text"), _BM25_QUERY, _BM25_K
    )
