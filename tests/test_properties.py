"""Property-based tests (SURVEY.md §5): dedup idempotence and summary
additivity — the invariants the reference's at-least-once + NOT-IN design
exists to guarantee (O8 + J1)."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aws_snowflake_kinesis_airflow_pipeline_spark.operators.relational import (
    daily_event_summary,
    insert_dedup_anti_join,
)

BASE = dt.datetime(2024, 1, 1)

event_rows = st.lists(
    st.tuples(
        st.one_of(st.integers(0, 30), st.none()),  # event_id incl. NULLs
        st.integers(0, 72),  # hours offset -> spans 4 dates
        st.sampled_from(["view", "click", "purchase", "signup"]),
        st.integers(1, 5),
    ),
    max_size=25,
)

SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def mk(spark, rows):
    return spark.createDataFrame(
        [
            (eid, BASE + dt.timedelta(hours=h), et, u)
            for (eid, h, et, u) in rows
        ],
        "event_id long, ts timestamp_ntz, event_type string, user_id long",
    )


@given(batch=event_rows, target=event_rows)
@SETTINGS
def test_dedup_insert_idempotent(spark, batch, target):
    """Inserting a batch twice yields the same target as inserting once:
    after the first insert every batch event_id exists in the target, so the
    second anti-join inserts nothing."""
    batch_df, target_df = mk(spark, batch), mk(spark, target)
    first = insert_dedup_anti_join(batch_df, target_df)
    target_after = target_df.select(*first.columns).union(first)
    second = insert_dedup_anti_join(batch_df, target_after)
    assert second.count() == 0


@given(a=event_rows, b=event_rows)
@SETTINGS
def test_summary_additivity(spark, a, b):
    """summary(a ∪ b) == merge(summary(a), summary(b)) — hourly summaries
    re-aggregate to the same result as one summary over the union, the
    invariant that makes incremental refresh correct."""
    da, db = mk(spark, a), mk(spark, b)
    direct = {
        (r["event_date"], r["event_type"]): (
            r["event_count"], r["first_event"], r["last_event"]
        )
        for r in daily_event_summary(da.union(db)).collect()
    }
    merged_df = (
        daily_event_summary(da)
        .union(daily_event_summary(db))
        .groupBy("event_date", "event_type")
        .agg(
            F.sum("event_count").alias("event_count"),
            F.min("first_event").alias("first_event"),
            F.max("last_event").alias("last_event"),
        )
    )
    merged = {
        (r["event_date"], r["event_type"]): (
            r["event_count"], r["first_event"], r["last_event"]
        )
        for r in merged_df.collect()
    }
    assert direct == merged


doc_rows = st.lists(
    st.tuples(
        st.integers(0, 1_000_000),  # doc_id (dups allowed across rows)
        st.text(
            alphabet="ab c", min_size=0, max_size=12
        ),  # tiny texts incl. duplicates/empties
    ),
    max_size=20,
)


@given(rows=doc_rows)
@SETTINGS
def test_exact_dedup_idempotent_and_replay_invariant(spark, rows):
    """exact_dedup is a fixpoint (dedup∘dedup == dedup) and replay-stable
    (dedup(x ∪ x) == dedup(x)) — the invariants that make it safe under
    at-least-once upstream delivery."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.dedup import (
        exact_dedup,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = exact_dedup(df, key_cols=["text"], id_col="doc_id")
    twice = exact_dedup(once, key_cols=["text"], id_col="doc_id")
    replay = exact_dedup(df.union(df), key_cols=["text"], id_col="doc_id")

    def rowset(d):
        return {tuple(r) for r in d.collect()}

    expect = rowset(once)
    assert rowset(twice) == expect
    assert rowset(replay) == expect


@given(rows=doc_rows)
@SETTINGS
def test_exact_dedup_unique_ids_fast_path_matches_default(spark, rows):
    """The narrow-exchange fast path (unique_ids=True: only (fingerprint,
    id) pairs shuffle, losers removed by anti-join) must be row-identical
    to the default body-hauling aggregation whenever its precondition
    holds — globally unique ids, enforced here by keeping the first row
    per generated id."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.dedup import (
        exact_dedup,
    )

    seen, uniq = set(), []
    for doc_id, text in rows:
        if doc_id not in seen:
            seen.add(doc_id)
            uniq.append((doc_id, text))
    df = spark.createDataFrame(uniq, "doc_id long, text string")
    slow = exact_dedup(df, key_cols=["text"], id_col="doc_id")
    fast = exact_dedup(df, key_cols=["text"], id_col="doc_id", unique_ids=True)
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, slow.collect())
    )


# --------------------------------------------------------------------------
# LLM-data operator invariants
# --------------------------------------------------------------------------

_VOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]

doc_corpus = st.lists(
    st.lists(st.sampled_from(_VOCAB), min_size=4, max_size=10).map(" ".join),
    min_size=2,
    max_size=8,
)

SLOW_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(texts=doc_corpus)
@SLOW_SETTINGS
def test_lsh_pairs_subset_of_exact_with_exact_copy_recall(spark, texts):
    """Two theorems of the MinHash-LSH design, on arbitrary tiny-vocab
    corpora: (precision) every LSH pair survives exact-Jaccard
    verification, so lsh_pairs ⊆ exact_pairs at the same threshold; and
    (exact-copy recall) identical texts have identical signatures, hence
    identical band hashes, hence are ALWAYS candidates — LSH can never
    miss a byte-identical duplicate."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    lsh = {
        (r["id1"], r["id2"])
        for r in minhash_lsh_pairs(
            df, k=2, threshold=0.5
        ).collect()
    }
    exact = {
        (r["id1"], r["id2"])
        for r in ngram_jaccard_pairs(
            df, k=2, threshold=0.5
        ).collect()
    }
    assert lsh <= exact
    copies = {
        (i, j)
        for i, a in enumerate(texts)
        for j, b in enumerate(texts)
        if i < j and a == b and len(a.split()) >= 2  # >= k tokens
    }
    assert copies <= lsh


edge_lists = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)),
    min_size=1,
    max_size=20,
).map(lambda es: [(a, b) for a, b in es if a != b])


@given(edges=edge_lists)
@SLOW_SETTINGS
def test_connected_components_match_union_find(spark, edges):
    """Label propagation must produce exactly the partition a driver-side
    union-find produces: every node labeled with the min id reachable
    from it."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.dedup import (
        connected_components,
    )

    if not edges:
        return
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    groups: dict[int, list[int]] = {}
    for n in parent:
        groups.setdefault(find(n), []).append(n)
    expected = {n: min(ns) for ns in groups.values() for n in ns}

    pairs = spark.createDataFrame(edges, "id1 long, id2 long")
    got = {
        r["id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == expected


pii_tokens = st.lists(
    st.sampled_from(
        _VOCAB
        + [
            "a.b@x.io",
            "ops@corp.example.org",
            "555-123-4567",
            "800.555.0199",
            "10.0.0.1",
            "192.168.1.255",
            "42",
        ]
    ),
    min_size=1,
    max_size=12,
).map(" ".join)


@given(text=pii_tokens)
@SLOW_SETTINGS
def test_redaction_leaves_no_residual_pii(spark, text):
    """After redact_pii, every detector must count zero — redaction is
    complete, and placeholder tokens never form new matches."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.functions import pii

    row = (
        spark.createDataFrame([(text,)], "text string")
        .select(pii.redact_pii("text").alias("red"))
        .select(
            pii.email_count("red").alias("e"),
            pii.phone_count("red").alias("p"),
            pii.ipv4_count("red").alias("i"),
        )
        .first()
    )
    assert (row["e"], row["p"], row["i"]) == (0, 0, 0)


# --- round-5 operators -----------------------------------------------------

doc_texts = st.lists(
    st.text(
        st.sampled_from("ab c\t\nXY.é中"),
        max_size=40,
    ),
    min_size=1,
    max_size=25,
)


@given(texts=doc_texts)
@SETTINGS
def test_encode_decode_roundtrip_property(spark, texts):
    """B42: with a vocabulary large enough to hold every corpus token,
    decode(encode(doc)) == whitespace-normalized lowercased doc, and
    n_oov == 0 — for ARBITRARY text including whitespace runs, CJK and
    empty docs."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.encoding import (
        build_vocab,
        decode_ids,
        encode_documents,
    )

    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    vocab = build_vocab(df, vocab_size=10_000)
    enc = encode_documents(df, vocab)
    assert enc.agg(F.sum("n_oov")).first()[0] in (0, None)
    back = {r["doc_id"]: r["text"] for r in decode_ids(enc, vocab).collect()}
    for i, t in rows:
        assert back[i] == " ".join(t.lower().split()), repr(t)


def test_exact_dedup_unique_ids_null_id_fails_loudly(spark):
    """The fast path's precondition (non-null ids) must fail at runtime,
    not degrade: a NULL id makes `id != min(id)` evaluate to NULL, so
    NULL-id duplicates would silently survive. The id is wrapped in a
    when/raise_error that rides every use, so pruning can't elide it."""
    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.dedup import (
        exact_dedup,
    )

    df = spark.createDataFrame(
        [(1, "a"), (None, "a"), (2, "b")], "doc_id long, text string"
    )
    out = exact_dedup(df, key_cols=["text"], id_col="doc_id", unique_ids=True)
    with pytest.raises((SparkRuntimeException, Py4JJavaError)):
        out.collect()
