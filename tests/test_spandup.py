"""Exact duplicate-span dedup (operators/spandup.py).

Pins: planted cross-document duplicated runs removed with the canonical
(min doc_id, min pos) occurrence kept; randomized fuzz against a pure-
Python replay of the whole contract (rolling-hash equality == window
text equality at these sizes); overlap merging; short-doc passthrough;
idempotence (a second pass removes nothing); partition invariance; and
the plan (MapInArrow kernel, one grouped exchange for the duplicate
table).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from aws_snowflake_kinesis_airflow_pipeline_spark.operators.spandup import (
    duplicate_spans,
    remove_duplicate_spans,
    window_fingerprints,
)


def _py_remove(docs: dict[int, str], window: int) -> dict[int, tuple]:
    """Pure-Python replay: window identity by TEXT equality."""
    toks = {i: t.split() for i, t in docs.items()}
    occ: dict[tuple, list[tuple[int, int]]] = {}
    for i in sorted(toks):
        t = toks[i]
        for p in range(len(t) - window + 1):
            occ.setdefault(tuple(t[p : p + window]), []).append((i, p))
    removed: dict[int, set[int]] = {i: set() for i in toks}
    for places in occ.values():
        if len(places) < 2:
            continue
        canon = min(places)
        for i, p in places:
            if (i, p) != canon:
                removed[i].update(range(p, p + window))
    out = {}
    for i, t in toks.items():
        kept = [w for j, w in enumerate(t) if j not in removed[i]]
        spans = 0
        prev = -2
        for j in sorted(removed[i]):
            if j != prev + 1:
                spans += 1
            prev = j
        out[i] = (" ".join(kept), len(t), len(removed[i]), spans)
    return out


def _run(spark, docs: dict[int, str], window: int):
    df = spark.createDataFrame(
        sorted(docs.items()), "doc_id long, text string"
    )
    return {
        r["doc_id"]: (
            r["clean_text"],
            r["n_tokens"],
            r["n_removed_tokens"],
            r["n_spans"],
        )
        for r in remove_duplicate_spans(df, window=window).collect()
    }


def test_planted_boilerplate_removed_canonical_kept(spark):
    boiler = " ".join(f"b{i}" for i in range(6))
    docs = {
        1: f"u1a u1b {boiler} u1c",
        2: f"u2a {boiler} u2b u2c",
        3: "all unique words here nothing shared at all",
    }
    got = _run(spark, docs, window=6)
    # doc 1 holds the canonical (min doc, min pos) occurrence: untouched.
    assert got[1][0] == docs[1]
    assert got[1][2] == 0
    # doc 2's occurrence removed, surrounding tokens kept in order.
    assert got[2][0] == "u2a u2b u2c"
    assert got[2][2] == 6 and got[2][3] == 1
    assert got[3][0] == docs[3] and got[3][2] == 0


def test_overlapping_windows_merge_into_one_span(spark):
    run = " ".join(f"r{i}" for i in range(8))  # 8-token duplicated run
    docs = {1: f"{run} tail1 x", 2: f"head2 {run} tail2"}
    got = _run(spark, docs, window=6)
    # run of 8 tokens = three 6-windows, overlapping -> ONE merged span.
    assert got[2][0] == "head2 tail2"
    assert got[2][2] == 8 and got[2][3] == 1


def test_fuzz_matches_python_replay(spark):
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    shared = [
        [rng.choice(vocab) for _ in range(rng.randint(5, 9))]
        for _ in range(4)
    ]
    docs = {}
    for i in range(14):
        parts = []
        for _ in range(rng.randint(1, 4)):
            if rng.random() < 0.5:
                parts.extend(rng.choice(shared))
            parts.extend(rng.choice(vocab) for _ in range(rng.randint(0, 6)))
        docs[i] = " ".join(parts)
    for window in (4, 5):
        assert _run(spark, docs, window) == _py_remove(docs, window), window


def test_short_and_null_docs_pass_through(spark):
    docs = {1: "a b c", 2: "", 3: "x " * 3}
    df = spark.createDataFrame(
        sorted(docs.items()) + [(4, None)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: r for r in remove_duplicate_spans(df, window=5).collect()
    }
    assert len(got) == 4
    assert got[1]["clean_text"] == "a b c" and got[1]["n_spans"] == 0
    assert got[4]["clean_text"] == "" and got[4]["n_tokens"] == 0


def test_idempotent(spark):
    rng = random.Random(7)
    shared = " ".join(f"s{i}" for i in range(7))
    docs = {
        i: f"{' '.join(f'u{i}_{j}' for j in range(rng.randint(0, 5)))} {shared}"
        for i in range(6)
    }
    once = _run(spark, docs, window=5)
    again = _run(spark, {i: v[0] for i, v in once.items()}, window=5)
    for i in once:
        assert again[i][0] == once[i][0]
        assert again[i][2] == 0  # nothing left to remove


def test_partition_invariance(spark):
    shared = " ".join(f"p{i}" for i in range(6))
    rows = [(i, f"x{i} {shared} y{i}") for i in range(20)]
    df1 = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    df5 = spark.createDataFrame(rows, "doc_id long, text string").repartition(5)
    a = sorted(
        tuple(r) for r in remove_duplicate_spans(df1, window=6).collect()
    )
    b = sorted(
        tuple(r) for r in remove_duplicate_spans(df5, window=6).collect()
    )
    assert a == b


def test_max_df_caps_join_but_still_removes(spark):
    shared = " ".join(f"c{i}" for i in range(5))
    docs = {i: f"u{i} {shared}" for i in range(10)}
    df = spark.createDataFrame(
        sorted(docs.items()), "doc_id long, text string"
    )
    out = {
        r["doc_id"]: r["n_removed_tokens"]
        for r in remove_duplicate_spans(df, window=5, max_df=3).collect()
    }
    # df=10 > max_df=3: the run is excluded from the join entirely —
    # the cap bounds work, removal of that run is skipped (documented).
    assert all(v == 0 for v in out.values())
    out2 = {
        r["doc_id"]: r["n_removed_tokens"]
        for r in remove_duplicate_spans(df, window=5, max_df=1000).collect()
    }
    assert out2[0] == 0 and all(out2[i] == 5 for i in range(1, 10))


def test_plan_shapes(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f h")],
        "doc_id long, text string",
    )
    fp_plan = (
        window_fingerprints(df, window=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "MapInArrow" in fp_plan and "BatchEvalPython" not in fp_plan
    spans_plan = (
        duplicate_spans(df, window=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in spans_plan


def test_registered_c26_span_branch_planted_cases(spark, sf_dir):
    """The driver-checked c26 'span' branch is non-vacuous: every planted
    contract case lands in the registered output exactly as documented —
    canonical untouched, cross-doc removal, both-occurrences-removed doc,
    periodic self-overlap truncating its own canonical window, sub-window
    passthrough, and the over-max_df run excluded (kept) everywhere."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.plans.registry import (
        QUERIES,
    )

    out = QUERIES["c26_line_dedup"].fn(spark, sf_dir)
    got = {
        r.doc_id: r
        for r in out.filter(
            (F.col("branch") == "span") & (F.col("doc_id") >= 9_100_000)
        ).collect()
    }
    assert len(got) == 11
    # Canonical (min doc_id) occurrence of the shared passage: untouched.
    assert got[9_100_000].n_spans == 0
    assert got[9_100_000].n_kept == got[9_100_000].n_units == 35
    # Cross-doc occurrence removed as one merged span.
    assert got[9_100_001].clean_text == "beta0 gamma0 gamma1 gamma2"
    assert got[9_100_001].n_spans == 1
    # Both occurrences in a later doc removed (neither is canonical).
    assert got[9_100_002].clean_text == "mid0 mid1"
    assert got[9_100_002].n_spans == 2
    # Periodic self-repeat: removal truncates the canonical occurrence's
    # own window — the per-RUN (not per-passage) semantics.
    assert got[9_100_003].clean_text == "rep0 rep1 rep2 rep3"
    # Sub-window doc passes through.
    assert got[9_100_004].clean_text == "tiny doc"
    # df=6 > max_df=4: the hot run is EXCLUDED, kept in all six docs.
    for i in range(6):
        r = got[9_100_005 + i]
        assert r.n_spans == 0 and r.n_kept == r.n_units == 14


def test_finalized_hash_same_results_different_hashes(spark):
    """Each window hash is the SplitMix64-finalized rolling hash, replayed
    here in pure Python from the per-token xxhash64s. The finalizer is a
    bijection, so equal runs still hash equal and the output matches the
    text-equality replay, while every hash differs from the raw linear
    form."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.functions.text import (
        tokens,
    )

    texts = {
        1: "a b c d e f g h tail1",
        2: "pre a b c d e f g h",
        3: "x y z " + "a b c d e f g h " + "x y z",
        4: "unique words only here now truly etc etc2 etc3",
    }
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    mask, base = 2**64 - 1, 0x9E3779B97F4A7C15

    def mix(z):
        z ^= z >> 30
        z = (z * 0xBF58476D1CE4E5B9) & mask
        z ^= z >> 27
        z = (z * 0x94D049BB133111EB) & mask
        return z ^ (z >> 31)

    def signed(z):
        return z - 2**64 if z >= 2**63 else z

    w = 8
    raw, want = {}, {}
    for r in docs.select(
        "doc_id", F.transform(tokens("text"), lambda t: F.xxhash64(t)).alias("th")
    ).collect():
        th = [t & mask for t in r.th]
        for p in range(len(th) - w + 1):
            z = sum(th[p + j] * pow(base, j, 2**64) for j in range(w)) & mask
            raw[(r.doc_id, p)] = signed(z)
            want[(r.doc_id, p)] = signed(mix(z))
    got = {
        (r.doc_id, r.pos): r.whash
        for r in window_fingerprints(docs, window=w).collect()
    }
    assert got == want
    assert all(got[k] != raw[k] for k in got)  # fully mixed
    # equal runs still hash equal under the finalizer
    assert got[(1, 0)] == got[(2, 1)] == got[(3, 3)]
    assert _run(spark, texts, w) == _py_remove(texts, w)
