"""spread(): the scan-parallelism guard must repartition exactly when the
incoming plan is under-parallelized — and prove it from metadata, without
instantiating RDDs or adding exchanges to already-shuffled plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_snowflake_kinesis_airflow_pipeline_spark.catalog import load_table
from aws_snowflake_kinesis_airflow_pipeline_spark.operators import spread as spread_mod
from aws_snowflake_kinesis_airflow_pipeline_spark.operators.spread import (
    _bytes_conf,
    exchange_partitions,
    pin,
    scaled_repartition,
    spread,
)


def test_bytes_conf_parses_spark_size_strings():
    assert _bytes_conf("134217728") == 128 * 1024 * 1024
    assert _bytes_conf("128MB") == 128 * 1024 * 1024
    assert _bytes_conf("4m") == 4 * 1024 * 1024
    assert _bytes_conf("1g") == 1024**3
    assert _bytes_conf("512k") == 512 * 1024
    assert _bytes_conf("100") == 100
    assert _bytes_conf("7b") == 7


def test_spread_repartitions_single_row_group_scan(spark, sf_dir):
    """A small parquet scan arrives in fewer splits than cores; spread must
    add the repartition so per-row work runs on every core."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = spread(docs, "doc_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan, "under-parallelized scan was not repartitioned"
    target = spark.sparkContext.defaultParallelism
    # AQE may coalesce downstream, but the declared repartition must target
    # the session's core count.
    assert f"REPARTITION_BY_NUM" in plan


def test_spread_is_noop_on_exchange_bearing_plans(spark, sf_dir):
    """An input that already shuffled is already parallelized — spread must
    not add a second text-carrying exchange (and must not probe df.rdd,
    which would execute the shuffle at plan-construction time)."""
    docs = load_table(spark, sf_dir, "documents").repartition(4, "doc_id")
    out = spread(docs, "doc_id")
    assert out is docs


def test_spread_is_noop_when_scan_is_well_split(spark, sf_dir):
    """When file metadata says the scan already yields >= core-count
    splits, spread must leave the plan untouched. Simulated by shrinking
    maxPartitionBytes so the same file counts as many splits."""
    old_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
    old_open = spark.conf.get("spark.sql.files.openCostInBytes", "4194304")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        out = spread(docs, "doc_id")
        assert out is docs
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_max)
        spark.conf.set("spark.sql.files.openCostInBytes", old_open)


def test_spread_in_memory_input_falls_back_to_rdd_probe(spark):
    """createDataFrame inputs have no files; the rdd-partition probe decides.
    A tiny local relation parallelizes below core count -> repartition."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    out = spread(df, "id")
    # Either already at >= defaultParallelism partitions (then unchanged)
    # or repartitioned; in both cases results are identical.
    assert {r["id"] for r in out.collect()} == {1, 2}


def test_no_inferred_generate_filter_below_exchange(spark, sf_dir):
    """Regression guard for the InferFiltersFromGenerate exclusion: with
    the rule active, every explode over a computed array gets a
    size(arr) > 0 filter with the FULL array expression inlined, and
    pushdown drags that duplicate below the scan exchange — the shingle
    index then computes every shingle set twice, once serialized on the
    scan's task count (measured 6.3 s -> 0.7 s at sf1 from excluding it).
    The session factory must keep the rule excluded."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.dedup import (
        doc_shingles,
    )

    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )
    exploded = doc_shingles(docs, 3).select(
        "doc_id", F.explode("hs").alias("s")
    )
    plan = exploded._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter (size(" not in plan.replace("Filter ((size(", "Filter (size(")
    excluded = spark.conf.get("spark.sql.optimizer.excludedRules", "")
    assert "InferFiltersFromGenerate" in excluded


# ---------------------------------------------------------------------------
# exchange_partitions / scaled_repartition: data-volume exchange auto-sizing
# ---------------------------------------------------------------------------


def _input_bytes(df):
    import os

    return sum(
        os.path.getsize(u.removeprefix("file://")) for u in df.inputFiles()
    )


def test_exchange_partitions_default_is_none_at_bench_sf(spark, sf_dir):
    """At bench SFs the session default suffices — the guard must be a
    no-op so registered plans stay byte-identical."""
    docs = load_table(spark, sf_dir, "documents")
    assert exchange_partitions(docs) is None
    out = scaled_repartition(docs.select("doc_id", "text"), "doc_id")
    # identity, not just equality: no plan node may be added
    assert "RepartitionByExpression" not in out._jdf.queryExecution().logical().toString()


def test_exchange_partitions_scales_with_input_bytes(spark, sf_dir, monkeypatch):
    import math

    docs = load_table(spark, sf_dir, "documents")
    total = _input_bytes(docs)
    monkeypatch.setattr(spread_mod, "_EXCHANGE_INPUT_BUDGET", 64)
    n = exchange_partitions(docs)
    assert n == math.ceil(total / 64)
    assert n > int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_exchange_partitions_none_without_file_lineage(spark, monkeypatch):
    """In-memory inputs have no file metadata — trust the session default
    (on a real cluster that is thousands of partitions + AQE coalescing)."""
    df = spark.createDataFrame([(1, "a")], "id long, s string")
    monkeypatch.setattr(spread_mod, "_EXCHANGE_INPUT_BUDGET", 1)
    assert exchange_partitions(df) is None


def test_scaled_repartition_satisfies_downstream_groupby(spark, sf_dir, monkeypatch):
    """The explicit scaled exchange must SATISFY the downstream groupBy's
    clustering requirement: exactly ONE Exchange in the physical plan
    (hashpartitioning on the group keys at the scaled count), never a
    second exchange stacked on top — otherwise the guard would double
    every corpus-volume shuffle it is meant to protect."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    monkeypatch.setattr(spread_mod, "_EXCHANGE_INPUT_BUDGET", 64)
    n = exchange_partitions(docs)
    out = (
        scaled_repartition(docs, "doc_id")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("+- Exchange") + plan.count(":- Exchange") == 1
    assert f"hashpartitioning(doc_id#" in plan
    assert f", {n})" in plan, f"scaled count {n} not in plan:\n{plan}"


def test_linedup_plan_has_two_scaled_exchanges(spark, sf_dir, monkeypatch):
    """Pin the line-dedup plan shape with the guard forced ON: the two
    corpus-volume inputs each cross exactly ONE exchange, both at the
    scaled count — one hashpartitioning(_fp0, _fp1) that serves BOTH the
    per-document distinct (subset-key rule) and the line-df groupBy, and
    one hashpartitioning on the scan's doc_id for the text side of the
    join-back — plus a broadcast of the small hot set. A second exchange
    on either input means an aggregation stack stopped being served by
    its scaled exchange (the corpus-scale OOM shape the guard exists to
    remove). The hot-occurrence side of the join-back is aggregate-
    bounded and not counted."""
    import re

    from aws_snowflake_kinesis_airflow_pipeline_spark.operators import linedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    monkeypatch.setattr(spread_mod, "_EXCHANGE_INPUT_BUDGET", 64)
    n = exchange_partitions(docs)
    assert n is not None
    scan_id = docs._jdf.queryExecution().analyzed().output().apply(0).toString()
    assert scan_id.startswith("doc_id#"), scan_id
    out = linedup.drop_duplicate_lines(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    exchanges = [
        [a.strip() for a in args.split(",")]
        for args in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    ]
    fp = [e for e in exchanges if e[0].startswith("_fp0#")]
    text = [e for e in exchanges if e[:-1] == [scan_id]]
    assert len(fp) == 1 and len(text) == 1, exchanges
    assert fp[0][-1] == text[0][-1] == str(n), exchanges
    assert "BroadcastExchange" in plan


def test_scaled_exchanges_preserve_dedup_results(spark, sf_dir, monkeypatch):
    """Forcing the guard ON at a tiny fixture (budget = 64 bytes -> the
    exchanges fire with ~100+ partitions) must not change any dedup-family
    result — partition count is physical, the row sets are the contract."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators import dedup, linedup, spandup

    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )

    def snapshot():
        mh = dedup.minhash_lsh_pairs(docs).collect()
        jc = dedup.ngram_jaccard_pairs(
            docs, threshold=0.8, max_doc_freq=64
        ).collect()
        sx = dedup.exact_dedup(docs, ["text"], "doc_id").collect()
        ln = linedup.drop_duplicate_lines(docs).collect()
        sp = spandup.duplicate_spans(docs, window=8, max_df=16).collect()
        key = lambda r: tuple(str(v) for v in r)
        return [sorted(rows, key=key) for rows in (mh, jc, sx, ln, sp)]

    base = snapshot()
    monkeypatch.setattr(spread_mod, "_EXCHANGE_INPUT_BUDGET", 64)
    assert exchange_partitions(docs) is not None  # the guard is live now
    assert snapshot() == base


def test_local_checkpoint_drops_partitioning(spark, sf_dir):
    """Document the Spark behavior spread.pin is designed around:
    localCheckpoint's LogicalRDD does NOT carry outputPartitioning
    forward, so an aggregation above a checkpointed exchange re-shuffles.
    If a Spark upgrade ever makes this assertion fail, spread.pin can be
    simplified to repartition + checkpoint."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ck = docs.repartition(7, "doc_id").localCheckpoint()
    out = ck.groupBy("doc_id").agg(F.count("*").alias("n"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan


def test_pin_modes(spark, sf_dir, monkeypatch):
    """spread.pin: checkpoint at bench SFs (guard off); when the guard
    fires, a scaled repartition whose downstream groupBy adds NO second
    exchange — the corpus shuffles exactly once — or, with no keys, the
    frame itself."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pinned = pin(docs, "doc_id", source=docs)
    assert "ExistingRDD" in pinned._jdf.queryExecution().executedPlan().toString()

    monkeypatch.setattr(spread_mod, "_EXCHANGE_INPUT_BUDGET", 64)
    n = exchange_partitions(docs)
    scaled = pin(docs, "doc_id", source=docs)
    out = scaled.groupBy("doc_id").agg(F.count("*").alias("n"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("+- Exchange") + plan.count(":- Exchange") == 1
    assert f", {n})" in plan
    projected = docs.select("doc_id")
    assert pin(projected, source=docs) is projected


def test_scaled_exchange_preserves_embedding_pairs(spark, monkeypatch):
    """The embedding LSH bucket exchange (dedup.embedding_near_dup_pairs)
    also auto-sizes; forcing the guard ON must neither change the pair
    set nor stack a second exchange under the applyInPandas grouping."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.catalog import load_table
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators import dedup

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    planted = emb.filter(F.col("vec_id") < 5).withColumn(
        "vec_id", F.col("vec_id") + 1000000
    )
    src = emb.unionByName(planted)

    def pairs():
        rows = dedup.embedding_near_dup_pairs(
            src, threshold=0.9
        ).collect()
        return sorted((r["id1"], r["id2"], r["cosine"]) for r in rows)

    base = pairs()
    assert base, "planted clones must verify"
    monkeypatch.setattr(spread_mod, "_EXCHANGE_INPUT_BUDGET", 64)
    assert pairs() == base


def test_subset_key_exchange_satisfies_wider_groupby(spark, sf_dir, monkeypatch):
    """tfidf_vectors' design fact: a hash exchange on a SUBSET of the
    group keys (term) satisfies a wider groupBy's clustering (id, term) —
    equal (id, term) implies equal term implies same partition. Exactly
    one exchange below the (id, term) aggregation."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exploded = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), "\\s+")).alias("term")
    )
    monkeypatch.setattr(spread_mod, "_EXCHANGE_INPUT_BUDGET", 64)
    out = (
        scaled_repartition(exploded, "term", source=docs)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("+- Exchange") + plan.count(":- Exchange") == 1
    assert "hashpartitioning(term#" in plan


def test_scaled_exchanges_preserve_tfidf_and_encoding(spark, sf_dir, monkeypatch):
    """tfidf_vectors and encode/decode reassembly also auto-size; forcing
    the guard ON must not change any result."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.encoding import (
        build_vocab,
        decode_ids,
        encode_documents,
    )
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.search import (
        tf_idf_vectors,
    )

    docs = spread(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        "doc_id",
    )

    def snapshot():
        tv = tf_idf_vectors(docs, vocab_size=50).collect()
        vocab = build_vocab(docs, vocab_size=64)
        encoded = encode_documents(docs, vocab)
        en = encoded.collect()
        de = decode_ids(encoded, vocab).collect()
        key = lambda r: tuple(str(v) for v in r)
        return [sorted(rows, key=key) for rows in (tv, en, de)]

    base = snapshot()
    monkeypatch.setattr(spread_mod, "_EXCHANGE_INPUT_BUDGET", 64)
    assert snapshot() == base


def test_tfidf_pin_drops_checkpoint_at_scale(spark, sf_dir, monkeypatch):
    """The round-11 fix for the 50 M-doc tf-idf OOM: at bench SFs the
    (doc, term, tf) postings pin is a localCheckpoint; when the exchange
    guard fires, the checkpoint is DROPPED and the term-keyed scaled
    exchange's shuffle files are the pin — a corpus-sized checkpoint
    builds whole postings partitions in block-manager memory (the
    demonstrated 32 GiB OOM, BASELINE.md round-10). The one scaled
    exchange must serve BOTH downstream aggregations (subset-key rule:
    (id, term) and term), so no session-default exchange may appear."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.search import (
        tf_idf_vectors,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # Guard off: checkpoint pin present (ExistingRDD scan in the plan).
    bench_plan = (
        tf_idf_vectors(docs, vocab_size=50)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ExistingRDD" in bench_plan

    # Guard on: no checkpoint anywhere, and every hash exchange in the
    # plan is the scaled term-keyed one (possibly printed once per
    # consumer pre-reuse) — a session-default-sized exchange here means
    # an aggregation stopped being served by the scaled exchange.
    monkeypatch.setattr(spread_mod, "_EXCHANGE_INPUT_BUDGET", 64)
    n = exchange_partitions(docs)
    assert n is not None
    out = tf_idf_vectors(docs, vocab_size=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan
    import re

    sizes = {
        int(m.group(1))
        for m in re.finditer(r"Exchange hashpartitioning\([^)]*, (\d+)\)", plan)
    }
    assert sizes == {n}, (sizes, n, plan[:3000])


def test_exchange_partitions_through_union_with_local_relation(
    spark, sf_dir, monkeypatch
):
    """The c17/c15 input shape: a parquet scan unionByName'd with a tiny
    local relation (planted rows). inputFiles() must surface the scan's
    files THROUGH the union so the guard still sizes from corpus bytes —
    if a union ever hid the file lineage, every planted-row query would
    silently fall back to the session default at scale (the OOM shape
    the guard exists to remove)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    local = spark.createDataFrame(
        [(999_999_001, "planted row")], "doc_id long, text string"
    )
    u = docs.unionByName(local)
    assert u.inputFiles()  # file lineage visible through the union
    monkeypatch.setattr(spread_mod, "_EXCHANGE_INPUT_BUDGET", 64)
    n_docs = exchange_partitions(docs)
    n_union = exchange_partitions(u)
    assert n_docs is not None
    # The local relation contributes no file bytes: same scaled count.
    assert n_union == n_docs


def test_linedup_fingerprint_form_never_shuffles_line_bodies(
    spark, sf_dir, monkeypatch
):
    """The fingerprint form's contract: no hash exchange is keyed on line
    text — the df pass rides (fp0, fp1) and the only text-volume exchange
    is the id-keyed join-back. With the guard forced ON, the fingerprint
    and join exchanges must sit at the scaled count."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators import linedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    monkeypatch.setattr(spread_mod, "_EXCHANGE_INPUT_BUDGET", 64)
    n = exchange_partitions(docs)
    out = linedup.drop_duplicate_lines(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # Parse each hash exchange's actual key list (last arg is the
    # partition count): every key must be a fingerprint word or the doc
    # id — a text-keyed ('_line') exchange fails by NAME, not by a
    # substring heuristic a co-printed _fp column could satisfy.
    import re

    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert exchanges
    for args in exchanges:
        keys = {k.strip().split("#")[0] for k in args.split(",")[:-1]}
        assert keys <= {"_fp0", "_fp1", "doc_id"}, keys
    assert "_fp0" in plan
    assert f", {n})" in plan


def test_plan_level_guards_match_oracle_at_scale(spark, sf_dir, monkeypatch):
    """Every registered query with exchange_partitions forced ON (budget =
    64 bytes), so each spread.pin and scaled exchange takes its at-scale
    shape on the fixture: no checkpoint, scaled repartitions instead. Each
    result must still match its DuckDB oracle under the driver-check
    comparison of tools/verify_local.py; a query with no oracle gets that
    tool's rows-only run."""
    import importlib.util
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    spec = importlib.util.spec_from_file_location(
        "verify_local", root / "tools" / "verify_local.py"
    )
    vl = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vl)  # also puts the repo root on sys.path
    import __spark_entry__ as entry

    monkeypatch.setattr(spread_mod, "_EXCHANGE_INPUT_BUDGET", 64)
    assert exchange_partitions(load_table(spark, sf_dir, "events")) is not None
    assert exchange_partitions(load_table(spark, sf_dir, "documents")) is not None
    qs, oracles = entry.queries(), entry.oracle_sql()
    con = vl.duck_con(sf_dir)
    mismatched = []
    for name, fn in qs.items():
        sdf = fn(spark, sf_dir)
        rows = [tuple(r) for r in sdf.collect()]
        if name not in oracles:
            continue
        s_rows, s_cols = vl.normalize(rows, sdf.columns)
        cur = con.execute(oracles[name])
        o_rows, o_cols = vl.normalize(
            [tuple(r) for r in cur.fetchall()], [d[0] for d in cur.description]
        )
        if not (
            s_rows
            and s_cols == o_cols
            and len(s_rows) == len(o_rows)
            and vl.rows_equal(s_rows, o_rows)
        ):
            mismatched.append(name)
    assert not mismatched, mismatched
