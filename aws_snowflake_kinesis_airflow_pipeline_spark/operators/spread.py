"""Scan-parallelism guard: repartition small scans up to the core count
before CPU-heavy per-row work, and do nothing at cluster scale.

A small parquet file is one row group = one scan task, so heavy per-row
expression work (shingling, token explode, regex feature packs, signature
hashing) serializes on a single core while the rest idle — measured
3.3 s -> 0.6 s on the sf0.1 shingle index and 7.2 s -> ~1.5 s on the sf1
text-feature pack. At 100 TB the input arrives in thousands of file
splits, the guard is false, and no extra text-carrying shuffle is ever
added.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame

_BYTE_SUFFIX = {"k": 2**10, "m": 2**20, "g": 2**30, "t": 2**40, "p": 2**50}


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition up to the session's core count before a CPU-heavy
    per-row expansion — but ONLY when the incoming plan has fewer
    partitions than cores (see module docstring for why).

    The partition count comes from pure metadata — Spark's own
    split-packing arithmetic (FilePartition.maxSplitBytes) over
    ``df.inputFiles()`` sizes — so plan construction never instantiates an
    RDD. For non-file-backed inputs (in-memory fixtures) it falls back to
    an RDD probe, which is only safe on shuffle-free plans: under AQE,
    materializing the RDD of a plan that contains an Exchange executes its
    shuffle stages at plan-construction time. A shuffled input is already
    parallelized to spark.sql.shuffle.partitions, so when the physical
    plan shows an Exchange we skip both the probe and the repartition.
    """
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "Exchange" in plan:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files:
        conf = df.sparkSession.conf
        max_part = _bytes_conf(conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
        open_cost = _bytes_conf(conf.get("spark.sql.files.openCostInBytes", "4MB"))
        sizes = [_local_file_size(uri) for uri in files]
        if any(s is None for s in sizes):
            # Remote scheme: stat-per-file is a network call, and remote
            # inputs at scale arrive in thousands of splits — skip.
            return df
        total = sum(sizes) + open_cost * len(files)
        max_split = min(max_part, max(open_cost, total // max(target, 1)))
        n_parts = max(1, math.ceil(total / max(max_split, 1)))
    else:
        n_parts = df.rdd.getNumPartitions()
    if n_parts >= target:
        return df
    return df.repartition(target, *cols)


#: Compressed input bytes per shuffle partition for data-volume exchanges.
#: Calibrated on the 5 M-document dedup decade (651 MB parquet,
#: BASELINE.md round-8/9 tables): 32 partitions (the local session default)
#: OOMs the banding/shingle aggregations, 128 clears them but spills
#: (c2 306 s), 256 = ~2.5 MiB input/partition runs clean (c2 175 s). The
#: budget is compressed-parquet bytes because that is the only number
#: available from pure metadata; the ~50-100x in-memory expansion of a
#: text corpus through shingling/banding is what it implicitly prices.
_EXCHANGE_INPUT_BUDGET = 5 * 2**19  # 2.5 MiB


def exchange_partitions(source: DataFrame) -> int | None:
    """Partition count for a corpus-volume exchange, derived from the
    source scan's file bytes — or None when the session default already
    suffices.

    This is the round-8 5 M-doc lesson made automatic: shuffle-partition
    count must track data volume, and on a single box nothing re-sizes an
    aggregation exchange upward (AQE only coalesces DOWN and only splits
    skewed JOIN partitions), so an input 1000x the bench SF lands on the
    same 32 final-aggregation partitions and OOMs. Pure metadata (same
    discipline as :func:`spread`): file sizes only, no RDD instantiation,
    and remote/file-less inputs return None — on a real cluster the
    operator-level default (thousands of shuffle partitions + AQE
    coalescing) is the right mechanism, and this guard must not fight it.
    """
    spark = source.sparkSession
    try:
        session_parts = int(
            spark.conf.get(
                "spark.sql.shuffle.partitions",
                str(spark.sparkContext.defaultParallelism),
            )
        )
    except ValueError:
        # Non-integer values exist in the wild ("auto" on some managed
        # platforms) — trust the session/AQE there rather than raise.
        return None
    files = source.inputFiles()
    if not files:
        return None
    sizes = [_local_file_size(uri) for uri in files]
    if any(s is None for s in sizes):
        return None
    # The budget is read at call time so tests can monkeypatch it to force
    # the guard at tiny fixtures.
    n = math.ceil(sum(sizes) / max(_EXCHANGE_INPUT_BUDGET, 1))
    return n if n > session_parts else None


def scaled_repartition(
    df: DataFrame, *cols: str, source: DataFrame | None = None
) -> DataFrame:
    """Repartition ``df`` on its upcoming exchange keys with a partition
    count scaled to ``source``'s input bytes (default: ``df`` itself —
    pass the pre-checkpoint frame when ``df``'s lineage is truncated).

    No-op when :func:`exchange_partitions` says the session default is
    fine, so bench-SF plans are byte-identical. When it fires, the
    explicit hash exchange SATISFIES the downstream groupBy's clustering
    requirement (verified in tests: one exchange in the plan, not two),
    so the aggregation's final hash maps are built over ``n`` right-sized
    partitions instead of the session's fixed count. The trade — losing
    map-side partial aggregation below the exchange — is free for the
    collect_list/pair-emission exchanges this guards (partials don't
    reduce list bytes, and grouped-emission pairs are ~1.1x duplicated at
    most)."""
    n = exchange_partitions(source if source is not None else df)
    if n is None:
        return df
    return df.repartition(n, *cols)


def pin(
    frame: DataFrame, *keys: str, source: DataFrame | None = None
) -> DataFrame:
    """Pin an intermediate that several consumers (or re-plans) read, in
    the shape that is safe at the input's scale. ``source`` is the frame
    whose scan bytes size the decision (default: ``frame`` itself).

    At bench SFs (:func:`exchange_partitions` says the session default
    suffices): ``localCheckpoint`` — materializes the intermediate once so
    no re-plan can replay it, the round-5 discipline, measured free at
    sf10. Lazy (round-12, guide §2.6): the blocks still build exactly once
    — a lazy local checkpoint is one RDD, computed and persisted by the
    first job that touches it, and every later consumer (or re-plan) reads
    the blocks — but the build folds into the first downstream action
    instead of running as a standalone driver-waited job, so independent
    stages overlap and per-job scheduling latency is paid once, not per
    pin.

    When the guard fires (input >> bench SF) the checkpoint is dropped:
    with ``keys``, a scaled ``repartition`` on the downstream aggregation
    keys takes its place; without, ``frame`` is returned unchanged. The
    exchange's shuffle files are the same pin (map output is written
    once; downstream re-plans re-read files, never recompute), while the
    checkpoint is actively harmful at this scale in two ways it was
    measured to be: its blocks build at the SCAN's partition count (32
    corpus-sized block builds in flight = the round-9 16 g OOM), and
    Spark's LogicalRDD drops outputPartitioning (pinned in test_spread),
    so a checkpoint above the exchange would force the groupBy to
    re-shuffle the whole corpus a second time.
    """
    n = exchange_partitions(source if source is not None else frame)
    if n is None:
        return frame.localCheckpoint(eager=False)
    return frame.repartition(n, *keys) if keys else frame


def _bytes_conf(value: str) -> int:
    """Parse a Spark byte-size conf string ("134217728", "128MB", "4m")."""
    v = value.strip().lower().removesuffix("b")
    if v and v[-1] in _BYTE_SUFFIX:
        return int(float(v[:-1]) * _BYTE_SUFFIX[v[-1]])
    return int(v)


def _local_file_size(uri: str) -> int | None:
    """Byte size of a file:// (or bare-path) input URI; None for remote
    schemes, where driver-side stat would be a network call per file."""
    path = uri[7:] if uri.startswith("file://") else uri
    if "://" in path:
        return None
    try:
        return os.path.getsize(path)
    except OSError:
        return None
