"""Incremental-index probe decade: is probe cost O(batch), not O(corpus)?

operators/incremental.py's central 100 TB claim (its module docstring):
each increment costs O(|batch| + |candidates|) shuffle plus ONE narrow
corpus scan — nothing corpus-sized is shuffled, re-tokenized, or
re-MinHashed. Every other corpus-volume family has decade measurements
behind its scale story; this harness gives the incremental family its
own, with the lifecycle phases timed SEPARATELY (the index build is paid
once per corpus, the probe once per increment — folding them together is
exactly the c2-bench conflation round 11 flagged):

  build  — write_minhash_index over the corpus (one-time, ~linear)
  probe  — incremental_near_dup_pairs of a FIXED batch vs the store

The batch is the same 100 k documents at every corpus tier (the replica
derivation makes doc_id < batch_rows identical content in every .scale
docs dir), id-shifted by 2^41 so batch ids never collide with corpus
ids. Each batch doc exact-duplicates its corpus original (jaccard 1.0),
so candidate volume is >= |batch| and the verify path is genuinely
exercised. Sublinearity evidence = probe wall across corpus decades
growing far below 10x while the batch is constant; the corpus's only
probe-side cost is the narrow bucket-store scan (24 B/row).

Usage: python tools/bench_incremental.py <corpus_dir> [--batch=100000]
       [--reps=2] [--keep-index]
       e.g. .scale/sf100docs (5 M) then .scale/sf1000docs (50 M)

The index is written under <corpus_dir>'s basename in .scale/_incidx/
(gitignored, sibling of the fixtures) and reused across invocations
unless missing — pass --rebuild to force; --keep-index is the default,
there is no auto-delete (a 50 M build is not rerunnable on a whim).
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from aws_snowflake_kinesis_airflow_pipeline_spark.operators import (  # noqa: E402
    incremental,
)
from aws_snowflake_kinesis_airflow_pipeline_spark.operators.spread import (  # noqa: E402
    spread,
)
from aws_snowflake_kinesis_airflow_pipeline_spark.session import get_spark  # noqa: E402

_ID_SHIFT = 1 << 41


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    batch_rows, reps, rebuild = 100_000, 2, False
    for a in sys.argv[1:]:
        if a.startswith("--batch="):
            batch_rows = int(a.split("=", 1)[1])
        elif a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
        elif a == "--rebuild":
            rebuild = True
    corpus_dir = args[0]

    spark = get_spark(app_name="bench_incremental")
    docs = spread(
        spark.read.parquet(f"{corpus_dir}/documents.parquet").select(
            "doc_id", "text"
        ),
        "doc_id",
    )
    n_docs = docs.count()
    batch = docs.filter(F.col("doc_id") < batch_rows).select(
        (F.col("doc_id") + _ID_SHIFT).alias("doc_id"), "text"
    )

    idx_root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scale",
        "_incidx",
    )
    path = os.path.join(idx_root, os.path.basename(os.path.normpath(corpus_dir)))
    built = os.path.isdir(f"{path}/buckets") and not rebuild
    print(
        f"corpus={corpus_dir} docs={n_docs} batch={batch_rows} reps={reps} "
        f"index={path} reuse={built} "
        f"heap={spark.sparkContext.getConf().get('spark.driver.memory')}",
        flush=True,
    )
    if not built:
        if os.path.isdir(path):
            shutil.rmtree(path)
        t0 = time.perf_counter()
        incremental.write_minhash_index(docs, path)
        print(f"build  {time.perf_counter() - t0:8.1f} s", flush=True)

    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        incremental.incremental_near_dup_pairs(
            spark, batch, path
        ).write.format("noop").mode("overwrite").save()
        walls.append(time.perf_counter() - t0)
        print(f"probe rep {walls[-1]:8.1f} s", flush=True)
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()
    print(
        f"probe best {min(walls):8.1f} s  "
        f"({', '.join(f'{w:.1f}' for w in walls)})  "
        f"batch_docs/s={batch_rows / min(walls):,.0f}",
        flush=True,
    )


if __name__ == "__main__":
    main()
