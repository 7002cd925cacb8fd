"""Corpus-wide line-level dedup: strip boilerplate lines shared by many
documents (SURVEY.md §2 B30).

The CCNet/Dolma pre-training stage between document dedup and quality
filtering: navigation chrome, cookie banners, footers and license
boilerplate repeat across thousands of pages, survive *document*-level
dedup (each page is still unique as a whole), and poison n-gram statistics.
The fix is frequency-based: a line whose DOCUMENT frequency exceeds a
threshold is boilerplate and is removed from every document; each
document's remaining lines are reassembled in their original order.

Scale shape — line bodies never enter an exchange:

1. line df: row-local split + posexplode projected to (id, pos, fp0,
   fp1) — two seeded xxhash64s of the line, 28 bytes/row; ONE scaled
   fingerprint-keyed exchange serves both the per-document distinct
   (subset-key rule) and the df count above it;
2. hot occurrences: the hot fingerprint set (small, aggregate-bounded;
   AQE broadcasts it from actual size) inner-joins the narrow
   projection, and hot occurrences group to one (id, sorted position
   list) row per affected document;
3. rebuild: the original scan joins those position lists on one
   id-keyed scaled exchange — the operator's one text-volume exchange —
   and rebuilds clean_text row-locally with filter-by-index +
   array_join.

No step is ever pair-quadratic and no driver-side collection exists at
any size. Output is identical to a text-keyed plan up to 128-bit
fingerprint collisions (below hardware-error probability). The text-keyed
form was retired by measurement: 7.0 → 3.8 s at 5 M docs and 241.4 →
79.8 s at 50 M (BASELINE.md, round-11 line-dedup fingerprint A/B).

Residual skew note: when the auto-sizing guard fires, the
fingerprint-keyed exchange routes ALL occurrences of one viral line to a
single partition (the explicit repartition sits below the distinct, so
map-side partial dedup no longer thins them first). The reducer's STATE
stays small (the dedup map holds one entry per document carrying the
line), so this is a CPU straggler bounded by that line's occurrence
count, not an OOM — and the alternative (keeping the distinct's own
(id, fp)-keyed exchange) needs a second scaled corpus exchange for the
df count, doubling shuffle volume to dodge a bounded straggler.
Deliberately not taken.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .spread import scaled_repartition as _scaled_repartition


def drop_duplicate_lines(df: DataFrame) -> DataFrame:
    """Remove every line of ``text`` whose document frequency exceeds 3.

    Returns one row per input document: ``(doc_id, clean_text, n_lines,
    n_kept)`` — the reassembled text (original line order, newline
    rejoined; empty string when every line was boilerplate), the original
    line count, and the kept line count. A line's document frequency
    counts each document once however often the line repeats inside it.
    Documents with no text produce ``clean_text = ''``.
    """
    # coalesce: split(NULL) is NULL and posexplode of NULL emits no rows,
    # which would drop NULL-text documents from the output entirely —
    # the contract is one row per input document, clean_text = ''.
    # F.split takes a Java regex: an escaped newline.
    arr = F.split(F.coalesce(F.col("text"), F.lit("")), F.lit("\\\n"), -1)
    lines = df.select(
        F.col("doc_id"), F.posexplode(arr).alias("pos", "_line")
    )
    fps = lines.select(
        "doc_id",
        "pos",
        F.xxhash64(F.lit(0), "_line").alias("_fp0"),
        F.xxhash64(F.lit(1), "_line").alias("_fp1"),
    )
    hot = (
        _scaled_repartition(
            fps.select("doc_id", "_fp0", "_fp1"), "_fp0", "_fp1", source=df
        )
        .distinct()
        .groupBy("_fp0", "_fp1")
        .agg(F.count("*").alias("_line_df"))
        .filter(F.col("_line_df") > 3)
        .select("_fp0", "_fp1")
    )
    # Inner join: only hot OCCURRENCES survive (small — each document's
    # boilerplate line count); the hot set is aggregate-bounded and AQE
    # broadcasts it from actual size, so this adds no exchange to the
    # narrow projection.
    hot_pos = (
        fps.join(hot, ["_fp0", "_fp1"])
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("_hot_pos"))
    )
    # Join-back + row-local rebuild. Both join sides ride scaled id-keyed
    # exchanges (no-op at bench SFs): the text side is the operator's one
    # unavoidable text-volume exchange, the position side is small.
    joined = _scaled_repartition(df, "doc_id", source=df).join(
        _scaled_repartition(hot_pos, "doc_id", source=df), "doc_id", "left"
    )
    hp = F.coalesce(F.col("_hot_pos"), F.array().cast("array<int>"))
    return joined.select(
        F.col("doc_id"),
        F.array_join(
            F.filter(arr, lambda x, i: ~F.array_contains(hp, i)), "\n"
        ).alias("clean_text"),
        F.size(arr).cast("long").alias("n_lines"),
        (F.size(arr) - F.size(hp)).cast("long").alias("n_kept"),
    )
