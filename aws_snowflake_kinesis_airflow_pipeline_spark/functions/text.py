"""Text-analysis column functions for LLM-data pipelines.

All pure `pyspark.sql.functions` compositions — JVM-side, codegen'd, zero
Python in the row path. These are the building blocks for the dedup /
quality / language operators in ``operators/dedup.py`` and the query suite.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Whitespace character class used consistently engine-wide. Written out
#: explicitly instead of ``\s`` because the engine's regexes run under Java
#: regex while the DuckDB oracles run under RE2, and the two disagree on
#: ``\s``: Java includes vertical tab (\x0B), RE2 does not. This class IS
#: RE2's ``\s`` — so every oracle keeps writing ``\s`` and the engines
#: agree on every codepoint.
WS_CLASS = " \\t\\n\\f\\r"

#: Tokenizer used consistently engine-wide: any-whitespace regex split with
#: empty tokens filtered out — tabs/newlines/runs of spaces all separate
#: tokens, leading/trailing whitespace of ANY kind never fabricates
#: empty-string tokens (a space-only trim left them in for tab/newline
#: padding), and empty/whitespace-only documents tokenize to an empty
#: array. Oracles mirror with LIST_FILTER(STRING_SPLIT_REGEX(...), ...).
TOKEN_SPLIT_RE = f"[{WS_CLASS}]+"

#: Codepoint ranges of no-space scripts (CJK ideographs, kana, hangul):
#: whitespace tokenization degenerates there (one giant token), so shingle
#: operators fall back to character n-grams (see char_shingles).
NO_SPACE_SCRIPT_RE = r"[一-鿿぀-ヿ가-힣]"

#: Character n-gram width of that fallback.
CHAR_SHINGLE_K = 5

#: BPE-ish lexer: words of alphanumerics OR single non-space punctuation —
#: the classic pre-tokenization regex shape used by byte-pair encoders.
#: Same WS_CLASS spelling as the tokenizer (RE2/Java ``\s`` parity).
BPE_TOKEN_RE = f"[a-zA-Z0-9]+|[^a-zA-Z0-9{WS_CLASS}]"

#: Tiny per-language marker-word lists for the n-gram/stopword language-ID
#: heuristic. Intentionally small: the operator's shape (scored argmax over
#: marker hits) is the point; production would swap richer tables in.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "von"],
    "es": ["el", "la", "los", "las", "es", "en", "que", "por", "con", "una"],
    "fr": ["le", "la", "les", "est", "et", "dans", "que", "pour", "une", "avec"],
}

ENGLISH_STOPWORDS = LANG_MARKERS["en"] + ["a", "an", "on", "at", "by", "as"]


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, TOKEN_SPLIT_RE), lambda t: t != F.lit(""))


def lower_tokens() -> Column:
    """Lowercased :func:`tokens` of ``text``; NULL text gives an empty
    array, not NULL (a NULL would fall out of avg(dl) and shift every BM25
    length norm)."""
    return tokens(F.lower(F.coalesce(F.col("text"), F.lit(""))))


def token_count() -> Column:
    """Whitespace token count of ``text``."""
    return F.size(tokens("text"))


#: Every char the BPE lexer's SECOND branch must NOT match: deleting these
#: via translate() leaves exactly the single-char punctuation matches.
_BPE_ALNUM_WS = (
    "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    " \t\n\f\r"
)


def bpe_token_count() -> Column:
    """BPE-ish token count of ``text`` — semantically ``regexp_count(BPE_TOKEN_RE)``
    but decomposed so the JVM never runs the alternation: total matches =
    (alnum RUNS, a single-class regex) + (chars that are neither alnum
    nor whitespace, counted by translate-delete, no regex at all). The
    alternation form re-enters the regex engine per character and
    measured 10.9 s vs 1.2 s for this form on sf10's 500k docs
    (BASELINE.md round-7 notes); values are identical, including NULL
    text -> NULL (no coalesce, exactly as regexp_count behaves)."""
    c = F.col("text")
    return F.regexp_count(c, F.lit("[a-zA-Z0-9]+")) + F.length(
        F.translate(c, _BPE_ALNUM_WS, "")
    )


def word_shingles(tokens_col: Column, k: int = 3) -> Column:
    """Word k-gram shingles as an array<string> (empty when < k tokens).

    Pure array expression: transform over a sequence of start offsets,
    concat_ws over each slice — no explode, no UDF.
    """
    # O(n) per document: zip k shifted copies of the token array instead of
    # slicing per position (transform+slice is O(n*k) with per-row copies —
    # measured 4x slower at corpus scale).
    acc = tokens_col
    for i in range(1, k):
        shifted = F.slice(
            tokens_col, i + 1, F.greatest(F.size(tokens_col) - i, F.lit(0))
        )
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    complete = F.slice(
        acc, 1, F.greatest(F.size(tokens_col) - (k - 1), F.lit(0))
    )
    return F.when(F.size(tokens_col) >= k, complete).otherwise(
        F.array().cast("array<string>")
    )


def char_shingles(col: Column | str) -> Column:
    """Character ``CHAR_SHINGLE_K``-gram shingles of the normalized text
    (empty when the text is shorter than that) — the shingle unit for
    no-space scripts, where a word shingle would be one giant token and
    the document would silently vanish from every dedup/similarity
    signal. Pure array expression (sequence of offsets -> substr), no
    explode, no UDF."""
    c = fingerprint_normalize(col)
    n = F.length(c)
    k = CHAR_SHINGLE_K
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.substr(c, i, F.lit(k)),
    )
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))


def adaptive_shingles(k: int = 3) -> Column:
    """Word k-gram shingles of ``text``, falling back to :func:`char_shingles`
    for documents containing no-space-script codepoints (CJK) — the
    multilingual-honest shingle unit used by the dedup family. The branch
    is per-document and purely expression-level; corpora without CJK text
    take the word path everywhere (and match the word-shingle SQL
    oracles)."""
    c = F.col("text")
    has_no_space_script = F.regexp_count(c, F.lit(NO_SPACE_SCRIPT_RE)) > 0
    return F.when(has_no_space_script, char_shingles(c)).otherwise(
        word_shingles(tokens(c), k)
    )


def fingerprint_normalize(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace,
    trim. (Distinct from functions/normalize.py::normalize_text, the NFKC
    unicode-cleaning pack — this one is the lossy shingle/fingerprint key.)
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), TOKEN_SPLIT_RE, " "))


def doc_fingerprint(col: Column | str) -> Column:
    """Deterministic 128-bit content fingerprint of the normalized text.

    md5 keeps the oracle trivially expressible; xxhash64 is the cheaper
    in-engine alternative when cross-engine parity isn't needed.
    """
    return F.md5(fingerprint_normalize(col))


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are not letter/digit/whitespace.

    Unicode categories (\\p{L}/\\p{N}), not [a-zA-Z0-9]: accented letters
    and CJK ideographs are letters, not punctuation — the ASCII form
    scored every non-English document as ~100% punctuation and tanked its
    quality score."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, f"[^\\p{{L}}\\p{{N}}{WS_CLASS}]", "")
    return (F.length(c) - F.length(stripped)) / F.greatest(F.length(c), F.lit(1))


def stopword_ratio() -> Column:
    """Fraction of ``text``'s whitespace tokens that are English stopwords."""
    sw = F.array(*[F.lit(w) for w in ENGLISH_STOPWORDS])
    t = tokens("text")
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    return n_stop / F.greatest(F.size(t), F.lit(1))


def dup_word_frac() -> Column:
    """Fraction of ``text``'s tokens that are repeats of an earlier token — the
    Gopher/Dolma within-document repetition signal (their duplicate-line
    fraction, at word granularity for single-line corpora). 0 = all tokens
    distinct, →1 = one token repeated throughout.

    Uses the engine-wide whitespace tokenizer (split + empty-token filter),
    so separator runs and padding of any whitespace kind never fabricate
    empty-string "repeats"; empty documents score 0 here and are gated by
    the length component of quality_score instead."""
    t = tokens("text")
    return (F.size(t) - F.size(F.array_distinct(t))) / F.greatest(
        F.size(t), F.lit(1)
    )


def top_word_frac() -> Column:
    """Fraction of ``text``'s tokens taken by the single most frequent token (Gopher's
    top-n-gram character fraction, n=1, token-counted). Computed as the
    longest equal-run in the sorted token array — O(L log L) per row vs the
    naive distinct×filter O(L²), which dominated the sf1 text-feature scan
    (19 s → the token sort is the new ceiling). No shuffle, no explode;
    bounded by document length, not corpus size."""
    t = tokens("text")
    srt = F.array_sort(t)
    # fold: state = (prev token, current run length, best run length)
    state = F.aggregate(
        srt,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda s, x: F.struct(
            x.alias("prev"),
            F.when(x.eqNullSafe(s["prev"]), s["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                s["best"],
                F.when(x.eqNullSafe(s["prev"]), s["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    return state["best"] / F.greatest(F.size(t), F.lit(1))


def mean_token_len(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    t = tokens(col)
    non_space_chars = F.length(F.regexp_replace(c, f"[{WS_CLASS}]", ""))
    return non_space_chars / F.greatest(F.size(t), F.lit(1))


def quality_score() -> Column:
    """Composite document-quality heuristic of ``text``, in [0, 1].

    Rewards: reasonable length (saturating at 200 chars), low punctuation
    density, moderate mean word length. The exact blend is a placeholder —
    the operator contract (pure column expression, SQL-expressible, cheap)
    is what the engine guarantees.
    """
    c = F.col("text")
    length_component = F.least(F.length(c) / F.lit(200.0), F.lit(1.0))
    punct_component = 1.0 - F.least(punct_ratio(c) * 5.0, F.lit(1.0))
    wordlen = mean_token_len(c)
    wordlen_component = F.when((wordlen >= 3) & (wordlen <= 10), 1.0).otherwise(0.5)
    return F.round(
        0.4 * length_component + 0.3 * punct_component + 0.3 * wordlen_component, 4
    )


def lang_id() -> Column:
    """Marker-word language ID of ``text`` over {en, de, es, fr} + CJK detection for zh.

    Heuristic shape: tokenize, count marker hits per language, argmax with
    'und' (undetermined) fallback when nothing matches; any CJK codepoint
    short-circuits to 'zh'. All built-ins — scales as a scan.
    """
    c = F.col("text")
    t = F.split(F.lower(c), TOKEN_SPLIT_RE)
    def _marker_hits(markers: list[str]) -> Column:
        arr = F.array(*[F.lit(w) for w in markers])
        return F.size(F.filter(t, lambda x: F.array_contains(arr, x)))

    scores = {lang: _marker_hits(m) for lang, m in LANG_MARKERS.items()}
    has_cjk = F.regexp_count(c, F.lit(r"[一-鿿]")) > 0
    best = F.greatest(*scores.values())
    result = F.lit("und")
    # reversed() so earlier languages win ties via the final when() ordering
    for lang in reversed(list(scores)):
        result = F.when(scores[lang] == best, F.lit(lang)).otherwise(result)
    result = F.when(best == 0, F.lit("und")).otherwise(result)
    return F.when(has_cjk, F.lit("zh")).otherwise(result)
