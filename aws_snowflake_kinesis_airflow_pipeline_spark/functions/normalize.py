"""Unicode text normalization — the cleaning pass before any dedup/quality
signal is trustworthy.

Web text arrives with full-width compatibility forms, ligatures, curly
quotes, seven kinds of dash, zero-width joiners and stray control bytes;
two byte-different strings that render identically MUST dedup together.
The pack:

* :func:`unicode_normalize` — NFKC via ``unicodedata`` in an
  Arrow-batched ``pandas_udf`` (Spark SQL has no normalization builtin;
  this is the one genuinely non-JVM step, batched so the Python cost is
  per-Arrow-batch, and the kernel is a C-implemented stdlib call per row).
* :func:`strip_control` / :func:`standardize_punct` /
  :func:`collapse_whitespace` — pure JVM ``regexp_replace`` / ``translate``
  expressions, whole-stage codegen.
* :func:`normalize_text` — the composed cleaning column, idempotent
  (tested): normalize(normalize(x)) == normalize(x).
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column, functions as F

from .text import WS_CLASS

#: Curly/typographic punctuation -> ASCII. `translate` is a 1:1 char map —
#: one JVM pass, no regex engine.
_PUNCT_FROM = "‘’‚‛“”„‟–—―«»"
_PUNCT_TO = "''''\"\"\"\"---\"\""

#: Control (Cc except \t\n\r) and format (Cf: zero-width, BOM, bidi marks).
_CONTROL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f\p{Cf}]"


def unicode_normalize(col: Column | str) -> Column:
    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: unicodedata.normalize("NFKC", x) if x is not None else None
        )

    return _norm(F.col(col) if isinstance(col, str) else col)


def strip_control(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, _CONTROL_RE, "")


def standardize_punct(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(c, _PUNCT_FROM, _PUNCT_TO)


def collapse_whitespace(col: Column | str) -> Column:
    """Runs of whitespace -> one space, ends trimmed (the fingerprint
    normalization, reusable standalone). Spelled with the engine-wide
    WS_CLASS, not Java ``\\s``: Java's ``\\s`` includes vertical tab
    where the DuckDB/RE2 oracles' does not, and a standalone caller (the
    composed normalize_text strips \\x0B earlier, so it never sees the
    difference) would get engine-divergent canonical strings."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(c, f"[{WS_CLASS}]+", " "))


def normalize_text(col: Column | str) -> Column:
    """The composed cleaning pass: unicode-normalize, strip control/format
    chars, unify typographic punctuation, collapse whitespace."""
    return collapse_whitespace(
        standardize_punct(strip_control(unicode_normalize(col)))
    )
