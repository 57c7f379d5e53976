"""Deterministic tokenizer — the engine's analog of the reference's
token counting (`src/logsentinelai/core/token_utils.py:9-45`, which uses
tiktoken or a whitespace fallback). Ours must be byte-stable across the
single-node oracle and the distributed Arrow UDF path, so it is one
compiled regex applied identically in both.

Contract (pinned by tests/golden fixtures):
  tokens(text) = all non-overlapping matches of ``[^\\W_]+`` (Unicode
  letters/digits/marks; underscore excluded) over ``text.lower()``.

For DuckDB-oracle parity on the ASCII ``documents`` table we expose the
equivalent ASCII pattern ``[a-z0-9]+`` as SQL_TOKEN_PATTERN — on ASCII
input the two patterns agree; the Unicode pattern is the engine truth
for the multilingual pages corpus (FIXTURES.md: en/ko/fa).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

TOKEN_RE = re.compile(r"[^\W_]+", re.UNICODE)

# ASCII-equivalent pattern usable verbatim in both Spark SQL (Java regex)
# and DuckDB (RE2) for oracle queries over ASCII text.
SQL_TOKEN_PATTERN = "[a-z0-9]+"


def tokens(text: str | None) -> list[str]:
    """Single-node reference tokenizer (oracle)."""
    if not text:
        return []
    return TOKEN_RE.findall(text.lower())


def tokens_series(text: pd.Series) -> pd.Series:
    """Vectorized pandas implementation (per Arrow batch)."""
    return text.fillna("").str.lower().str.findall(TOKEN_RE)


# --------------------------------------------------------------- Arrow path
#
# The hot path (index build) tokenizes in Arrow C++ (RE2) instead of
# Python re: zero PyObjects per token, which is what lets 32 concurrent
# workers scale (object-dtype findall was the memory-bandwidth hot spot).
# Identity with the Python oracle is BY CONSTRUCTION, not by hoping two
# regex engines agree:
#   * the RE2 separator class is generated at runtime from THIS
#     interpreter's own `re` module — every codepoint r'[^\W_]' matches,
#     merged into explicit \x{....} ranges (no \p{..} table drift);
#   * U+0130 (Turkish dotted I) is pre-replaced with its Python
#     str.lower() expansion "i̇" because utf8proc's lower() maps it
#     to a bare "i" — the one codepoint (verified exhaustively) where
#     the two lowercasings disagree;
#   * split-on-separator keeps empty edge tokens; callers drop them
#     (re.findall never emits empties).
# tests/test_extract_tokenize.py fuzzes the two paths against each other.

_SEP_PATTERN: str | None = None


def arrow_sep_pattern() -> str:
    """RE2 separator pattern [^<word ranges>]+, generated once per
    process from the local Python regex engine (the oracle) — about
    1.1M ``re.match`` calls, ~0.5 s."""
    global _SEP_PATTERN
    if _SEP_PATTERN is None:
        word = re.compile(r"[^\W_]")
        cps = [c for c in range(0x110000)
               if not (0xD800 <= c <= 0xDFFF) and word.match(chr(c))]
        ranges = []
        start = prev = cps[0]
        for c in cps[1:]:
            if c == prev + 1:
                prev = c
                continue
            ranges.append((start, prev))
            start = prev = c
        ranges.append((start, prev))
        cls = "".join(
            "\\x{%04X}" % a + ("-\\x{%04X}" % b if b > a else "")
            for a, b in ranges
        )
        _SEP_PATTERN = "[^" + cls + "]+"
    return _SEP_PATTERN


def tokens_arrow(arr, sep_pattern: str):
    """Tokenize a pyarrow StringArray -> ListArray of tokens (MAY contain
    empty strings at list edges; callers filter them). Byte-identical
    token streams to :func:`tokens` after dropping empties.
    ``sep_pattern`` is :func:`arrow_sep_pattern`, computed once by the
    caller (the index build computes it on the driver and ships it in
    its task closure, so no worker pays the codepoint scan)."""
    import pyarrow.compute as pc

    pre = pc.replace_substring(arr, pattern="İ", replacement="i̇")
    return pc.split_pattern_regex(pc.utf8_lower(pre), pattern=sep_pattern)


def tokenize_df(df, text_col: str = "text", out_col: str = "tokens"):
    """Append a ``tokens array<string>`` column via mapInPandas."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.ArrayType(T.StringType()))]
    )

    def _tok(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[out_col] = tokens_series(pdf[text_col])
            yield pdf

    return df.mapInPandas(_tok, schema=out_schema)
