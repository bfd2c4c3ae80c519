"""Normalization: lowercase, clean, tokenize, hash, output formatting.

Parity contract with the reference (seanpedrick-case/data_text_search):

- **Lowercase before everything**: the reference lowercases the search
  column before cleaning/tokenizing (bm25_functions.py:309) and the
  query the same way (bm25_functions.py:533). We apply ``F.lower`` first
  in every path.

- **Tokenizer**: the reference uses the spaCy ``en_core_web_sm``
  tokenizer only (``nlp.tokenizer.pipe``, bm25_functions.py:213-226).
  spaCy is not available in this sandbox and is nondeterministic across
  model versions, so the engine pins a deterministic regex spec that
  approximates spaCy defaults: maximal runs of unicode
  letters/digits/underscore are word tokens (spaCy keeps unicode words
  whole — bm25_functions.py:213-226); every other character outside an
  explicit ASCII whitespace set is its own single-character token. The
  same SEMANTIC is spelled per engine (see TOKEN_PATTERN /
  PY_TOKEN_PATTERN / DUCKDB_TOKEN_PATTERN below) and the three are
  parity-tested on multilingual corpora, so Spark, the pure-Python
  oracle and the DuckDB oracle tokenize identically.
  (Known divergence vs spaCy: contractions, URLs — documented, not
  rank-relevant on the pinned corpora.)

- **Clean pipeline**: exact regex strings and application order of the
  reference's live polars pipeline ``initial_clean``
  (clean_funcs.py:23-32,34-57): backslash→slash, strip HTML
  tags/entities, strip email headers, strip email sign-offs, strip email
  addresses, collapse multi-space. Off by default (app.py:159).

- **Output formatting**: ``search_score_abs = abs(round(score, 2))``
  (bm25_functions.py:628-631) — note the reference takes the *absolute
  value of the rounded score*, so negative BM25 scores (possible with
  the unsmoothed IDF) lose their sign in formatted output.

- **Join-key normalization**: ``astype(str)`` + strip trailing ``.0``
  (bm25_functions.py:660-661).
"""

from __future__ import annotations

import hashlib
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# --- tokenizer spec (one semantic, three engine-flavored spellings) -------
# Word tokens are maximal runs of unicode letters/digits/underscore
# (categories L* ∪ Nd ∪ Nl ∪ No ∪ {_}); every other character is its own
# single-character token, except an EXPLICIT ASCII whitespace set
# [ \t\n\r\f\x0b] which separates tokens. The whitespace set is explicit
# because \s differs across the engines (Java \s lacks \xa0, RE2 lacks
# \x0b and \xa0, Python matches all unicode spaces) — with the explicit
# class, NBSP and other unicode spaces are one-char tokens EVERYWHERE,
# identically. The three spellings below are equivalent:
# - Java/Spark: \p{L}\p{N} property classes
# - Python: \w (defined as str.isalnum ∪ {_} = the same L*/N* set)
# - DuckDB/RE2: \pL \pN property classes
# Known cross-engine divergences (documented, excluded from fuzz
# corpora) — CASE-MAPPING differences, not tokenizer ones: lowercasing
# U+0130 İ yields 'i'+combining-dot in Java/Python but plain 'i' in
# DuckDB; word-final Greek Σ lowers to final sigma ς in Java/Python
# (Final_Sigma context rule) but plain σ in DuckDB.
TOKEN_PATTERN = r"[\p{L}\p{N}_]+|[^\p{L}\p{N}_ \t\n\r\f\x0B]"
PY_TOKEN_PATTERN = r"[\w]+|[^\w \t\n\r\f\x0b]"
DUCKDB_TOKEN_PATTERN = r"[\pL\pN_]+|[^\pL\pN_ \t\n\r\f\x0b]"
_TOKEN_RE = re.compile(PY_TOKEN_PATTERN)

# --- clean pipeline spec: (pattern, replacement) in application order ---
# exact strings from /root/reference/search_funcs/clean_funcs.py:23-32
# applied in the order of initial_clean, clean_funcs.py:44-57
CLEAN_STEPS: tuple[tuple[str, str], ...] = (
    (r"\\", "/"),                                                        # replace_backslash
    (r"<.*?>|&([a-z0-9]+|#[0-9]{1,6}|#x[0-9a-f]{1,6});|\xa0|&nbsp;", ""),  # html_pattern_regex
    (r".*importance:|.*subject:", ""),                                   # email_start_pattern_regex
    (r"kind regards.*|many thanks.*|sincerely.*", ""),                   # email_end_pattern_regex
    (r"\S*@\S*\s?", ""),                                                 # email_pattern_regex
    (r"\s{2,}", " "),                                                    # multiple_spaces_regex
)


def lower_expr(col: str | Column) -> Column:
    """Lowercase projection (P2, bm25_functions.py:309). Cast to string first
    like the reference's astype(str)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(c.cast("string"))


def clean_expr(col: str | Column) -> Column:
    """Chained regexp_replace implementing the reference clean pipeline (F1).

    Stays JVM-side (whole-stage codegen); identical pattern strings and
    order as clean_funcs.py:44-57.
    """
    c = F.col(col) if isinstance(col, str) else col
    for pat, rep in CLEAN_STEPS:
        c = F.regexp_replace(c, pat, rep)
    return c


def tokenize_expr(col: str | Column) -> Column:
    """JVM-side tokenizer: lower → regexp_extract_all(TOKEN_PATTERN).

    The fast path — no Python in the plan at all.
    """
    return F.regexp_extract_all(lower_expr(col), F.lit(TOKEN_PATTERN), 0)


def tokenize_py(text: str) -> list[str]:
    """Driver/oracle-side tokenizer — identical spec to tokenize_expr."""
    return _TOKEN_RE.findall(str(text).lower())


def clean_py(text: str) -> str:
    """Driver/oracle-side clean — identical spec to clean_expr."""
    for pat, rep in CLEAN_STEPS:
        text = re.sub(pat, rep, text)
    return text


@F.pandas_udf(ArrayType(StringType()))
def tokenize_pandas_udf(texts: pd.Series) -> pd.Series:
    """Arrow-vectorized tokenizer (per input_hint: pandas/Arrow UDFs, no
    per-row Python UDFs). Same spec as tokenize_expr; tests assert the two
    agree. Mirrors the reference's batched spaCy pipe
    (bm25_functions.py:222-223) with Arrow batches in place of pipe(256).
    """
    return texts.astype(str).str.lower().str.findall(PY_TOKEN_PATTERN)


_TOKTF_SCHEMA = StructType([
    StructField("pairs", ArrayType(StructType([
        StructField("term", StringType()),
        StructField("tf", IntegerType()),
    ]))),
    StructField("doc_len", IntegerType()),
    StructField("n_chars", LongType()),
])


def tokenize_tf(texts: pd.Series) -> pd.DataFrame:
    """Tokenize AND pre-aggregate term frequencies per document: per
    text, its term-sorted unique (term, tf) pairs, doc_len and n_chars.
    Emitting unique pairs instead of raw tokens (SURVEY §2 A2 scale
    note) cuts the exploded row count ~2-3x and removes the (term, doc)
    groupBy shuffle entirely (pairs are already unique per doc); sorted
    pairs keep downstream float summation order deterministic.

    n_chars = len(' '.join(tokens)) = Σ tf·len(term) + max(doc_len−1, 0)
    (the reference's fuzzy denominator, spacy_search_funcs.py:34,100-104)
    is computed here, while the token counts are already in hand, so
    doc_stats never re-decodes the checkpoint's pairs column for it.

    Pure pandas: executors run it as tokenize_tf_pandas_udf, and the
    driver segment writer (streaming.incremental) calls it directly."""
    from collections import Counter

    pairs_out, dlen_out, nch_out = [], [], []
    for t in texts.astype(str):
        toks = _TOKEN_RE.findall(t.lower())
        c = Counter(toks)
        pairs_out.append([(k, int(v)) for k, v in sorted(c.items())])
        dlen_out.append(len(toks))
        nch_out.append(sum(len(k) * v for k, v in c.items())
                       + max(len(toks) - 1, 0))
    return pd.DataFrame({"pairs": pairs_out,
                         "doc_len": pd.Series(dlen_out, dtype="int32"),
                         "n_chars": pd.Series(nch_out, dtype="int64")})


@F.pandas_udf(_TOKTF_SCHEMA)
def tokenize_tf_pandas_udf(texts: pd.Series) -> pd.DataFrame:
    """tokenize_tf over Arrow batches on the executors: the string-heavy
    work stays in Python processes that scale with cores instead of JVM
    allocation/GC."""
    return tokenize_tf(texts)


@F.pandas_udf(StringType())
def clean_pandas_udf(texts: pd.Series) -> pd.Series:
    """Arrow-vectorized clean (F1); same spec as clean_expr."""
    s = texts.astype(str)
    for pat, rep in CLEAN_STEPS:
        s = s.str.replace(pat, rep, regex=True)
    return s


def sha256_expr(col: str | Column) -> Column:
    """Ingest invariant: per-row sha256(content) (BASELINE.json input_hint)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c.cast("string"), 256)


def sha256_py(text: str) -> str:
    return hashlib.sha256(str(text).encode("utf-8")).hexdigest()


def score_abs_expr(score: str | Column) -> Column:
    """search_score_abs = abs(round(score, 2)) — F7, bm25_functions.py:628-631."""
    c = F.col(score) if isinstance(score, str) else score
    return F.abs(F.round(c, 2))


def join_key_norm_expr(col: str | Column) -> Column:
    """Join-key normalization: str-cast + strip trailing '.0'
    (F9, bm25_functions.py:660-661)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c.cast("string"), r"\.0$", "")


def duckdb_tokenize_sql(text_expr: str) -> str:
    """DuckDB-SQL fragment producing the identical token array (RE2
    spelling of the shared tokenizer spec; backslashes are literal inside
    standard SQL single-quoted strings, so RE2 receives them verbatim)."""
    return (f"regexp_extract_all(lower(cast({text_expr} as varchar)), "
            f"'{DUCKDB_TOKEN_PATTERN}')")
