"""Text primitives as pure Column expressions (tokenize, shingle, hash).

Everything here compiles into whole-stage codegen — at 100 TB these run at
scan speed with zero Python involvement.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

WHITESPACE_RE = r"\s+"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of trimmed text → array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), WHITESPACE_RE)


def bpe_ish_tokens(col: Column | str) -> Column:
    """BPE-ish sub-word segmentation: split on word boundaries/punct the way a
    byte-pair pre-tokenizer does (GPT-2-style regex, simplified to RE2-safe
    form — no lookaheads in Spark's regex engine)."""
    c = F.col(col) if isinstance(col, str) else col
    pattern = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]+"
    return F.regexp_extract_all(c, F.lit(pattern), 0)


def distinct_tokens(col: Column | str) -> Column:
    return F.array_distinct(tokens(col))


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles → array<string>.

    ``transform(sequence(0, size-n), i -> array_join(slice(words, i+1, n)))``
    — stays in codegen; no explode needed until LSH banding."""
    words = tokens(col)
    shingles = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )
    return F.array_distinct(shingles)


def md5_int(col: Column | str, n_hex: int) -> Column:
    """The engine-portable hash: the first ``n_hex`` hex digits of
    ``md5(col)`` as a base-10 string, ``conv(substring(md5(col), 1, n_hex),
    16, 10)``.  md5 agrees byte-for-byte in Spark and DuckDB, so an oracle
    restates the value as ``CAST('0x' || substr(md5(col), 1, n_hex) AS
    BIGINT)``.  ``n_hex <= 15`` (at most 60 bits) keeps it strictly inside
    a signed bigint on both engines.  Callers add their own ``.cast`` and
    ``% n``."""
    return F.conv(F.substring(F.md5(col), 1, n_hex), 16, 10)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two string arrays (set semantics)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(F.array_union(a, b)).cast("double"))


# NOTE: MinHash signatures are intentionally NOT built as N inline
# array_min(transform(shingles, ...)) column expressions — that inlines the
# tokenize+shingle expression N times, exceeds the codegen method limit and
# falls back to interpreted eval (observed ~1000× slowdown).  See
# operators/dedup.py:minhash_signatures for the explode+aggregate form.


# quality-scoring sub-expressions -------------------------------------------

def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(F.length(c) > 0, n_punct.cast("double") / F.length(c)).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str, stopwords: list[str]) -> Column:
    toks = tokens(col)
    n_stop = F.size(F.array_intersect(toks, F.array(*[F.lit(s) for s in stopwords])))
    # ratio of *distinct* stopwords present to distinct tokens (set semantics,
    # mirrors list_intersect in the oracle)
    return F.when(
        F.size(toks) > 0,
        n_stop.cast("double") / F.size(F.array_distinct(toks)).cast("double"),
    ).otherwise(F.lit(0.0))


def mean_word_len(col: Column | str) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def word_ngram_rows(
    df,
    text_col: str,
    key_col: str,
    n: int,
    *,
    distinct: bool = True,
    out_col: str = "shingle",
):
    """(key, n-gram) ROWS via ``posexplode`` + one window ``lead`` pass +
    ``concat_ws`` — the codegen'd replacement for
    ``explode(word_shingles(...))``.

    ``word_shingles`` is a higher-order ``transform``: never codegen'd, and
    every gram allocates an array slice (measured ~4× slower materializing
    the same rows at sf0.1).  Here the only per-gram work is a compiled
    string concat; the window shuffle keys on the doc id, which downstream
    per-doc aggregations (MinHash signatures, size counts) reuse.

    Semantics delta vs ``word_shingles``: a document with fewer than ``n``
    tokens yields NO grams (``word_shingles`` emits one degenerate short
    shingle) — the row form matches the SQL-comprehension definition the
    DuckDB oracles use.  ``distinct=True`` dedups per (key, gram) —
    set semantics, like ``word_shingles``' default ``array_distinct``.
    """
    from pyspark.sql.window import Window

    tok = df.select(F.col(key_col), F.posexplode(tokens(text_col)).alias("_pos", "_tok"))
    w = Window.partitionBy(key_col).orderBy("_pos")
    if n == 1:
        # split('') yields [''] — mask the phantom empty token so 0-token
        # docs really do produce no grams (the documented contract)
        g = F.when(F.col("_tok") != "", F.col("_tok"))
    else:
        parts = [F.col("_tok")] + [F.lead("_tok", j).over(w) for j in range(1, n)]
        g = F.when(F.lead("_tok", n - 1).over(w).isNotNull(), F.concat_ws(" ", *parts))
    out = tok.select(F.col(key_col), g.alias(out_col)).filter(F.col(out_col).isNotNull())
    return out.dropDuplicates([key_col, out_col]) if distinct else out
