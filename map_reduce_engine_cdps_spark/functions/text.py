"""Text-analysis column functions: tokenization, shingles, MinHash,
SimHash, quality stats (SURVEY.md §7 step 7 / training-data extensions).

Everything stays JVM-side (built-in higher-order functions — transform /
filter / aggregate over arrays), so no Python worker runs and shuffle
payloads are the derived values, never raw Python objects. The
higher-order functions are not codegen'd: in Spark 4.1 `ArrayTransform`,
`ArrayFilter` and `ArrayAggregate` implement `CodegenFallback`, so each
lambda is interpreted once per array element.

Hash design note: signatures are built from md5 hex strings (seeded by
concatenation) rather than xxhash64, so the DuckDB oracle can compute
bit-identical values — md5 is deterministic and engine-independent.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small English stopword list (public, ubiquitous). Used for quality
# ratios and the language-ID heuristic.
STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "it", "that")


def tokens(col: Column) -> Column:
    """Lowercase whitespace tokens, empties dropped (T10/T12)."""
    return F.filter(
        F.split(F.trim(F.lower(col)), r"\s+"), lambda t: F.length(t) > 0
    )


def clean_tokens(col: Column) -> Column:
    """Tokens with non-alphanumerics stripped (T11), empties dropped."""
    return F.filter(
        F.transform(tokens(col), lambda t: F.regexp_replace(t, "[^a-z0-9]", "")),
        lambda t: F.length(t) > 0,
    )


def pos_ngrams(tok: Column, n: int) -> Column:
    """Positional n-grams (every offset, duplicates kept), O(n·L).

    arrays_zip of n shifted slices: each slice is evaluated ONCE per
    row, and the transform lambda only touches the materialized
    structs. The naive per-gram formulation (element_at or slice
    inside the lambda) re-evaluates the unmaterialized token
    expression — a filter+split higher-order chain — on every gram,
    i.e. O(L²) per doc; measured 64x slower on sf1 bigrams.
    """
    cnt = F.greatest(F.size(tok) - (n - 1), F.lit(0))
    parts = [F.slice(tok, k + 1, cnt).alias(f"g{k}") for k in range(n)]
    zipped = F.arrays_zip(*parts)
    return F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[f"g{k}"] for k in range(n)])
    )


def shingles(tok: Column, n: int = 3) -> Column:
    """Distinct n-token shingles as strings (word n-grams), 1-indexed
    to mirror the DuckDB oracle."""
    # Guard: short docs short-circuit to a typed empty array.
    return F.when(F.size(tok) >= n, F.array_distinct(pos_ngrams(tok, n))).otherwise(
        F.array().cast("array<string>")
    )


def stopword_ratio(tok: Column) -> Column:
    """Fraction of tokens that are stopwords; 0.0 for empty docs."""
    stop = F.size(F.filter(tok, lambda t: t.isin(*STOPWORDS)))
    return F.when(F.size(tok) > 0, stop / F.size(tok)).otherwise(F.lit(0.0))


def avg_token_len(tok: Column) -> Column:
    total = F.aggregate(
        F.transform(tok, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return F.when(F.size(tok) > 0, total / F.size(tok)).otherwise(F.lit(0.0))


def simhash16(tok: Column) -> Column:
    """16-bit SimHash as a '0'/'1' string of length 16.

    Bit i is the sign of sum over tokens of ±1, where the vote of a
    token at position i is +1 iff hex digit i of md5(token) >= '8'
    (i.e. the high bit of that nibble). String/md5-based so the DuckDB
    oracle reproduces it exactly.

    Single-pass formulation: one md5 per token (inner transform), one
    fold accumulating all 16 vote counters as an int array — not 16
    separate aggregates, which would re-tokenize and re-hash 16× once
    Catalyst collapses the projections.
    """
    hashes = F.transform(tok, lambda t: F.md5(t))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), 16),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(1), F.lit(16)),
                lambda i: F.when(F.substr(h, i, F.lit(1)) >= "8", 1).otherwise(-1),
            ),
            lambda a, b: a + b,
        ),
    )
    return F.array_join(
        F.transform(votes, lambda v: F.when(v > 0, F.lit("1")).otherwise(F.lit("0"))),
        "",
    )


def window_hashes(tok: Column, w: int = 10) -> Column:
    """Positional w-token window hashes (NOT distinct — every offset).

    The primitive behind exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): two
    docs sharing any w-token window share a verbatim span. md5 of the
    joined window so the DuckDB oracle is bit-identical.
    """
    grams = F.transform(pos_ngrams(tok, w), F.md5)
    return F.when(F.size(tok) >= w, grams).otherwise(
        F.array().cast("array<string>")
    )
