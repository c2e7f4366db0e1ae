"""Text columns: tokenize / shingle / fingerprint / quality features.

Replaces the reference's per-record Java closures (``split(" ")`` in
``/root/reference/src/main/java/com/soto/WordCount.java:32-37`` and field
extraction in ``TransformBlacklist.java:43``, ``WindowHotWord.java:38``,
``Top3HotProduct.java:46``) with Catalyst Column expressions — JVM-side,
whole-stage-codegen'd, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small language-agnostic stopword list used by quality/language scoring.
# Deliberately tiny + fixed so the DuckDB oracle can embed the same list.
EN_STOPWORDS = ("the", "and", "is", "of", "to", "in", "a", "that")


def tokens(text: Column | str, sep: str = " ") -> Column:
    """line -> array<string> of words (reference: ``line.split(" ")``)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, sep)


def token_count(text: Column | str) -> Column:
    """Whitespace token count (BIGINT). DuckDB oracle:
    ``len(string_split(text, ' '))``."""
    return F.size(tokens(text)).cast("long")


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (space-joined), for Jaccard /
    MinHash dedup. Sliding over the token array with ``transform`` +
    ``slice`` stays entirely JVM-side.

    Documents shorter than ``n`` tokens yield their full token string as a
    single shingle so no document silently disappears from dedup.
    """
    t = tokens(text)
    n_sh = F.greatest(F.size(t) - F.lit(n - 1), F.lit(1))
    idx = F.sequence(F.lit(1), n_sh)
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i, n)))


def fingerprint(text: Column | str, n: int = 3) -> Column:
    """Document fingerprint: min md5 over word-n-gram shingles (a
    deterministic 1-permutation MinHash). md5 exists in both Spark and
    DuckDB, so this is oracle-checkable; xxhash64 is Spark-only."""
    return F.array_min(F.transform(shingles(text, n), F.md5))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are ,.!?;: — quality-scoring feature.
    DuckDB: ``(length(text) - length(regexp_replace(text, '[,.!?;:]', '',
    'g'))) / length(text)``."""
    c = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(c, r"[,.!?;:]", "")
    return (F.length(c) - F.length(stripped)).cast("double") / F.length(c)


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are EN stopwords (lowercased compare)."""
    t = tokens(F.lower(F.col(text) if isinstance(text, str) else text))
    hits = F.size(F.filter(t, lambda w: w.isin(*EN_STOPWORDS)))
    return hits.cast("double") / F.size(t)
