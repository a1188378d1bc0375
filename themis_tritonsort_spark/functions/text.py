"""Text functions: tokenizer (reference F1), n-grams (F2), shingles,
fingerprints, quality features.

Tokenizer parity: the reference WordTokenizer
(``src/tritonsort/mapreduce/functions/map/WordTokenizer.cc:5-69``)
splits on the stop characters  space ``"`` ``.`` ``,`` ``/`` ``(`` ``)``
``?`` ``;``  and treats a backslash-followed-by-n as a break — but the
scanner only consumes the BACKSLASH; the ``n`` starts the next word
("a\\nb" tokenizes to ["a", "nb"], not ["a", "b"]; WordTokenizer.cc:35-39
marks only position i as a stop).  Hypothesis testing against a
straight Python port of the scanner caught this (the intuitive
"split on the two-char sequence" regex is NOT what the C++ does).

RE2 (DuckDB) has no lookahead, so the behavior-exact formulation both
engines share is: replace the literal ``\\n`` pair with <SENTINEL>n,
then split on [<SENTINEL> + stop chars].  SENTINEL is \\x01, assumed
absent from input text.  Everything stays JVM-side native functions —
no Python UDF in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SENTINEL = "\x01"

# Stop characters (WordTokenizer.cc:5-16) + the sentinel standing in for
# a consumed backslash-of-\n.
TOKEN_SPLIT_REGEX = f'[{_SENTINEL} ".,/()?;]'

# DuckDB spelling of the same tokenization (pattern built with chr(1)
# because SQL literals can't hold the control char):
TOKENS_SQL = (
    "list_filter(regexp_split_to_array("
    "replace({col}, '\\n', chr(1) || 'n'), "
    "'[' || chr(1) || ' \".,/()?;]'), w -> w <> '')"
)

# The ~50 common words the reference pre-aggregates in the map task
# (WordCountMapFunction.cc:7-59).  We don't need the skew trick (Catalyst
# does partial aggregation), but the list is reused as a stopword set for
# quality scoring.
STOP_WORDS = (
    "the of and a to in is you that it he was for on are as with his they "
    "I at be this have from or one had by word but not what all were we "
    "when your can said there use an each which she do how their if"
).split()


def tokens(col: Column | str) -> Column:
    """Split text into words with reference-F1 semantics (empty tokens
    dropped; backslash-of-\\n consumed, the n kept).  Returns
    array<string>."""
    c = F.col(col) if isinstance(col, str) else col
    replaced = F.regexp_replace(c, r"\\n", _SENTINEL + "n")
    return F.filter(F.split(replaced, TOKEN_SPLIT_REGEX), lambda w: w != F.lit(""))


def ngrams(tokens_col: Column, n: int, sep: str = " ") -> Column:
    """Sliding word n-grams over a token array (reference
    NGramMapFunction.cc:58-100).  Returns array<string>; empty array when
    fewer than n tokens.

    Implemented as (n-1) zip_with folds over shifted slices rather than
    a transform-over-positions lambda: a lambda that references
    ``tokens_col`` re-evaluates it PER POSITION, and Catalyst's
    CollapseProject happily inlines an upstream tokenizer into the
    lambda, turning tokenization O(n_tokens^2) per row (measured 5-10x
    on the corpus queries).  The zip formulation references the token
    array a constant number of times per row regardless of projection
    collapsing.  zip_with pads the shorter side with null and concat
    propagates null, so trailing partial grams filter out."""
    acc = tokens_col
    for i in range(1, n):
        shifted = F.slice(
            tokens_col, i + 1, F.greatest(F.size(tokens_col) - i, F.lit(0))
        )
        acc = F.zip_with(acc, shifted, lambda x, y: F.concat(x, F.lit(sep), y))
    return F.filter(acc, lambda g: g.isNotNull())


def shingles_from_tokens(tokens_col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingle set from a materialized token array
    (dedup primitive).  See the PERF note on ngrams()."""
    return F.array_distinct(ngrams(tokens_col, n))


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercased, tokens re-joined with single spaces).  Md5 so the DuckDB
    oracle computes the identical digest."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.concat_ws(" ", tokens(F.lower(c))))
