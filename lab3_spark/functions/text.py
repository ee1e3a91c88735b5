"""Text expressions: tokenizer, stop-word predicates, portable hashing.

Everything here is a pure Catalyst column expression — JVM-side,
whole-stage-codegen friendly, no Python on the hot path.

Tokenizer spec (from the reference's map UDF,
phoenixLab/wordCount/wordCount.cpp:67-86): lowercase the input, a token
is a letter followed by letters/apostrophes — regex ``[a-z][a-z']*``.
Digits never start or appear in tokens; tokens may contain or end with
apostrophes (``don't``, ``goin'``).

Portable hashing: cross-engine-checkable operators (MinHash, SimHash,
fingerprints) need a hash both Spark and the DuckDB oracle compute
identically.  ``md5`` is the common denominator; ``hex_to_long`` folds
the first 15 hex chars (60 bits, fits a signed 64-bit int) into a
BIGINT with the same arithmetic in both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from lab3_spark.stopwords import STOP_LINE

# The token spec IS this regex in both parity and idiomatic modes
# (SURVEY.md §7.0; wordCount.cpp:72-85).
TOKEN_REGEX = r"[a-z][a-z']*"

HEX_DIGITS = "0123456789abcdef"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def tokenize(text: Column | str) -> Column:
    """``array<string>`` of tokens: lowercase, ``[a-z][a-z']*``.

    Mirrors the reference map UDF (wordCount.cpp:67-86: in-place tolower
    + letter/apostrophe scan) as one codegen'd expression:
    ``regexp_extract_all(lower(text), "[a-z][a-z']*", 0)``.
    """
    return F.regexp_extract_all(F.lower(_col(text)), F.lit(TOKEN_REGEX), F.lit(0))


def is_stop_word(word: str, mode: str = "idiomatic") -> Column:
    """Boolean predicate: is the column named `word` dropped by the
    stop-word filter?

    - ``idiomatic``: set membership in the 182-word list.  (For large
      vocabularies prefer the broadcast anti-join in operators/wordcount —
      this IN-list form keeps single-expression pipelines simple; Catalyst
      compiles it to an efficient switch.)
    - ``parity``: the reference's substring semantics
      (wordCount.cpp:152: drop iff ``stop_line.find(word) != npos``) —
      strictly more aggressive: any word that appears as a substring of
      the 1000-char stop line is dropped.
    """
    if mode == "parity":
        return F.instr(F.lit(STOP_LINE), F.col(word)) > 0
    if mode == "idiomatic":
        from lab3_spark.stopwords import STOP_WORDS

        # one SQL parse on the JVM; ``isin(*STOP_WORDS)`` makes a py4j
        # round trip per literal, 182 on every plan that filters words
        words = ", ".join("'" + w.replace("'", "\\'") + "'" for w in STOP_WORDS)
        return F.expr(f"{word} IN ({words})")
    raise ValueError(f"unknown stop-word mode: {mode!r}")


def hex_to_long(hexstr: Column | str) -> Column:
    """Fold a hex string (≤15 chars) into a non-negative BIGINT.

    Same arithmetic as the DuckDB-side
    ``list_reduce(list_transform(string_split(h,''),
    c -> strpos('0123456789abcdef',c)-1), (a,b) -> a*16+b)`` — i.e.
    base-16 positional value — so hashes derived from md5 agree across
    engines.

    Implemented as ``conv(h, 16, 10)``: identical value to the
    digit-fold (both are int(h, 16); 15 hex chars = 60 bits fits a
    signed 64-bit int) but fully codegen'd JVM string parsing instead
    of an interpreted 15-step higher-order fold per row — md5-derived
    hashing is the CPU hot path of SimHash/sampling/fingerprinting.
    Equivalence is pinned by tests/test_text_functions.py.
    """
    return F.conv(_col(hexstr), 16, 10).cast("bigint")


def md5_long(c: Column | str, salt: str | None = None) -> Column:
    """Portable 60-bit hash of a string column: fold(md5(salt||c)[0:15]).

    Deterministic, uniform, identical in Spark and DuckDB — the basis
    for MinHash permutations (salt = permutation id) and SimHash bits.
    """
    inp = _col(c) if salt is None else F.concat(F.lit(salt), F.lit("|"), _col(c))
    return hex_to_long(F.substring(F.md5(inp), 1, 15))
