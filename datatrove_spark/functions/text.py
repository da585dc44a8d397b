"""Native Spark Column builders for text analysis.

Everything here compiles to JVM expressions inside whole-stage codegen — no
Python in the hot path. These are the shared vocabulary of all quality
filters (SURVEY.md section 2.4).

Engine text semantics (shared with the Python and SQL oracles):
- words            = regexp matches of \\S+ (see config.py TOKENIZER NOTE)
- lines            = split(text, '\\n')
- paragraphs       = regexp-split of trimmed text on \\n{2,}
- simplified text  = lowercase, non-alphanumeric runs -> single space,
                     digit runs -> '0', trimmed  (dedup canonicalization;
                     portable restriction of reference simplify_text,
                     src/datatrove/utils/text.py:39-71)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from datatrove_spark.config import ALNUM_RE, TOKEN_RE, WORD_RE


def words(text: Column | str) -> Column:
    """Array of whitespace-delimited word tokens."""
    return F.regexp_extract_all(F.col(text) if isinstance(text, str) else text, F.lit(WORD_RE), 0)


def non_symbol_words(ws: Column) -> Column:
    """Words containing at least one alphanumeric char (stand-in for the
    reference's 'not all punctuation' test, gopher_quality_filter.py:76)."""
    return F.filter(ws, lambda w: w.rlike(ALNUM_RE))


def lines(text: Column | str) -> Column:
    return F.split(F.col(text) if isinstance(text, str) else text, "\n", -1)


def trim_ws(c: Column) -> Column:
    """Trim all ASCII whitespace (Python str.strip parity; SQL trim only
    strips spaces by default)."""
    return F.regexp_replace(F.regexp_replace(c, r"^\s+", ""), r"\s+$", "")


def simplify_text(text: Column | str) -> Column:
    """Dedup canonical form: lowercase, non-alnum runs -> ' ', digit runs -> 0."""
    c = F.col(text) if isinstance(text, str) else text
    s = F.lower(c)
    s = F.regexp_replace(s, "[^a-z0-9]+", " ")
    s = F.regexp_replace(s, "[0-9]+", "0")
    return F.trim(s)


def substr_count(text: Column, sub: str) -> Column:
    """Number of non-overlapping occurrences of a literal substring
    (Python str.count parity via length difference)."""
    c = text
    return (F.length(c) - F.length(F.replace(c, F.lit(sub), F.lit("")))) / len(sub)


def char_count(text: Column, ch: str) -> Column:
    return F.length(text) - F.length(F.replace(text, F.lit(ch), F.lit("")))


def sentences(text: Column | str) -> Column:
    """Portable sentence splitter stand-in: maximal runs ending in [.!?]+.

    The reference uses NLTK punkt sent_tokenize; this engine defines sentences
    as regexp matches of [^.!?]*[.!?]+ (trailing fragment without terminal
    punctuation is ignored) so Spark/Python/SQL agree exactly.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(r"[^.!?]+[.!?]+"), 0)


def token_count(text: Column | str) -> Column:
    """BPE-ish token count: letter runs / digit runs / symbol runs."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_RE), 0))
