"""Text analysis: the `standard` analyzer chain.

Reference semantics (cited into /root/reference):
  - default analyzer is `standard` (index/analysis/AnalysisRegistry.java:550-556)
  - StandardAnalyzerProvider.java:32-40: StandardTokenizer (UAX#29 word break)
    + lowercase filter; stopword set EMPTY by default; max_token_length 255.

Three twins of one tokenizer: lowercase, then maximal runs of Unicode
letters and numbers.
  * `analyze` (Python) tokenizes the index: every segment build runs it in
    its Spark tasks or on the driver, and query strings go through it too.
  * `tokens` (JVM `regexp_extract_all`) tokenizes for the logical plan.
  * `tokens_sql` (RE2) tokenizes for the DuckDB oracle.
Tests check `analyze` == `tokens` over the fixture corpora.

Deliberate deviation (documented): UAX#29 has extra rules for keeping
mid-word apostrophes/colon in some scripts and splitting on script
boundaries; `[\\p{L}\\p{N}]+` is equivalent for alphanumeric corpora (ours)
but splits "don't" into [don, t] where UAX#29 keeps it in some tailorings —
Lucene's StandardTokenizer also splits it, so parity holds for English.
Tokens longer than max_token_length (255) are split by Lucene; we keep them
whole (none exist in the corpora; property-tested as absent).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Java regex dialect (Spark executors tokenize with this).
TOKEN_REGEX_JAVA = r"[\p{L}\p{N}]+"
# RE2 dialect (DuckDB oracle tokenizes with this) — same character class.
TOKEN_REGEX_RE2 = r"[\pL\pN]+"

MAX_TOKEN_LENGTH = 255  # StandardAnalyzerProvider.java:36


def tokens(text: Column | str) -> Column:
    """array<string> of analyzed tokens for a text column (standard analyzer)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(F.lower(c), F.lit(TOKEN_REGEX_JAVA), F.lit(0))


def tokens_sql(text_expr: str, dialect: str = "duckdb") -> str:
    """The same tokenizer as a SQL snippet (for oracle parity checks).

    dialect='duckdb' -> RE2 class; dialect='spark' -> Java class.
    """
    rx = TOKEN_REGEX_RE2 if dialect == "duckdb" else TOKEN_REGEX_JAVA.replace("\\", "\\\\")
    return f"regexp_extract_all(lower({text_expr}), '{rx}')"


# Python `re` lacks \p classes: `[^\W_]` matches exactly the characters
# str.isalnum() accepts (letters and numbers), TOKEN_REGEX_JAVA's class.
_TOKEN_RE = re.compile(r"[^\W_]+")


def analyze(text: str) -> list[str]:
    """Python twin of `tokens()`: the index's and the query strings' analyzer."""
    return _TOKEN_RE.findall(text.lower())


def wildcard_regex(value: str) -> str:
    """ES wildcard pattern -> anchored regex, treating every non-wildcard
    char literally (WildcardQueryBuilder semantics: only * and ? are special;
    'c++*' must match terms starting with the literal 'c++'). re.escape emits
    only punctuation escapes, valid in Java regex (Spark rlike), RE2, and
    DuckDB alike — the one translation shared by engine, oracle, and
    percolate so they can never diverge."""
    return "^" + "".join(
        ".*" if c == "*" else "." if c == "?" else re.escape(c) for c in value
    ) + "$"
