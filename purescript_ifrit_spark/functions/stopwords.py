"""Stopword and language-marker tables shared by the Column builders in
functions/text.py and the Spark-SQL renderers in functions/dialect_ext.py.
Imports no pyspark, so rendering QUALITY or LANG_ID to SQL text stays
Spark-free."""

from __future__ import annotations

import re

DEFAULT_STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def _stop_rx(stopwords: tuple) -> str:
    # escape each word: callers may pass tokens containing regex
    # metacharacters ("c++", "a.b") and the contract is literal equality
    return "(?:^| )(?:" + "|".join(re.escape(w) for w in stopwords) + ")(?= |$)"


# language → stopword alternation, deliberately tiny and deterministic.
# Order matters: ties resolve in this priority order.
LANG_MARKERS = (
    ("en", r"\b(the|of|and|is|to)\b"),
    ("de", r"\b(der|die|das|und|ist)\b"),
    ("fr", r"\b(le|la|les|et|est)\b"),
    ("es", r"\b(el|los|las|es|y)\b"),
)
