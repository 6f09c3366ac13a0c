"""Text-analysis constants and functions for a training-data pipeline.

These have no counterpart in the reference (its inputs arrive pre-scored
from the co-formatter upstream, reference README.md:19): the stopword
lists behind the entry's language-guess and quality queries
(integer-ppm forms with DuckDB mirrors in ``__spark_entry__``), and the
content fingerprint behind exact dedup.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .normalize import norm_expr

# Tiny embedded stopword lists for the n-gram/stopword language heuristic.
# Deliberately short + frozen: they are part of the engine config surface,
# like the reference's externalized rule config (deduplicateQueryBuilder.js:2).
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "for", "with", "was"],
    "fr": ["le", "la", "les", "de", "des", "et", "un", "une", "est", "que"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "una", "es"],
}


def fingerprint_expr(text: Column, fold: bool = False) -> Column:
    """Deterministic content fingerprint: md5 of the normalized text.

    Plays the role of the reference's normalized-equality match key
    (README.md:30-45 — normalize once at index time, compare exact).
    """
    return F.md5(norm_expr(text, fold=fold))
