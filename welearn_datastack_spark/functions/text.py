"""Scalar text functions (SURVEY.md §2.8, F1–F21) as Catalyst column
expressions — everything here stays JVM-side inside whole-stage
codegen; no Python UDFs in this module.

Each function cites the reference implementation it re-expresses
(paths relative to /root/reference).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def remove_extra_whitespace(col: Column) -> Column:
    """Collapse runs of whitespace to single spaces and trim
    (reference F1, modules/scraping_utils.py:26–37)."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def remove_html_tags(col: Column) -> Column:
    """Strip ``<...>`` tags (reference F2, scraping_utils.py:40–56;
    HTML entity unescape is a separate pandas-UDF in udfs.py)."""
    return F.regexp_replace(col, r"<[^>]+>", "")


def clean_return_to_line(col: Column) -> Column:
    """Remove [\\n\\t\\r] (reference F3, scraping_utils.py:111–115 and
    plugins/interface.py:49–58)."""
    return F.regexp_replace(col, r"[\n\t\r]", " ")


def clean_doi(col: Column) -> Column:
    """Strip the ``https://doi.org/`` prefix (reference F5,
    scraping_utils.py:173–183; SQL twin in
    back_filling_queries/update_doi_from_details.sql)."""
    return F.replace(col, F.lit("https://doi.org/"), F.lit(""))


def strip_hal_versioning(col: Column) -> Column:
    """Strip a trailing ``v<digits>`` version suffix from HAL-style
    URLs (reference F6, scraping_utils.py:159–170)."""
    return F.regexp_replace(col, r"v\d+$", "")


def add_space_after_closing_sign(col: Column) -> Column:
    """Typography repair: ensure a space after sentence-closing
    punctuation (reference F7, scraping_utils.py:133–145)."""
    return F.regexp_replace(col, r"([.!?;:])(\w)", r"$1 $2")


def add_space_before_capital_letter(col: Column) -> Column:
    """Typography repair (reference F7, scraping_utils.py:148–156)."""
    return F.regexp_replace(col, r"([a-z])([A-Z])", r"$1 $2")


def dehyphenate(col: Column) -> Column:
    """Join words hyphenated across line breaks (reference F19,
    modules/pdf_extractor.py:146–183, regex
    utils_/regular_expression.py:28)."""
    return F.regexp_replace(col, r"-\s*\n\s*", "")


def normalize_for_fingerprint(col: Column) -> Column:
    """Lowercase + collapse whitespace — the deterministic normalize
    used before hashing a document fingerprint (reference F8's
    builtin-expressible part, scraping_utils.py:186–195; NFC
    normalization lives in udfs.py as a pandas UDF)."""
    return remove_extra_whitespace(F.lower(col))


def lexicon_count(col: Column) -> Column:
    """Word count (reference F9, modules/computed_metadata.py:68–79:
    count word tokens after punctuation strip)."""
    return F.size(F.regexp_extract_all(col, F.lit(r"\w+"), 0))


def sentence_count(col: Column) -> Column:
    """Sentence count with floor 1 (reference F10,
    computed_metadata.py:82–97: regex split on sentence enders, floor
    to 1 so ratios never divide by zero)."""
    n = F.size(F.regexp_extract_all(col, F.lit(r"[^.!?]+[.!?]"), 0))
    return F.greatest(F.lit(1), n)


def syllable_count_approx(col: Column) -> Column:
    """Vowel-group syllable approximation. The reference counts
    hyphenation points with Pyphen (F12, computed_metadata.py:115–135)
    — a dictionary lookup that cannot be a Catalyst expression; this
    vowel-group heuristic is the JVM-side stand-in used by the
    oracle-checkable readability query."""
    return F.size(F.regexp_extract_all(F.lower(col), F.lit(r"[aeiouy]+"), 0))


def word_count_simple(col: Column) -> Column:
    """``\\w+`` token count used by predict_duration (reference F14,
    computed_metadata.py:183–198)."""
    return F.size(F.regexp_extract_all(col, F.lit(r"\w+"), 0))


def inverted_abstract_to_text(map_col: Column) -> Column:
    """Reconstruct text from an OpenAlex inverted abstract
    ``map<string, array<int>>`` (reference F18,
    plugins/rest_requesters/open_alex.py:63–67).

    Pure column logic: flatten (word, position) pairs, sort by
    position, join. No UDF, no shuffle — per-row array algebra.
    """
    pairs = F.flatten(
        F.transform(
            F.map_entries(map_col),
            lambda e: F.transform(e["value"], lambda p: F.struct(p.alias("pos"), e["key"].alias("w"))),
        )
    )
    return F.array_join(F.transform(F.array_sort(pairs), lambda s: s["w"]), " ")
