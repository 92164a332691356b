"""Scalar text functions from the reference (SURVEY §2.8), as Column exprs.

All pure Catalyst (codegen'd, pushdown-friendly) and 1:1 expressible in the
oracle dialect.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def clean_txt(col: Column) -> Column:
    """data_preprocessing.py:46-53 (F1): newlines -> '. ', collapse '.. ' ->
    '. ', lowercase, strip trailing whitespace."""
    c = F.regexp_replace(col, r"\n", ". ")
    c = F.regexp_replace(c, r"\.\. ", ". ")
    return F.rtrim(F.lower(c))


def strip_newlines(col: Column) -> Column:
    """kb_handler.py:75 (F2)."""
    return F.regexp_replace(col, r"\n", "")


def words_and_punct(col: Column) -> Column:
    """importance.py:56-65 (F6): words-or-punctuation token stream."""
    return F.regexp_extract_all(col, F.lit(r"([\w']+|[.,!?;])"), 1)


def processed_string(context: Column, raw: Column) -> Column:
    """models.py:101-102 / kb_handler.py:75 (P7): context + ' ' + raw with
    newlines stripped; null context treated as ''."""
    return strip_newlines(F.concat_ws(" ", F.coalesce(context, F.lit("")), raw))

