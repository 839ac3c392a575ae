"""Per-fragment model of the reference's CDATA-HTML extractions.

Each function runs one ``xpath`` over one fragment and applies the
package's post-processor for its E-operator (SURVEY.md §2.A). The
record projection in :mod:`ooh_etl_spark.sources.xml` instead
evaluates all fragments of a record in one
:func:`~ooh_etl_spark.functions.html.xpath_grouped` call; the tests
check that the two give the same records.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ooh_etl_spark.functions.html import (
    P,
    P_OWN_TEXT,
    P_TEXT,
    TD_H4_TEXT,
    TD_TEXT,
    cells_dict,
    concat_texts,
    trimmed,
    wage_map,
    xpath_texts,
)


def xpath_concat(html: Column) -> Column:
    """E4 over one fragment."""
    return concat_texts(xpath_texts(html, P_TEXT))


def xpath_match_count(html: Column) -> Column:
    """E4's warn path (index.js:33-35): the reference logs when the
    match count ≠ 1; surfaced as a derived column instead."""
    return F.size(xpath_texts(html, P))


def extract_trimmed_list(html: Column) -> Column:
    """E7 over one fragment."""
    return trimmed(xpath_texts(html, TD_H4_TEXT))


def cells_to_map(html: Column) -> Column:
    """E8 over one fragment."""
    return cells_dict(xpath_texts(html, TD_TEXT))


def pay_map(html: Column) -> Column:
    """E6 over one fragment."""
    return wage_map(xpath_texts(html, P_OWN_TEXT))


def pay_text(html: Column) -> Column:
    """E6's concatenated raw text side-channel (cdataParser innerText,
    index.js:49,53)."""
    return xpath_concat(html)
