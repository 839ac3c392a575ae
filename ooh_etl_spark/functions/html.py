"""The reference's CDATA-HTML parsing surface as column expressions.

Each function re-expresses one §2.A operator (SURVEY.md) as a pure
``Column -> Column`` built from Spark built-ins (``xpath``, ``regexp_*``,
higher-order array/map functions) — set-oriented, zero Python boundary
crossings. The reference parses each fragment into a row-level DOM
(jsdom) and loops; here the *expression* is the parser.

Each XPath E-operator is a path (``P_TEXT``, ``TD_TEXT``, ...) and one
post-processor of the node strings it selects (``concat_texts``,
``cells_dict``, ``wage_map``, ...). The per-fragment functions
(``xpath_concat(html)``, ``pay_map(html)``, ...) compose the two over
``xpath_texts``.

One document per row: Spark's ``xpath`` builds a fresh JAXP DOM and
XPath context on every call. On 4 vCPUs with four tasks, a call on a
630-character document costs about 0.1 ms of CPU with the one-node
path ``/r/m`` and about 1.6 times that with the nine-path union below,
so most of a call is its fixed cost. A record projection that ran one
``xpath`` per extraction paid that cost nine times per row.
:func:`xpath_grouped` instead wraps several fragments in one document
and evaluates one union path over it; :func:`ungroup` splits the node
strings back into per-fragment arrays. Both ways give the same arrays
(``tests/test_properties.py`` checks the record projection against the
per-fragment functions).

Reference citations are to /root/reference/index.js.

Well-formedness: Spark's ``xpath`` requires well-formed XML. Real OOH
CDATA is treated as XHTML; for fragments that are not well-formed, the
same signatures are available over a stdlib-HTMLParser pandas UDF in
:mod:`ooh_etl_spark.functions.html_fallback`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# E9 pattern (index.js:143): regex applied to the whitespace-collapsed
# CDATA text of work_environment/section_body; group 3 = paragraph body.
WORK_SCHEDULES_PATTERN = (
    r"<h3>( |<strong>)?Work [Ss]chedules?( |</strong>)?</h3> ?<p> ?(.+) ?</p>"
)

# E10 pattern (index.js:144): group 4 = everything after the heading.
IMPORTANT_QUALITIES_PATTERN = (
    r"<h3>( |<strong>)?Important [Qq]ualities?(&nbsp;)?( |</strong>)?</h3>(.*)"
)

# E6 patterns (index.js:59,70): first-match-anywhere per paragraph.
ANNUAL_WAGE_PATTERN = r"The median annual wage for (.+) was \$(\d+,\d{3})"
HOURLY_WAGE_PATTERN = r"The median hourly wage for (.+) was \$(\d+\.\d{2})"

WORK_YEAR_HOURS = 2080  # 52 weeks × 40 h (index.js:65)


# Characters outside the XML 1.0 Char production (control chars,
# unpaired surrogates). ``xpath()`` throws a SAXParseException on them
# — a single dirty row would fail the whole job — while the reference's
# lenient HTML parser ignores them; stripping is the closest total
# semantics (found by property testing, tests/test_properties.py).
_XML_INVALID = r"[^\x09\x0A\x0D\x20-퟿-�\x{10000}-\x{10FFFF}]"


# Paths of the XPath E-operators, relative to a fragment.
P_TEXT = "//p//text()"  # E4 text, E6 side-channel text
P_OWN_TEXT = "//p/text()"  # E6 wage paragraphs, E10 quality paragraphs
P = "//p"  # E4 match count (element nodes: NULL strings, counted only)
TD_H4_TEXT = "//td//h4/text()"  # E7
TD_TEXT = "//td/text()"  # E8


def _clean(doc: Column) -> Column:
    """Strip XML-invalid characters and escape bare ampersands, so one
    dirty fragment cannot fail the job."""
    cleaned = F.regexp_replace(doc, _XML_INVALID, "")
    return F.regexp_replace(
        cleaned, r"&(?!(?:[a-zA-Z][a-zA-Z0-9]*|#[0-9]+|#x[0-9a-fA-F]+);)", "&amp;"
    )


def wrap_fragment(html: Column) -> Column:
    """Wrap an HTML fragment so ``xpath`` sees a single-rooted document
    (jsdom wraps fragments in <html><body> implicitly; index.js:3-5),
    with XML-invalid characters stripped and bare ampersands escaped
    for totality. Domain contract: input is XHTML-ish markup — input
    with stray ``<``/``>`` that is not markup needs the lenient parser
    in :mod:`ooh_etl_spark.functions.html_fallback` instead.
    """
    return _clean(F.concat(F.lit("<root>"), F.coalesce(html, F.lit("")), F.lit("</root>")))


def collapse_ws(text: Column) -> Column:
    """``replace(/[\\s\\t\\r\\n]+/gm, ' ')`` (index.js:110,117)."""
    return F.regexp_replace(text, r"\s+", " ")


def xpath_texts(html: Column, xp: str) -> Column:
    """Node-set string values for a fragment (E1, index.js:7-17)."""
    return F.xpath(wrap_fragment(html), F.lit(xp))


def xpath_grouped(parts: Sequence[tuple[Column, str]]) -> Column:
    """E1 for several (fragment, path) pairs in ONE ``xpath`` call.

    The document is ``<r><g0>frag0</g0><m/><g1>frag1</g1><m/>…</r>`` and
    the path is the union ``/r/m | /r/g0<path0> | /r/g1<path1> | …``. A
    union returns its nodes in document order: group 0's nodes, a
    marker, group 1's nodes, and so on. ``xpath`` returns NULL for an
    element node and a non-NULL string for every text node, so the
    markers are the only NULLs as long as every path but the last
    selects text nodes; :func:`group_marks` finds them and
    :func:`ungroup` splits at them. The last group may select elements
    (``P``): only its size is meaningful. Every path is a descendant
    path (``//...``), so it reads as one step below its group element.

    One clean of the whole document equals cleaning each fragment:
    stripping invalid characters is per character, and the bare-``&``
    lookahead cannot see across the wrapper tags, which start with
    ``<``. Each fragment must be well-formed on its own, as in
    :func:`wrap_fragment`.
    """
    pieces = [F.lit("<r>")]
    for i, (html, _) in enumerate(parts):
        if i:
            pieces.append(F.lit("<m/>"))
        pieces += [F.lit(f"<g{i}>"), F.coalesce(html, F.lit("")), F.lit(f"</g{i}>")]
    pieces.append(F.lit("</r>"))
    union = " | ".join(["/r/m"] + [f"/r/g{i}{xp}" for i, (_, xp) in enumerate(parts)])
    return F.xpath(_clean(F.concat(*pieces)), F.lit(union))


def group_marks(nodes: Column) -> Column:
    """0-based positions of the NULL entries of an :func:`xpath_grouped`
    result: its markers, then the last group's element nodes."""
    return F.filter(
        F.transform(nodes, lambda x, i: F.when(x.isNull(), i)), lambda i: i.isNotNull()
    )


def ungroup(nodes: Column, marks: Column, n: int) -> list[Column]:
    """Split the result of an ``n``-part :func:`xpath_grouped` into its
    ``n`` per-fragment node arrays at its first ``n - 1`` marks.

    ``marks`` is :func:`group_marks` of ``nodes``, passed in so that it
    can be computed once per row in a projection below the split: each
    reference to a higher-order function is evaluated on its own."""
    bounds = [F.lit(-1)] + [F.element_at(marks, k) for k in range(1, n)] + [F.size(nodes)]
    return [F.slice(nodes, lo + 2, hi - lo - 1) for lo, hi in zip(bounds, bounds[1:])]


def concat_texts(texts: Column) -> Column:
    """E4 (index.js:23-38): concatenated text of all matches, in
    document order — ``textContent`` accumulation without the DOM."""
    return F.array_join(texts, "")


def xpath_concat(html: Column, xp: str = P_TEXT) -> Column:
    """E4 over one fragment."""
    return concat_texts(xpath_texts(html, xp))


def xpath_match_count(html: Column, xp: str = P) -> Column:
    """E4's warn path (index.js:33-35): the reference logs when the
    match count ≠ 1; surfaced as a derived column instead."""
    return F.size(xpath_texts(html, xp))


def trimmed(texts: Column) -> Column:
    """E7 (index.js:87-93): node list → per-element trimmed strings."""
    return F.transform(texts, lambda e: F.trim(e))


def extract_trimmed_list(html: Column, xp: str = TD_H4_TEXT) -> Column:
    """E7 over one fragment."""
    return trimmed(xpath_texts(html, xp))


def cells_dict(cells: Column) -> Column:
    """E8 (index.js:95-106): alternating cells → dict; even index = key,
    odd = value with '%' stripped (index.js:102)."""
    keys = F.filter(cells, lambda _, i: i % 2 == 0)
    vals = F.transform(
        F.filter(cells, lambda _, i: i % 2 == 1),
        lambda v: F.regexp_replace(v, "%", ""),
    )
    return F.map_from_arrays(keys, vals)


def cells_to_map(html: Column, xp: str = TD_TEXT) -> Column:
    """E8 over one fragment."""
    return cells_dict(xpath_texts(html, xp))


def extract_after_heading(
    text: Column, pattern: str = WORK_SCHEDULES_PATTERN, group: int = 3
) -> Column:
    """E9 (index.js:108-113): whitespace-collapse then regex capture;
    NULL (not '') when the heading is absent — ``match && match[3]``."""
    collapsed = collapse_ws(text)
    extracted = F.regexp_extract(collapsed, pattern, group)
    return F.when(collapsed.rlike(pattern), extracted)


def _sentence_split_entry(p: Column) -> Column:
    """Key/value split at the first '. ' (index.js:124-127), including
    the JS edge case where the separator is absent (indexOf = -1 →
    slice(0,-1) / slice(1))."""
    pos = F.instr(p, ". ")
    return F.when(
        pos > 0,
        F.struct(
            p.substr(F.lit(1), pos - 1).alias("key"),
            p.substr(pos + 2, F.length(p)).alias("value"),
        ),
    ).otherwise(
        F.struct(
            p.substr(F.lit(1), F.length(p) - 1).alias("key"),
            p.substr(F.lit(2), F.length(p)).alias("value"),
        )
    )


def qualities_map(text: Column) -> Column:
    """E10 (index.js:115-133): locate the Important Qualities section,
    truncate at the next <h3>, split each paragraph into key → sentence.
    NULL when the section is absent (``match && getIqDict()``)."""
    collapsed = collapse_ws(text)
    section = F.substring_index(
        F.regexp_extract(collapsed, IMPORTANT_QUALITIES_PATTERN, 4), "<h3>", 1
    )
    ps = xpath_texts(section, P_OWN_TEXT)
    entries = F.transform(ps, _sentence_split_entry)
    return F.when(collapsed.rlike(IMPORTANT_QUALITIES_PATTERN), F.map_from_entries(entries))


def _wage_entry(p: Column) -> Column:
    """E6 (index.js:57-85): per-paragraph wage extraction. Annual takes
    precedence; hourly fallback; NULL entry when neither matches."""
    annual_sub = F.regexp_extract(p, ANNUAL_WAGE_PATTERN, 1)
    annual_amt = F.regexp_extract(p, ANNUAL_WAGE_PATTERN, 2)
    hourly_sub = F.regexp_extract(p, HOURLY_WAGE_PATTERN, 1)
    hourly_amt = F.regexp_extract(p, HOURLY_WAGE_PATTERN, 2)
    # try_cast: the regex guarantees digits when matched, but ANSI-mode
    # cast('' as double) in the not-taken branch must never throw under
    # an optimizer that folds eagerly.
    annual_hourly = F.round(
        F.regexp_replace(annual_amt, ",", "").try_cast("double") / WORK_YEAR_HOURS, 2
    )
    return (
        F.when(
            annual_amt != "",
            F.struct(annual_sub.alias("key"), annual_hourly.alias("value")),
        )
        .when(
            hourly_amt != "",
            F.struct(
                hourly_sub.alias("key"), hourly_amt.try_cast("double").alias("value")
            ),
        )
        .otherwise(F.lit(None))
    )


def wage_map(ps: Column) -> Column:
    """E6: suboccupation → normalized hourly wage ($/h, 2 dp), from the
    ``P_OWN_TEXT`` paragraph strings.

    Requires ``spark.sql.mapKeyDedupPolicy=LAST_WIN`` to mirror the
    reference's JS-object overwrite semantics (index.js:63-66).
    """
    entries = F.filter(F.transform(ps, _wage_entry), lambda e: e.isNotNull())
    return F.map_from_entries(entries)


def pay_map(html: Column) -> Column:
    """E6 over one fragment."""
    return wage_map(xpath_texts(html, P_OWN_TEXT))


def pay_text(html: Column) -> Column:
    """E6's concatenated raw text side-channel (cdataParser innerText,
    index.js:49,53)."""
    return xpath_concat(html, P_TEXT)
