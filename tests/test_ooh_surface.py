"""Unit tests for the §2.A operator library, one per SURVEY.md §2.A row,
asserting the Spark expressions reproduce the reference parsers'
documented behavior (citations in ooh_etl_spark/functions/html.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ooh_etl_spark.functions import html as H
from ooh_etl_spark.functions.html_fallback import tag_text_concat, tag_texts


def one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0].v


def lit(s):
    return F.lit(s)


# --- E4: xpath-concat --------------------------------------------------------
def test_xpath_concat_multi_p(spark):
    html = "<p>Actors express ideas.</p><p>They portray characters.</p>"
    assert (
        one(spark, H.xpath_concat(lit(html)))
        == "Actors express ideas.They portray characters."
    )


def test_xpath_concat_nested_markup(spark):
    html = "<p>Hello <strong>world</strong>!</p>"
    assert one(spark, H.xpath_concat(lit(html))) == "Hello world!"


def test_xpath_match_count_warn_path(spark):
    html = "<p>a</p><p>b</p>"
    assert one(spark, H.xpath_match_count(lit(html))) == 2
    assert one(spark, H.xpath_match_count(lit("<p>a</p>"))) == 1


# --- E6: wage extraction -----------------------------------------------------
def test_pay_annual_normalized_to_hourly(spark):
    html = "<p>The median annual wage for software developers was $110,140 in May 2020.</p>"
    assert one(spark, H.pay_map(lit(html))) == {"software developers": 52.95}


def test_pay_hourly_kept(spark):
    html = "<p>The median hourly wage for actors was $21.88 in May 2020.</p>"
    assert one(spark, H.pay_map(lit(html))) == {"actors": 21.88}


def test_pay_annual_takes_precedence(spark):
    # Both sentences in ONE paragraph: the reference checks annual first
    # (index.js:59-70), so only the annual match contributes.
    html = (
        "<p>The median annual wage for devs was $41,600 and "
        "The median hourly wage for devs was $99.99.</p>"
    )
    assert one(spark, H.pay_map(lit(html))) == {"devs": 20.0}


def test_pay_duplicate_key_last_wins(spark):
    html = (
        "<p>The median hourly wage for devs was $10.00.</p>"
        "<p>The median hourly wage for devs was $20.00.</p>"
    )
    assert one(spark, H.pay_map(lit(html))) == {"devs": 20.0}


def test_pay_nonmatching_paragraph_skipped_but_in_text(spark):
    html = "<p>Pay varies by rank.</p>"
    assert one(spark, H.pay_map(lit(html))) == {}
    assert one(spark, H.pay_text(lit(html))) == "Pay varies by rank."


# --- E7: trimmed list --------------------------------------------------------
def test_extract_trimmed_list(spark):
    html = "<table><tr><td><h4> Web Developers </h4></td><td><h4>Dancers</h4></td></tr></table>"
    assert one(spark, H.extract_trimmed_list(lit(html))) == ["Web Developers", "Dancers"]


# --- E8: alternating cells → map, % stripped --------------------------------
def test_cells_to_map_percent_stripped(spark):
    html = "<table><tr><td>Publishing</td><td>10%</td></tr><tr><td>Finance</td><td>9%</td></tr></table>"
    assert one(spark, H.cells_to_map(lit(html))) == {"Publishing": "10", "Finance": "9"}


# --- E9: heading extraction --------------------------------------------------
def test_work_schedules_basic(spark):
    text = "<h3>Work Schedules</h3><p>Most work full time.</p>"
    assert one(spark, H.extract_after_heading(lit(text))) == "Most work full time."


def test_work_schedules_strong_variant(spark):
    text = "<h3><strong>Work Schedules</strong></h3><p>Irregular.</p>"
    assert one(spark, H.extract_after_heading(lit(text))) == "Irregular."


def test_work_schedules_absent_is_null(spark):
    # match && match[3] (index.js:112) → null, not ''.
    text = "<p>No heading here.</p>"
    assert one(spark, H.extract_after_heading(lit(text))) is None


def test_work_schedules_whitespace_collapsed(spark):
    text = "<h3>Work\n  Schedules</h3>\n<p>Full\ttime.</p>"
    assert one(spark, H.extract_after_heading(lit(text))) == "Full time."


# --- E10: qualities map ------------------------------------------------------
def test_qualities_map_truncates_at_next_h3(spark):
    text = (
        "<h3>Important Qualities</h3><p>Analytical skills. Think hard.</p>"
        "<h3>Advancement</h3><p>Speaking skills. Not included.</p>"
    )
    assert one(spark, H.qualities_map(lit(text))) == {"Analytical skills": "Think hard."}


def test_qualities_map_absent_is_null(spark):
    assert one(spark, H.qualities_map(lit("<h3>Education</h3><p>x. y</p>"))) is None


def test_qualities_map_js_no_separator_edge(spark):
    # indexOf('. ') = -1 → slice(0,-1)/slice(1) (index.js:125-126).
    text = "<h3>Important Qualities</h3><p>NoSeparatorHere</p>"
    assert one(spark, H.qualities_map(lit(text))) == {
        "NoSeparatorHer": "oSeparatorHere"
    }


# --- ANSI totality: dirty numerics → NULL, never a thrown job ---------------
def test_malformed_numeric_value_yields_null(spark):
    # The reference coerces with unary + ('N/A' → NaN, index.js:151);
    # under Spark's ANSI mode a plain cast would kill the whole job —
    # try_cast gives the total NULL semantics.
    from pyspark.sql import Row

    from ooh_etl_spark.sources.xml import occupation_records

    occ = spark.createDataFrame(
        [
            Row(
                title="Dirty",
                description="d",
                qf_median_pay_annual=Row(value="N/A"),
                qf_median_pay_hourly=Row(value="see text"),
                qf_entry_level_education=Row(value="x"),
                qf_work_experience=Row(value="x"),
                qf_on_the_job_training=Row(value="x"),
                qf_number_of_jobs=Row(value="x"),
                qf_employment_outlook=Row(description="x", value="x"),
                qf_employment_openings=Row(value="x"),
                summary_what_they_do="<p>a</p>",
                summary_how_to_become_one="<p>a</p>",
                summary_work_environment="<p>a</p>",
                summary_pay="<p>a</p>",
                similar_occupations=Row(section_body="<td><h4>b</h4></td>"),
                work_environment=Row(section_body="<p>c</p>"),
                how_to_become_one=Row(section_body="<p>d</p>"),
            )
        ]
    )
    rec = occupation_records(occ).collect()[0]
    assert rec.medianPayAnnual is None
    assert rec.medianPayHourly is None
    assert rec.title == "Dirty"


# --- record projection: built once per SparkContext -------------------------
def test_record_projection_columns_are_built_once_per_context(spark):
    # Building the 21-column tree costs about 2,200 py4j round trips;
    # later calls on the same context must reuse it.
    from ooh_etl_spark.queries.ooh_surface import FIXTURE
    from ooh_etl_spark.sources.xml import (
        _record_projection,
        occupation_records,
        read_occupations,
    )

    occ = read_occupations(spark, FIXTURE)
    occupation_records(occ)
    before = _record_projection.cache_info()
    assert occupation_records(occ).count() == 4
    after = _record_projection.cache_info()
    assert (after.hits, after.misses) == (before.hits + 1, before.misses)


# --- fallback: lenient HTML --------------------------------------------------
def test_fallback_handles_unclosed_p(spark):
    html = "<p>first<p>second</p>"
    assert one(spark, tag_texts(lit(html), "p")) == ["first", "second"]


def test_fallback_nested_ancestor_filter(spark):
    html = "<td><h4>inside</h4></td><h4>outside</h4>"
    assert one(spark, tag_texts(lit(html), "h4", ancestor="td")) == ["inside"]


def test_fallback_concat_matches_xpath_on_wellformed(spark):
    html = "<p>a <b>bold</b></p><p>c</p>"
    assert one(spark, tag_text_concat(lit(html), "p")) == one(
        spark, H.xpath_concat(lit(html))
    )
