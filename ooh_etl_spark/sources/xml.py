"""OOH XML compilation source (S1/S2, index.js:186,136).

The reference loads the whole file into one in-memory DOM. Spark's
native XML source (``format("xml")`` with ``rowTag``) does not split a
file either: with its default ``multiLine=true`` it streams each file
whole through ONE task, and ``multiLine=false`` reads one record per
physical line, which is wrong for a pretty-printed compilation (79
rows from the 4-occupation test fixture). Parallelism comes from the
number of files, and for one file from
:func:`ooh_etl_spark.tables.parallelize_rows` after the scan.

Measured and dropped: a splittable scan, ``spark.read.text(path,
lineSep="</occupation>")`` with one ``from_xml`` per record. On the
9 MB, 5,000-occupation benchmark compilation on 4 vCPUs it plans 3
partitions (4 MB, 4 MB and 1 MB: ``spark.sql.files.openCostInBytes``
sets the split size of a small file), so two tasks parse about 2,300
records each, and ``from_xml``, which opens a new StAX reader per
record, spends about 1.5 times the native source's CPU per record. The
scan alone took 0.28 s against 0.24 s for the native source, and with
the round-robin exchange that follows both it ran 0.31-0.34 s against
0.31 s. In ``perfbench/run.py --workload ooh_etl`` the pipeline with it
lost all six interleaved pairs to the pipeline without it, by 2-15% in
``throughput_qps``.

The schema is DECLARED, not inferred — inference would mis-type free
text (and the reference's schema is implicit anyway; SURVEY.md §1.3
makes it explicit).
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ooh_etl_spark.functions.html import (
    P,
    P_OWN_TEXT,
    P_TEXT,
    TD_H4_TEXT,
    TD_TEXT,
    WORK_SCHEDULES_PATTERN,
    cells_dict,
    concat_texts,
    extract_after_heading,
    group_marks,
    qualities_map,
    trimmed,
    ungroup,
    wage_map,
    xpath_grouped,
)


def _qf(*fields: str) -> T.StructType:
    return T.StructType([T.StructField(f, T.StringType()) for f in fields])


#: Everything is a string at the source, mirroring the reference where
#: casts happen in expressions (index.js:151-152), not in the scan.
OCCUPATION_SCHEMA = T.StructType(
    [
        T.StructField("title", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("qf_median_pay_annual", _qf("value")),
        T.StructField("qf_median_pay_hourly", _qf("value")),
        T.StructField("qf_entry_level_education", _qf("value")),
        T.StructField("qf_work_experience", _qf("value")),
        T.StructField("qf_on_the_job_training", _qf("value")),
        T.StructField("qf_number_of_jobs", _qf("value")),
        T.StructField("qf_employment_outlook", _qf("description", "value")),
        T.StructField("qf_employment_openings", _qf("value")),
        T.StructField("summary_what_they_do", T.StringType()),
        T.StructField("summary_how_to_become_one", T.StringType()),
        T.StructField("summary_work_environment", T.StringType()),
        T.StructField("summary_pay", T.StringType()),
        T.StructField("similar_occupations", _qf("section_body")),
        T.StructField("work_environment", _qf("section_body")),
        T.StructField("how_to_become_one", _qf("section_body")),
    ]
)


def read_occupations(spark: SparkSession, path: str) -> DataFrame:
    """S1: scan the OOH compilation, one row per <occupation>."""
    return (
        spark.read.format("xml")
        .option("rowTag", "occupation")
        .schema(OCCUPATION_SCHEMA)
        .load(path)
    )


def _masked(col: Column, title: Column) -> Column:
    """P2 (index.js:146-148): 'Military Careers' rows carry only
    title/workSchedules/importantQualities; other fields become NULL."""
    return F.when(title != "Military Careers", col)


#: The eight write-side XPath extractions, in output order: (output,
#: fragment, path, post-processor). They share one ``xpath`` call per
#: row; ``P`` selects elements, so its group must come last.
_GROUPED = (
    ("whatTheyDo", "summary_what_they_do", P_TEXT, concat_texts),
    ("howToBecomeOne", "summary_how_to_become_one", P_TEXT, concat_texts),
    ("workEnvironment", "summary_work_environment", P_TEXT, concat_texts),
    ("payText", "summary_pay", P_TEXT, concat_texts),
    ("pay", "summary_pay", P_OWN_TEXT, wage_map),
    ("similarOccupations", "similar_occupations.section_body", TD_H4_TEXT, trimmed),
    ("topIndustries", "work_environment.section_body", TD_TEXT, cells_dict),
    # E4 warn path (index.js:33-35) as a derived column: the match
    # count for a cdataXpath field (≠ 1 → the reference logs).
    ("whatTheyDo_matches", "summary_what_they_do", P, F.size),
)

_NODES, _MARKS = "__cdata_nodes", "__cdata_marks"


@lru_cache(maxsize=1)
def _record_projection(app_id: str) -> tuple[Column, Column, list[Column]]:  # noqa: ARG001
    """The columns of :func:`occupation_records`, built once per
    SparkContext: building them takes about 2,200 py4j round trips
    (0.2 s), against about 50 for a call that reuses them. Keyed on the
    application id, so a restarted context rebuilds them."""
    title = F.col("title")
    we = F.col("work_environment.section_body")
    htb = F.col("how_to_become_one.section_body")
    nodes = _masked(
        xpath_grouped([(F.col(frag), xp) for _, frag, xp, _ in _GROUPED]), title
    ).alias(_NODES)
    marks = group_marks(F.col(_NODES)).alias(_MARKS)
    groups = ungroup(F.col(_NODES), F.col(_MARKS), len(_GROUPED))

    def qf(field: str) -> Column:
        return F.col(field)

    columns = [
        title.alias("title"),
        extract_after_heading(we, WORK_SCHEDULES_PATTERN, 3).alias("workSchedules"),
        qualities_map(htb).alias("importantQualities"),
        _masked(qf("description"), title).alias("description"),
        # try_cast: ANSI mode is on (Spark 4 default) and a plain cast
        # THROWS on malformed text; NULL is the total analog of the
        # reference's `+'abc' → NaN` coercion (index.js:151-152).
        _masked(qf("qf_median_pay_annual.value").try_cast("double"), title).alias(
            "medianPayAnnual"
        ),
        _masked(qf("qf_median_pay_hourly.value").try_cast("double"), title).alias(
            "medianPayHourly"
        ),
        _masked(qf("qf_entry_level_education.value"), title).alias("education"),
        _masked(qf("qf_work_experience.value"), title).alias("workExperience"),
        _masked(qf("qf_on_the_job_training.value"), title).alias("training"),
        _masked(qf("qf_number_of_jobs.value"), title).alias("numberOfJobs"),
        _masked(qf("qf_employment_outlook.description"), title).alias(
            "employmentOutlook"
        ),
        _masked(qf("qf_employment_outlook.value"), title).alias(
            "employmentOutlookCode"
        ),
        _masked(qf("qf_employment_openings.value"), title).alias(
            "projectedChangeInNumberOfJobs"
        ),
    ] + [
        _masked(post(group), title).alias(name)
        for (name, _, _, post), group in zip(_GROUPED, groups)
    ]
    return nodes, marks, columns


def occupation_records(occ: DataFrame) -> DataFrame:
    """P1 (index.js:138-174): the 18-column record projection.

    The eight write-side extractions read one masked ``xpath`` node
    array (:func:`ooh_etl_spark.functions.html.xpath_grouped`), computed
    in a lower projection so masked and NULL-title rows are never
    parsed; a middle projection finds its group marks once.
    ``importantQualities`` keeps its own small ``xpath``, so the report,
    which needs only that column, parses one section per row (the
    reference re-parses each CDATA block up to twice per row — SURVEY.md
    §4.1).
    """
    nodes, marks, columns = _record_projection(occ.sparkSession.sparkContext.applicationId)
    return occ.select("*", nodes).select("*", marks).select(*columns)


def long_quality_filter(records: DataFrame, min_len: int = 26) -> DataFrame:
    """F1 (index.js:177): EXISTS over map keys. NULL-safe: rows with a
    NULL map are dropped (the reference would throw; SURVEY §7.3.1).

    The predicate is pinned above the record projection
    (tables.non_pushable): pushed down, it would re-run the full
    qualities parse single-threaded in the XML scan stage."""
    from ooh_etl_spark.tables import non_pushable

    return records.filter(
        non_pushable(
            F.exists(
                F.map_keys("importantQualities"), lambda k: F.length(k) > min_len
            )
        )
    )


def report_lines(records: DataFrame) -> DataFrame:
    """K1 (index.js:178): the formatted sink line. Integral doubles are
    rendered without the trailing '.0' to match JS number→string."""
    salary = F.regexp_replace(F.col("medianPayAnnual").cast("string"), r"\.0$", "")
    return records.select(
        "title",
        F.format_string(
            "Job: %s Salary: %s Growth Rating: %s",
            F.col("title"),
            salary,
            F.col("employmentOutlookCode"),
        ).alias("line"),
    )
