"""§2.A reference-surface queries over the OOH XML fixture.

The reference's input file is git-ignored in its repo, so correctness
is asserted against a miniature OOH-shaped fixture
(tests/fixtures/ooh_mini.xml, spec in FIXTURES.md §B) whose expected
outputs were derived by hand from the reference's parsers
(index.js:57-133) — the oracle is a literal VALUES table of those
goldens, making the XML → record pipeline a real oracle-checked query
rather than a rows-only one.

Maps/arrays are rendered to sorted ``k=v|k=v`` strings in the output:
map iteration order is undefined in both engines, so the comparison
must be over a canonical scalar form.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ooh_etl_spark.queries.registry import register
from ooh_etl_spark.sources.xml import (
    long_quality_filter,
    project_records,
    read_occupations,
    report_lines,
)

FIXTURE = str(Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "ooh_mini.xml")


def map_to_sorted_string(m: Column) -> Column:
    """Canonical scalar form of a map: sorted 'k=v' joined by '|'."""
    return F.array_join(
        F.array_sort(
            F.transform(
                F.map_entries(m),
                lambda e: F.concat(e.key, F.lit("="), e.value.cast("string")),
            )
        ),
        "|",
    )


def _records(spark: SparkSession) -> DataFrame:
    return project_records(read_occupations(spark, FIXTURE))


def q_ooh_records(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    """The reference's 18-column occupation record projection (P1,
    index.js:138-174) over the XML fixture: every E-operator as a
    column expression, Military-Careers masking (P2, index.js:146-148),
    maps/arrays serialized to sorted strings for the golden VALUES
    oracle."""
    rec = _records(spark)
    return rec.select(
        "title",
        "workSchedules",
        map_to_sorted_string(F.col("importantQualities")).alias("importantQualities_s"),
        "description",
        "medianPayAnnual",
        "medianPayHourly",
        "education",
        "workExperience",
        "training",
        "numberOfJobs",
        "employmentOutlook",
        "employmentOutlookCode",
        "projectedChangeInNumberOfJobs",
        "whatTheyDo",
        "howToBecomeOne",
        "workEnvironment",
        "payText",
        map_to_sorted_string(F.col("pay")).alias("pay_s"),
        F.array_join("similarOccupations", "|").alias("similarOccupations_s"),
        map_to_sorted_string(F.col("topIndustries")).alias("topIndustries_s"),
        "whatTheyDo_matches",
    )


OOH_RECORDS_ORACLE = """
SELECT t.* REPLACE (CAST(medianPayAnnual AS DOUBLE) AS medianPayAnnual,
                    CAST(medianPayHourly AS DOUBLE) AS medianPayHourly)
FROM (VALUES
  ('Software Developers', 'Most work full time.',
   'Analytical skills=Developers must analyze needs.|Communication skills=Developers must communicate well.|Concentration and determination skills=They focus on tasks.',
   'Create applications.', 110140.0, 52.95, 'Bachelor''s degree', 'None', 'None',
   '1847900', 'Much faster than average', 'A', '189200',
   'Software developers design computer applications.',
   'A bachelor''s degree is typical.', 'Many work in offices.',
   'The median annual wage for software developers was $110,140 in May 2020.The median hourly wage for web developers was $37.65 in May 2020.',
   'software developers=52.95|web developers=37.65',
   'Computer Programmers|Web Developers', 'Finance=9|Publishing=10', 1),
  ('Military Careers', 'Deployment schedules vary.',
   'Physical fitness=Members must be fit.',
   NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL,
   NULL, NULL, NULL, NULL, NULL),
  ('Models', NULL, NULL,
   'Pose for art and products.', 27530.0, 13.24, 'No formal educational credential',
   'None', 'None', '5800', 'Decline', 'D', '700',
   'Models pose for artists and photographers.',
   'No formal education is required.', 'Conditions vary by assignment.',
   'The median annual wage for models was $27,530 in May 2020.',
   'models=13.24', 'Actors|Photographers', 'Arts=25|Retail=50', 1),
  ('Actors', 'Schedules are irregular and part time.',
   'Persistence and patience skills=Actors audition often.|Speaking skills=Actors must speak clearly.',
   'Portray characters.', 43760.0, 21.88, 'Some college, no degree',
   'Less than 5 years', 'Long-term on-the-job training', '52700',
   'Faster than average', 'B', '8200',
   'Actors express ideas.They portray characters in film.',
   'Many take classes.', 'Work is irregular.',
   'The median hourly wage for actors was $21.88 in May 2020.',
   'actors=21.88', 'Dancers|Musicians', 'Motion picture=30|Performing arts=40', 2)
) AS t(title, workSchedules, importantQualities_s, description, medianPayAnnual,
       medianPayHourly, education, workExperience, training, numberOfJobs,
       employmentOutlook, employmentOutlookCode, projectedChangeInNumberOfJobs,
       whatTheyDo, howToBecomeOne, workEnvironment, payText, pay_s,
       similarOccupations_s, topIndustries_s, whatTheyDo_matches)
"""

register("q_ooh_records", OOH_RECORDS_ORACLE)(q_ooh_records)


def q_ooh_report(spark: SparkSession, sf_dir: str) -> DataFrame:  # noqa: ARG001
    """F1 + K1 (index.js:177-182): the reference's final filtered report."""
    return report_lines(long_quality_filter(_records(spark)))


OOH_REPORT_ORACLE = """
SELECT * FROM (VALUES
  ('Software Developers', 'Job: Software Developers Salary: 110140 Growth Rating: A'),
  ('Actors', 'Job: Actors Salary: 43760 Growth Rating: B')
) AS t(title, line)
"""

register("q_ooh_report", OOH_REPORT_ORACLE)(q_ooh_report)
