"""ooh_etl_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the query and data-processing
capabilities of the reference ETL (joshparkerj/ooh-etl, surveyed in
SURVEY.md), extended with the LLM-data-pipeline operator set
(dedup, similarity search, multimodal columns, text analysis) mandated by
the driver contract (BASELINE.json).

Design stance (SURVEY.md §7.0):
- DataFrame/SQL first; every operator is a declarative plan for Catalyst.
- Built-in `pyspark.sql.functions` in the hot path; Pandas UDFs only where
  built-ins genuinely cannot express the semantics.
- No driver-side collect inside operators; dimension tables broadcast;
  AQE for skew; designed for a 1000-executor / 100 TB deployment even
  though tests run on local[32].
"""

from ooh_etl_spark.session import get_spark
from ooh_etl_spark.tables import load_table, load_tables, TABLE_NAMES

__all__ = ["get_spark", "load_table", "load_tables", "TABLE_NAMES"]

__version__ = "0.1.0"
