"""exon_duckdb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the wheretrue/exon-duckdb reference.

The reference (a DuckDB extension, see SURVEY.md) contributes three things on
top of a host SQL engine: (1) bio file-format table functions, (2) domain
scalar functions, (3) scan pushdown plumbing. This package re-expresses all
three Spark-first:

- ``exon_duckdb_spark.sources``   — file-format readers returning DataFrames
  (native ``spark.read.text`` where the format is line-oriented,
  ``mapInArrow`` split-parsers for record/binary formats).
- ``exon_duckdb_spark.functions`` — scalar surface as native Column
  expressions (JVM/codegen path) with ``pandas_udf`` only where unavoidable.
- ``exon_duckdb_spark.operators`` — relational helpers plus the large-scale
  training-data-pipeline operators (dedup, similarity search, text analysis,
  multimodal plumbing).
- ``exon_duckdb_spark.streaming`` — Structured Streaming operators.
- ``exon_duckdb_spark.plans``     — plan inspection / optimization helpers.

Everything targets a multi-executor cluster: no driver-side data paths, one
task per file split, broadcast hints for dimension joins, AQE on.
"""

# first, so a Python worker that imports the package stops re-reading
# pyspark.zip on every task (see _zipcache)
from exon_duckdb_spark import _zipcache  # noqa: F401
from exon_duckdb_spark.session import get_session  # noqa: F401

__version__ = "0.1.0"

# Version string parity: the reference returns a constant from
# exondb_version() (exon/src/exon/core/module.cpp:25-39 → "0.3.9").
EXONDB_COMPAT_VERSION = "0.3.9"
