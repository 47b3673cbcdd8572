"""Core/identity functions (reference: exon/src/exon/core/module.cpp)."""

from __future__ import annotations

from pyspark.sql import Column

from exon_duckdb_spark.functions.register import call_scalar

__all__ = ["exondb_version", "THIRD_PARTY_ACKNOWLEDGEMENTS"]


def exondb_version() -> Column:
    """Constant version string — reference returns '0.3.9'
    (core/module.cpp:25-39)."""
    return call_scalar("exondb_version")


# The reference ships exondb_third_party_acknowledgements() naming ITS
# dependency stack (disabled test_acknowledgements_function.test:3-14:
# DuckDB, WFA2-lib, noodles, …). This engine's stack is different, so the
# honest parity is the same surface over OUR actual third parties.
THIRD_PARTY_ACKNOWLEDGEMENTS: list[tuple[str, str, str]] = [
    ("Apache Arrow", "Apache-2.0", "https://arrow.apache.org"),
    ("Apache Spark", "Apache-2.0", "https://spark.apache.org"),
    ("NumPy", "BSD-3-Clause", "https://numpy.org"),
    ("pandas", "BSD-3-Clause", "https://pandas.pydata.org"),
]
