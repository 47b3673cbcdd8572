"""scoped_conf: session confs set for a block and restored after it."""

from __future__ import annotations

import pytest

from exon_duckdb_spark.session import scoped_conf

KEY = "spark.sql.shuffle.partitions"
UNSET_KEY = "spark.sql.files.maxRecordsPerFile"


def test_scoped_conf_restores_after_exception(spark):
    before = spark.conf.get(KEY)
    assert spark.conf.get(UNSET_KEY, None) is None
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, **{KEY: "3", UNSET_KEY: "7"}):
            assert spark.conf.get(KEY) == "3"
            assert spark.conf.get(UNSET_KEY) == "7"
            raise RuntimeError("boom")
    assert spark.conf.get(KEY) == before
    assert spark.conf.get(UNSET_KEY, None) is None  # unset again, not "7"


def test_scoped_conf_restores_when_a_set_fails(spark):
    before = spark.conf.get(KEY)
    with pytest.raises(Exception):
        with scoped_conf(spark, **{KEY: "5", "spark.sql.adaptive.enabled": "maybe"}):
            pass
    assert spark.conf.get(KEY) == before
