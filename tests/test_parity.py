"""Reference-parity queries vs the DuckDB oracle (driver's t2 replica),
plan-gated like every other registered query."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

from tests.oracle import registry_run

PARITY_KEYS = ["wordcount", "inverted_index", "file_counts", "file_meta_concat", "kv_pipeline"]


@pytest.mark.parametrize("name", PARITY_KEYS)
def test_parity_query_matches_oracle(spark, duck, sf_dir, name):
    registry_run(spark, duck, sf_dir, name).assert_ok()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert [f.name for f in df.schema.fields] == ["word", "cnt"]


def test_mapreduce_generic_matches_builtin(spark, sf_dir):
    """The generic UDF pipeline (kv_pipeline = wordcount-as-UDFs) must
    agree with the declarative built-in wordcount plan."""
    from pyspark.sql import functions as F

    builtin = entry_mod.queries()["wordcount"](spark, sf_dir)
    generic = entry_mod.queries()["kv_pipeline"](spark, sf_dir).select(
        F.col("key").alias("word"), F.col("value").cast("long").alias("cnt")
    )
    assert builtin.exceptAll(generic).count() == 0
    assert generic.exceptAll(builtin).count() == 0
