"""Batch parquet sources for the driver's synthetic tables.

Scale note: ``spark.read.parquet`` gives columnar scans with predicate
pushdown and column pruning for free — operators select/filter first so
Catalyst pushes both into the scan (verify with
``df.explain()`` → PushedFilters/ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from realtime_analytics_pipeline_spark.schema import normalize_testdata_events
from realtime_analytics_pipeline_spark.session import tune_session


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    tune_session(spark)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet normalized to the canonical engine layout."""
    return normalize_testdata_events(load_table(spark, sf_dir, "events"))
