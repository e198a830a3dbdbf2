"""Scans: driver testdata tables and the synthetic crawl corpus (SURVEY.md §2 A).

Plain ``spark.read.parquet`` with explicit column selection left to the
callers — Catalyst pushes predicates and prunes columns down to the scan
(verified via .explain in tests/test_plans.py), so there is nothing to
hand-optimize here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_corpus(spark: SparkSession, corpus_dir: str) -> dict[str, DataFrame]:
    """pages / seeds / robots written by fixtures.gen.write_parquet."""
    return {t: load_table(spark, corpus_dir, t) for t in ("pages", "seeds", "robots")}
