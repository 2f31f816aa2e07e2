"""Loaders for the driver-provided parquet tables (TESTDATA.md)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schema import TESTDATA_TABLES

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown test table {name!r}")
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
