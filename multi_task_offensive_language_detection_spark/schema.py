"""Authoritative table schemas (BASELINE.json input_hint; SURVEY.md §1.2)."""

from __future__ import annotations

from pyspark.sql import types as T

#: Input table of audio clip + transcript pairs (BASELINE.json:15).
CLIPS_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType(), False),
        T.StructField("bytes", T.BinaryType(), True),
        T.StructField("sr_hz", T.IntegerType(), True),
        T.StructField("dur_ms", T.IntegerType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("transcript", T.StringType(), True),
        # processing partition for lineage/resume (FIXTURES.md §1)
        T.StructField("part_id", T.IntegerType(), True),
    ]
)

#: The driver-provided test tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
