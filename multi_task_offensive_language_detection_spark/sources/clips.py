"""The clips table store (SURVEY.md S7/S8) — Iceberg-shaped, Parquet-backed.

The north_rule targets Iceberg tables; Iceberg runtime jars are absent in
this sandbox (SURVEY.md §0.4), so the store is hive-partitioned Parquet
(``part_id=K/`` directories) behind a ``format=`` switch: the partition
layout, metadata-level pruning (``WHERE part_id IN (...)`` prunes whole
directories before any IO), and per-partition atomic commit mirror what
Iceberg gives natively, and ``write_clips``/``read_clips`` are the only
two functions that would change when real Iceberg drops in.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import CLIPS_SCHEMA


def read_clips(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """The clips table with its declared schema: no inference job runs
    to read Parquet footers before the scan."""
    if fmt == "iceberg":  # pragma: no cover - requires iceberg jars
        return spark.read.format("iceberg").load(path)
    return spark.read.schema(CLIPS_SCHEMA).parquet(path)


def write_clips(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite") -> None:
    if fmt == "iceberg":  # pragma: no cover - requires iceberg jars
        df.writeTo(path).createOrReplace()
        return
    df.write.mode(mode).partitionBy("part_id").parquet(path)


def list_parts(path: str) -> list[int]:
    """Partition ids present under a hive-partitioned root (driver-side
    metadata listing — the offline stand-in for Iceberg's manifest scan).

    A missing root raises instead of returning [] — a typo'd --input
    would otherwise look like a successfully-completed empty job."""
    if not os.path.isdir(path):
        raise FileNotFoundError(f"clips table root does not exist: {path}")
    out = []
    for d in os.listdir(path):
        if d.startswith("part_id="):
            out.append(int(d.split("=", 1)[1]))
    if not out:
        raise FileNotFoundError(
            f"no part_id=* partitions under {path} — not a clips table root"
        )
    return sorted(out)


def part_fingerprint(path: str, part_id: int) -> str:
    """Deterministic content fingerprint of one input partition: sorted
    (name, size, mtime_ns) of its data files → hex hash. Changed inputs ⇒
    changed fingerprint ⇒ reprocess (SURVEY.md §4.4 step 2)."""
    from ..functions.hashing import hash_bytes_u64

    d = os.path.join(path, f"part_id={part_id}")
    entries = []
    for name in sorted(os.listdir(d)):
        if name.startswith(("_", ".")):
            continue
        st = os.stat(os.path.join(d, name))
        entries.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    return f"{hash_bytes_u64('|'.join(entries).encode()):016x}"


def prune_to_parts(df: DataFrame, part_ids: list[int]) -> DataFrame:
    """Partition-pruned scan: Catalyst pushes this IN-filter to the file
    listing, so completed partitions cost zero IO on resume."""
    return df.where(F.col("part_id").isin(part_ids))
