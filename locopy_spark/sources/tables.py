"""Canonical testdata table loader.

All tables are plain parquet scans (columnar, predicate-pushdown-able).
``events`` stores ``TIMESTAMP(NANOS)``, which the pinned Spark 4.1
reads natively as µs-truncated TIMESTAMP_NTZ — DuckDB's own ns→µs
truncation, so oracle comparisons stay bit-identical. Queries consume
``ts`` through the type-robust ``functions.numeric.epoch_us`` helper.
A load sets no session conf.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

CORE_TABLES = [
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
]

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H
# keeps region/nation constant; supplier/part grow slowly). customer and
# fact tables must never be broadcast.
BROADCAST_TABLES = {"region", "nation", "supplier", "part"}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table as a DataFrame."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str, names=None) -> list[str]:
    """Register tables as temp views for the SQL surface."""
    out = []
    for n in names or CORE_TABLES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
        out.append(n)
    return out
