"""IO round-trip queries — drive COPY/UNLOAD under the driver's oracle.

The load/export surfaces (parity targets: reference locopy/redshift.py
``copy``/``unload``) were previously pytest-only; these queries put
them under the same DuckDB hash gate as everything else. Each query
writes real files to its own temp dir, reads them back through the
public copy/unload API, and reduces to a result the oracle can compute
straight off the parquet tables — so any loss in the
write → parse → infer path (delimiters, headers, gzip, type
inference, float round-trip) flips the hash.

The reload is materialized (``copy_files(materialize=True)``, the
PURGE path), so the returned DataFrame no longer reads the files and
each call removes its dir before returning: nothing accumulates, and
two processes running the same query cannot delete each other's input.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from locopy_spark.functions.numeric import exact_sum, sql_exact_sum
from locopy_spark.sources.copy import copy_files
from locopy_spark.sources.tables import load_table
from locopy_spark.sources.unload import unload


def q_copy_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nation → gzip pipe-CSV on disk → COPY back → full contents.

    Exercises delimiter, IGNOREHEADER 1, gzip transparency and schema
    inference end-to-end; the oracle is simply the source table, so the
    hash proves the round-trip is lossless.
    """
    out_dir = tempfile.mkdtemp(prefix="locopy_spark_rt_")
    try:
        (
            load_table(spark, sf_dir, "nation")
            .coalesce(1)
            .write.mode("overwrite")
            .options(sep="|", header=True, compression="gzip")
            .csv(out_dir)
        )
        loaded = copy_files(
            spark,
            out_dir,
            "copy_rt_nation",
            delim="|",
            copy_options=["IGNOREHEADER 1"],
            materialize=True,
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return loaded.select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        F.col("n_name").cast("string").alias("n_name"),
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
    ).orderBy("n_nationkey")


def q_unload_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders subset → UNLOAD (4 csv splits, header) → re-read →
    per-status aggregate.

    The aggregate (count, bigint key sum, exact money sum) collapses
    the files back to three rows the oracle computes directly from
    parquet — a value mismatch anywhere in the unload→reload path
    (split boundaries, header rows, double text round-trip) shows up.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("unload_rt_orders")
    out_dir = tempfile.mkdtemp(prefix="locopy_spark_rt_")
    try:
        unload(
            spark,
            "SELECT o_orderkey, o_orderstatus, o_totalprice "
            "FROM unload_rt_orders WHERE o_orderkey % 10 = 0",
            out_dir,
            delim="|",
            header=True,
            splits=4,
        )
        back = copy_files(
            spark,
            out_dir,
            "unload_rt_back",
            delim="|",
            copy_options=["IGNOREHEADER 1"],
            materialize=True,
        )
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return (
        back.groupBy(F.col("o_orderstatus").cast("string").alias("o_orderstatus"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_orderkey").cast("bigint")).alias("sum_key"),
            exact_sum("o_totalprice", "sum_price"),
        )
        .orderBy("o_orderstatus")
    )


ORACLE: dict[str, str] = {
    "q_copy_csv": """
      SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
             CAST(n_name AS VARCHAR) AS n_name,
             CAST(n_regionkey AS BIGINT) AS n_regionkey
      FROM nation ORDER BY n_nationkey
    """,
    "q_unload_roundtrip": f"""
      SELECT CAST(o_orderstatus AS VARCHAR) AS o_orderstatus,
             COUNT(*) AS n_orders,
             -- outer CAST: DuckDB SUM(BIGINT) returns HUGEINT, which
             -- the driver hasher types differently from Spark's BIGINT
             CAST(SUM(CAST(o_orderkey AS BIGINT)) AS BIGINT) AS sum_key,
             {sql_exact_sum('o_totalprice', 'sum_price')}
      FROM orders WHERE o_orderkey % 10 = 0
      GROUP BY 1 ORDER BY 1
    """,
}
