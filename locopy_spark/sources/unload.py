"""UNLOAD — export a query's results to files.

Parity target: reference locopy/redshift.py:349-531
(``unload``/``unload_and_copy``) and locopy/snowflake.py:339-410. The
reference UNLOADs to S3 (optionally ``PARALLEL OFF``, ``HEADER``,
gzip) then downloads + concatenates locally. Spark-first: the write IS
parallel — ``splits`` maps to output partitions (``repartition``),
``PARALLEL OFF`` to ``coalesce(1)``, gzip to the codec option, and the
"download + reassemble" step is only a local convenience
(``unload_and_fetch``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from locopy_spark.errors import DBError
from locopy_spark.sources.options import file_format_options


def _estimate_row_bytes(df: DataFrame, delim: str, sample_rows: int = 10_000) -> float:
    """Average serialized row size (bytes) from a bounded sample.

    Drives the MAXFILESIZE → ``maxRecordsPerFile`` translation: one
    small job over ``limit(sample_rows)`` (never a full scan), +1 for
    the newline. Like Redshift's MAXFILESIZE, the resulting bound is
    approximate — rows vary around the mean.
    """
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("")) for c in df.columns]
    row = (
        df.limit(sample_rows)
        .select((F.length(F.concat_ws(delim or ",", *cols)) + 1).alias("b"))
        .agg(F.avg("b").alias("avg"))
        .collect()[0]
    )
    return float(row.avg) if row.avg is not None else 64.0


def unload(
    spark: SparkSession,
    query: str,
    path: str,
    file_format: str = "csv",
    delim: str = "|",
    header: bool = False,
    compression: str | None = None,
    splits: int | None = None,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    max_file_mb: float | None = None,
) -> DataFrame:
    """Run ``query`` and write the result under ``path``.

    ``file_format`` is csv, json, parquet, orc or xml (the UNLOAD
    formats of ``sources.options.FILE_FORMATS``).
    ``splits=None`` keeps the plan's natural partitioning (cluster
    decides); an int forces that many output files (``coalesce(1)``
    for one, the reference's concatenate); ``partition_by``
    produces hive-style directory partitioning for pruning on re-read.
    ``max_file_mb`` bounds output file size (Redshift UNLOAD
    ``MAXFILESIZE``): translated to Spark's per-file record cap using a
    sampled row-size estimate, so it composes with ``splits`` (each
    partition rolls to a new file when the cap is hit).
    """
    fmt, defaults = file_format_options(file_format, "UNLOAD")
    try:
        df = spark.sql(query)
        out = df
        if splits is not None:
            out = df.coalesce(splits) if splits == 1 else df.repartition(splits)
        writer = out.write.mode(mode)
        if max_file_mb is not None:
            if max_file_mb <= 0:
                raise DBError(f"max_file_mb must be positive, got {max_file_mb}")
            rows = max(
                1, int(max_file_mb * 1024 * 1024 / _estimate_row_bytes(df, delim))
            )
            writer = writer.option("maxRecordsPerFile", rows)
        if compression:
            writer = writer.option("compression", compression)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if fmt == "csv":
            writer = writer.options(sep=delim, header=header)
        writer.format(fmt).options(**defaults).save(path)
        return df
    except Exception as e:
        raise DBError(f"Error unloading query to {path}.") from e


def unload_and_fetch(
    spark: SparkSession,
    query: str,
    path: str | None = None,
    **unload_kwargs,
):
    """UNLOAD and also return the result as a pandas DataFrame
    (reference ``unload_and_copy`` semantics: export + local copy)."""
    if path is not None:
        df = unload(spark, query, path, **unload_kwargs)
    else:
        df = spark.sql(query)
    pdf = df.toPandas()
    pdf.columns = [c.lower() for c in pdf.columns]
    return pdf
