"""DataFrame → table insert with schema inference.

Parity target: reference locopy/redshift.py:532-666 and
locopy/snowflake.py:412-512 ``insert_dataframe_to_table`` (infer column
types → CREATE TABLE → batched INSERT). Spark-first: the pandas frame
crosses once over Arrow (``createDataFrame``) and lands via
``saveAsTable``/temp view — no row batching, no string-built INSERTs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from locopy_spark.errors import DBError
from locopy_spark.functions.schema_inference import (
    _is_polars,
    find_column_type,
    to_spark_schema,
)


def _coerce_to_types(pdf: pd.DataFrame, types: dict[str, str]) -> pd.DataFrame:
    """Convert object/string columns to the inferred/declared warehouse
    type before the Arrow crossing.

    Inference (``find_column_type`` and its polars twin) classifies
    string columns by *probing* parses ("2021-01-02" → date) but leaves
    the data as strings; ``createDataFrame`` with the mapped Spark type
    would then reject every row. The reference never hits this because
    its warehouses coerce on COPY — Spark's strict verifier doesn't.
    Only object-dtyped columns are touched; typed columns pass through.
    """
    out = pdf.copy(deep=False)
    for col, t in types.items():
        if col not in out.columns:
            continue
        base = t.lower().split("(")[0]
        s = out[col]
        if str(s.dtype) != "object":
            continue
        try:
            if base == "float":
                out[col] = pd.to_numeric(s)
            elif base == "int":
                out[col] = pd.to_numeric(s).astype("Int64")
            elif base == "timestamp":
                out[col] = pd.to_datetime(s, format="mixed")
            elif base == "date":
                out[col] = pd.to_datetime(s, format="mixed").dt.date
        except (ValueError, TypeError):
            pass  # leave as-is; Spark's verifier reports the bad column
    return out


def insert_dataframe_to_table(
    spark: SparkSession,
    dataframe: pd.DataFrame,
    table_name: str,
    columns: list[str] | None = None,
    create: bool = True,
    metadata: dict[str, str] | None = None,
    temp_view: bool = False,
) -> DataFrame:
    """Insert a pandas DataFrame into a Spark table.

    ``metadata`` (column → warehouse type) overrides inference, like
    the reference. ``create=False`` appends to an existing table and
    validates column compatibility via Spark's own resolution. Polars
    DataFrames are accepted symmetrically with ``to_dataframe('polars')``
    (reference snowflake.py:412 accepts both): types are inferred via
    the polars dtype mapping, then the frame crosses once over Arrow.
    """
    if dataframe is None or len(dataframe.columns) == 0:
        raise DBError("DataFrame is empty.")
    if _is_polars(dataframe):
        inferred_pl = find_column_type(
            dataframe.select(columns) if columns else dataframe
        )
        dataframe = (dataframe.select(columns) if columns else dataframe).to_pandas()
        columns = None
        if not metadata:
            metadata = inferred_pl
    pdf = dataframe[columns] if columns else dataframe
    try:
        if not metadata:
            metadata = find_column_type(pdf)
        sdf = spark.createDataFrame(
            _coerce_to_types(pdf, metadata), schema=to_spark_schema(metadata)
        )
        if temp_view:
            sdf.createOrReplaceTempView(table_name)
            return sdf
        writer = sdf.write
        if create:
            writer.mode("append").saveAsTable(table_name)
        else:
            writer.insertInto(table_name)
        return spark.table(table_name)
    except DBError:
        raise
    except Exception as e:
        raise DBError(f"Error inserting dataframe into {table_name}.") from e
