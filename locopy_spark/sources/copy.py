"""COPY — bulk load files into a Spark table/view.

Parity target: the reference's COPY paths (reference:
locopy/redshift.py:193-347 ``copy``/``load_and_copy``,
locopy/snowflake.py:268-337 ``copy``). There, files are compressed,
split, pushed to S3/stage and COPY'd by the warehouse; here Spark IS
the warehouse: ``spark.read`` parallelizes over files/blocks natively,
gzip is decoded inline, IGNOREHEADER maps to the csv header/skip
options, and "splits" are simply input partitions. The COPY-option
strings the reference accepts are read by the one option grammar in
``sources.options``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from locopy_spark.errors import DBError
from locopy_spark.sources.options import (
    CopyOptions,
    file_format_options,
    parse_copy_options,
    split_option,
)
from locopy_spark.sources.options import (  # noqa: F401 (reference name)
    redshift_dateformat_to_java,
)

_DEFAULT_DATEFORMAT = "yyyy-MM-dd"
_DEFAULT_TIMEFORMAT = "yyyy-MM-dd HH:mm:ss"
_CORRUPT_COL = "_corrupt_record"


def combine_copy_options(copy_options: list[str]) -> str:
    """Join COPY options into one SQL fragment
    (reference: locopy/redshift.py:74 ``combine_copy_options``)."""
    return " ".join(copy_options)


def load_errors_view(table_name: str) -> str:
    """Name of the per-table load-errors view populated by a MAXERROR
    COPY — the engine's analog of Redshift's STL_LOAD_ERRORS."""
    return f"{table_name}__load_errors"


def _apply_maxerror(
    spark: SparkSession, df: DataFrame, table_name: str, max_error: int
) -> DataFrame:
    """Enforce Redshift MAXERROR semantics on a PERMISSIVE csv parse
    that ``copy_files`` has already materialized: rows whose raw line
    failed schema parsing are counted; beyond ``max_error`` the load
    fails (DBError), otherwise the bad rows are dropped from the result
    and kept queryable in ``<table>__load_errors`` (raw line + a reason
    placeholder), the STL_LOAD_ERRORS shape.

    ``df`` must be the checkpointed full parse, not the file scan: the
    csv reader prunes columns and marks a row corrupt only when a
    column it parses fails, so a filter over the lazy scan would let a
    row with a bad later column through any narrower projection (and a
    query of ONLY the corrupt column is refused, SPARK-38523). Over the
    checkpointed blocks every verdict is fixed. The (at most
    ``max_error``) bad lines are collected into a local relation; a
    clean load collects nothing.
    """
    bad = df.filter(F.col(_CORRUPT_COL).isNotNull())
    n_bad = bad.count()
    if n_bad > max_error:
        raise DBError(
            f"COPY into {table_name} aborted: {n_bad} unparseable rows "
            f"exceed MAXERROR {max_error}"
        )
    lines = bad.select(_CORRUPT_COL).collect() if n_bad else []
    spark.createDataFrame(
        [(r[0], "row failed schema parse") for r in lines],
        "raw_line string, err_reason string",
    ).createOrReplaceTempView(load_errors_view(table_name))
    return df.filter(F.col(_CORRUPT_COL).isNull()).drop(_CORRUPT_COL)


def _lines_after_header(spark: SparkSession, path, n_skip: int):
    """RDD of csv lines with the first ``n_skip`` lines of EACH file
    removed — the Redshift ``IGNOREHEADER n`` (n > 1) semantics that
    Spark's csv reader (one header line max per file) cannot express
    (reference: locopy/redshift.py:193 passes the option through to
    the warehouse, which skips n lines per file).

    Per file, ``zipWithIndex`` assigns exact in-file line numbers
    (the read itself stays distributed over the file's blocks; the
    index pass adds one small count job per file), so the skip is
    exact regardless of how splits are packed into partitions — a
    ``monotonically_increasing_id`` over the multi-file text read
    would not be, because Spark packs splits by size, not file
    order. Lines transit Python once here, which makes this the
    compat path for legacy multi-line-header files; single-header
    loads (the common case) keep the native JVM csv reader.
    """
    sc = spark.sparkContext

    def one_file(f: str):
        if "," in f:
            # sc.textFile splits its path string on commas BEFORE any
            # unescaping (a comma-named file becomes two bogus paths),
            # so such files go through the DataFrame text source,
            # which takes each path argument verbatim
            lines = spark.read.text(f).rdd.map(lambda r: r[0])
        else:
            lines = sc.textFile(f)
        return (
            lines.zipWithIndex()
            .filter(lambda kv: kv[1] >= n_skip)
            .map(lambda kv: kv[0])
        )

    rdds = [one_file(f) for f in sorted(_leaf_files(spark, path))]
    return sc.union(rdds) if rdds else sc.emptyRDD()


def _hidden(name: str) -> bool:
    return name.startswith(".") or name.startswith("_") and "=" not in name


def _leaf_files(spark: SparkSession, path) -> list[str]:
    """Enumerate leaf data files under ``path`` (a file, dir, glob, or
    list thereof) via the Hadoop FileSystem API — metadata-only, no
    data read (a ``spark.read.text`` + ``input_file_name`` scan would
    read every byte just to learn the file list).  Mirrors Spark's own
    listing rules: directories are descended (``year=1/`` partition
    dirs included) and hidden names are skipped — ``.`` prefixes, and
    ``_`` prefixes without an ``=``.  This is the one listing of what
    a COPY reads: the IGNOREHEADER n>1 path reads it, PURGE deletes it.
    """
    sc = spark.sparkContext
    hconf = sc._jsc.hadoopConfiguration()
    out: list[str] = []

    def walk(fs, st) -> None:
        if not st.isDirectory():
            out.append(st.getPath().toString())
            return
        for sub in fs.listStatus(st.getPath()):
            if not _hidden(sub.getPath().getName()):
                walk(fs, sub)

    for p in path if isinstance(path, list) else [path]:
        hpath = sc._jvm.org.apache.hadoop.fs.Path(p)
        fs = hpath.getFileSystem(hconf)
        for st in fs.globStatus(hpath) or []:
            if st.isDirectory() or not _hidden(st.getPath().getName()):
                walk(fs, st)
    return out


def add_default_copy_options(copy_options: list[str] | None = None) -> list[str]:
    """Append the reference's default COPY options when absent
    (reference: locopy/redshift.py:47-71)."""
    copy_options = list(copy_options or [])
    given = {split_option(o)[0] for o in copy_options}
    default_options = ("DATEFORMAT 'auto'", "COMPUPDATE ON", "TRUNCATECOLUMNS")
    return copy_options + [
        o for o in default_options if split_option(o)[0] not in given
    ]


def copy_files(
    spark: SparkSession,
    path: str | list[str],
    table_name: str,
    delim: str | None = "|",
    file_format: str = "csv",
    copy_options: list[str] | None = None,
    schema=None,
    reader_options: dict | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Load file(s) into the temp view ``table_name``.

    Parameters mirror the reference ``copy`` (delimiter, options list
    incl. ``IGNOREHEADER n``, gzip transparency); ``file_format`` adds
    the snowflake-style format choice, any name in
    ``sources.options.FILE_FORMATS``. ``copy_options`` is a
    list of option strings or a parsed ``CopyOptions``; a ``DELIMITER``
    or format marker among them overrides ``delim``/``file_format``.
    The view is a lazy read of the files, except that a ``MAXERROR``
    load or ``materialize=True`` stores the loaded blocks once
    (``localCheckpoint``) and the view reads those instead.
    """
    opts = (
        copy_options
        if isinstance(copy_options, CopyOptions)
        else parse_copy_options(copy_options)
    )
    ignore_header, max_error = opts.ignore_header, opts.max_error
    fmt, defaults = file_format_options(opts.file_format or file_format, "COPY")
    if max_error is not None and (fmt != "csv" or schema is None):
        # Redshift MAXERROR semantics need per-row parse verdicts: only
        # the csv reader in PERMISSIVE mode against an EXPLICIT schema
        # produces them (inferSchema relaxes every column to string and
        # nothing can fail). Fail loud instead of silently ignoring.
        raise DBError(
            "MAXERROR requires file_format='csv' and an explicit schema"
        )
    try:
        reader = spark.read.options(**defaults)
        if schema is not None:
            reader = reader.schema(schema)
        if reader_options:
            # passthrough for format-specific knobs (mergeSchema,
            # recursiveFileLookup, pathGlobFilter, rowTag, ...)
            reader = reader.options(**reader_options)
        if fmt == "csv":
            reader = reader.options(
                sep=opts.delim or delim or "|",
                # n>1 headers are stripped below before parsing, so the
                # native single-header option applies only when n == 1
                header=ignore_header == 1,
                inferSchema=schema is None,
                dateFormat=opts.date_format or _DEFAULT_DATEFORMAT,
                timestampFormat=opts.time_format or _DEFAULT_TIMEFORMAT,
                # gzip etc. handled natively by extension
            )
            if opts.null_as is not None:
                reader = reader.option("nullValue", opts.null_as)
            if max_error is not None:
                if isinstance(schema, str):  # DDL, as Warehouse.copy takes
                    schema = T._parse_datatype_string(schema)
                reader = (
                    reader.schema(
                        T.StructType(
                            list(schema.fields)
                            + [T.StructField(_CORRUPT_COL, T.StringType())]
                        )
                    )
                    .option("mode", "PERMISSIVE")
                    .option("columnNameOfCorruptRecord", _CORRUPT_COL)
                )
        if fmt == "csv" and ignore_header > 1:
            # per-file exact n-line skip; the resulting string RDD goes
            # through the same csv parser (all options incl.
            # PERMISSIVE/corrupt-record apply)
            df = reader.csv(_lines_after_header(spark, path, ignore_header))
        else:
            try:
                df = reader.format(fmt).load(path)
            except Exception as load_err:
                if fmt == "avro" and "avro" in str(load_err).lower():
                    # built-in but an EXTERNAL module (spark-avro jar)
                    # since Spark 2.4: deployments that ship the jar
                    # just work; on the classpath miss, name the
                    # resolvable coordinate
                    raise ValueError(
                        "file_format='avro' needs the spark-avro package "
                        "on the session classpath, e.g. --packages "
                        "org.apache.spark:spark-avro_2.13:<spark-version>"
                    ) from load_err
                raise
    except Exception as e:
        raise DBError(f"Error loading {path} into {table_name}.") from e
    # this load replaces table_name, and the error rows of a previous
    # MAXERROR COPY into it
    spark.catalog.dropTempView(load_errors_view(table_name))
    if max_error is not None or materialize:
        # The one materialization point: store the loaded blocks and
        # drop the file lineage (a lost block then fails loudly instead
        # of re-reading).  The PURGE / delete_stage_after callers
        # delete the staged sources right after the load, and a lazy
        # view would re-scan the missing files on first read.  A
        # MAXERROR load checkpoints the whole PERMISSIVE parse, so
        # every column passes the parser once and each row's verdict
        # is fixed in the blocks for any later projection.
        df = df.localCheckpoint(eager=True)
        if max_error is not None:
            # outside the wrapper: a MAXERROR abort is its own
            # diagnosis, not a generic load failure
            df = _apply_maxerror(spark, df, table_name, max_error)
    df.createOrReplaceTempView(table_name)
    return df
