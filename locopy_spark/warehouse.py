"""Reference-shaped warehouse facade: ``Redshift``/``Snowflake`` method
surface over Spark.

Parity targets: reference locopy/redshift.py:93 (``class Redshift(S3,
Database)`` — copy/load_and_copy/unload/unload_and_copy/
insert_dataframe_to_table) and locopy/snowflake.py:113 (``class
Snowflake`` — upload_to_internal/download_from_internal/copy/unload).
The reference classes render SQL strings (COPY/UNLOAD/PUT/GET) for the
warehouse to run; here each method IS the operation, delegating to the
Spark-first implementations in ``sources/``. One class serves both
flavors — the split only existed because the two warehouses speak
different SQL — with ``Redshift``/``Snowflake`` aliases so reference
call-sites and ``except`` clauses port verbatim.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame

from locopy_spark.database import Database
from locopy_spark.errors import DBError
from locopy_spark.sources.copy import _leaf_files, copy_files
from locopy_spark.sources.dataframe_io import insert_dataframe_to_table
from locopy_spark.sources.options import (
    CopyOptions,
    parse_copy_options,
    parse_unload_options,
)
from locopy_spark.sources.stage import Stage
from locopy_spark.logger import get_logger
from locopy_spark.sources.unload import unload as _unload
from locopy_spark.sources.unload import unload_and_fetch

logger = get_logger(__name__)


# staged names that AUTO_COMPRESS leaves as they are
_COMPRESSED_SUFFIXES = (".gz", ".bz2", ".zst", ".br", ".parquet", ".orc")


class Warehouse(Database):
    """``Database`` plus the bulk-transfer method surface of the
    reference warehouse classes.

    ``stage_root`` plays the role of the S3 bucket / internal stage: a
    URI or directory the stage transport (:class:`Stage`) reads and
    writes. Methods mirror the reference names and argument order so a
    port is a change of import, not of call-sites.
    """

    def __init__(
        self,
        spark=None,
        config_yaml: Optional[str] = None,
        stage_root: Optional[str] = None,
        **kwargs,
    ):
        super().__init__(spark=spark, config_yaml=config_yaml, **kwargs)
        self._stage = Stage(stage_root) if stage_root else None
        self._file_formats: dict[str, tuple] = {}

    # -- named file formats (reference snowflake.py file_format_name:
    #    "CREATE FILE FORMAT" objects referenced by name) ----------------
    def create_file_format(
        self,
        name: str,
        file_type: str = "csv",
        format_options: list[str] | None = None,
    ) -> None:
        """Register a named file format (Snowflake ``CREATE FILE
        FORMAT`` parity): later ``copy``/``unload`` calls reference it
        via ``file_format_name`` and it overrides file_type +
        format_options, exactly as the reference documents."""
        parse_copy_options(None, file_type, format_options)  # fail now
        self._file_formats[name] = (file_type, list(format_options or []))

    def _resolve_format(
        self,
        file_type: str | None,
        format_options: list[str] | None,
        file_format_name: str,
    ) -> tuple:
        """The call's ``(file_type, format_options)``; a named format
        overrides both."""
        if not file_format_name:
            return file_type, format_options
        if file_format_name not in self._file_formats:
            raise DBError(
                f"Unknown file_format_name: {file_format_name!r} "
                "(register it with create_file_format)."
            )
        return self._file_formats[file_format_name]

    # -- stage transport (reference snowflake.py:213,247; s3.py) ----------
    def _require_stage(self) -> Stage:
        if self._stage is None:
            raise DBError("No stage_root configured for stage transport.")
        return self._stage

    def upload_to_internal(
        self,
        local: str,
        stage: str = "",
        parallel: int = 4,
        auto_compress: bool = True,
        overwrite: bool = True,
    ) -> list[str]:
        """PUT local file(s) to the stage (reference snowflake.py:213:
        ``PUT 'file://local' @stage PARALLEL=n AUTO_COMPRESS=b
        OVERWRITE=b``).  Wildcards in ``local`` upload every match;
        ``auto_compress`` gzips files not already compressed (the
        staged name gains ``.gz``, Snowflake AUTO_COMPRESS semantics —
        Spark reads them back transparently) on one
        ``utility.compress_pairs`` pool, straight into the stage;
        ``parallel`` bounds the thread pool that copies the other
        files; ``overwrite=False`` leaves an existing staged file
        untouched and uncompressed (Snowflake reports such files as
        SKIPPED).  Returns the staged paths in match order."""
        import glob as _glob
        import os

        matches = sorted(_glob.glob(local)) or [local]
        return self._put(
            [(p, os.path.join(stage, os.path.basename(p))) for p in matches],
            parallel=parallel,
            auto_compress=auto_compress,
            overwrite=overwrite,
        )

    def _put(
        self,
        items: list[tuple[str, str]],
        parallel: int = 4,
        auto_compress: bool = True,
        overwrite: bool = True,
    ) -> list[str]:
        """PUT ``(local path, stage key)`` pairs; returns the staged
        paths in item order.  An existing staged file is skipped under
        ``overwrite=False`` before any work is done on it.  Files to
        auto-compress are gzipped by one ``compress_pairs`` pool
        straight into their staged names; the rest are copied on a
        ``parallel``-wide transfer pool."""
        import os
        from concurrent.futures import ThreadPoolExecutor

        from locopy_spark.utility import compress_pairs

        st = self._require_stage()
        staged: list[str] = []
        packed: list[tuple[str, str]] = []  # (local path, staged path)
        plain: list[tuple[str, str]] = []  # (local path, stage key)
        for path, key in items:
            gz = auto_compress and not key.endswith(_COMPRESSED_SUFFIXES)
            if gz:
                key += ".gz"
            dest = st._dest(key)
            staged.append(dest)
            if not overwrite and os.path.exists(dest):
                continue  # OVERWRITE=FALSE → SKIPPED
            if gz:
                os.makedirs(os.path.dirname(dest) or ".", exist_ok=True)
                packed.append((path, dest))
            else:
                plain.append((path, key))
        compress_pairs(packed)
        if plain:
            with ThreadPoolExecutor(
                max_workers=max(1, min(int(parallel), len(plain)))
            ) as ex:
                for _ in ex.map(lambda item: st.upload(*item), plain):
                    pass
        return staged

    def download_from_internal(
        self, stage: str, local: str = ".", parallel: int = 10
    ) -> list[str]:
        """GET stage files matching ``stage`` (reference
        snowflake.py:247: ``GET @stage 'file://local' PARALLEL=n``);
        ``parallel`` is the transfer thread count."""
        return self._require_stage().download(stage, local, parallel=parallel)

    # -- bulk load (reference redshift.py:193; snowflake.py:268) ----------
    def copy(
        self,
        table_name: str,
        path: str,
        delim: str | None = "|",
        copy_options: list[str] | None = None,
        file_format: str = "csv",
        file_type: str | None = None,
        format_options: list[str] | None = None,
        file_format_name: str = "",
        schema=None,
    ) -> DataFrame:
        """COPY files into ``table_name`` (reference redshift.py:193:
        same (table, path, delim, copy_options) argument order; the
        snowflake.py:268 ``file_type``/``format_options``/
        ``file_format_name`` FILE_FORMAT surface is also accepted and,
        as in the reference, a named format overrides the others).

        Redshift copy-option parity (reference redshift.py:219-222):
        a format marker inside ``copy_options`` (``PARQUET``, ``FORMAT
        AS PARQUET``, ``JSON 'auto'``, ...) selects the file format —
        ``copy("t", path, delim=None, copy_options=["PARQUET"])``
        loads parquet. The reference's delimited-load defaults
        (``DATEFORMAT 'auto' COMPUPDATE ON TRUNCATECOLUMNS``,
        ``add_default_copy_options``) are the ``CopyOptions`` defaults.

        Snowflake ``PURGE = TRUE`` (the copy option the reference's
        integration suite passes through — tests/test_integration_sf.py
        test_copy) deletes the staged source files after a successful
        load.  Deleting the sources under a lazy temp view would
        corrupt later reads, so PURGE materializes the load first
        (``localCheckpoint`` — blocks stored, file lineage dropped),
        the Spark analog of Snowflake's eager ``COPY INTO table``."""
        opts = parse_copy_options(
            copy_options,
            *self._resolve_format(file_type, format_options, file_format_name),
        )
        return self._copy(table_name, path, delim, file_format, opts, schema)

    def _copy(
        self, table_name, path, delim, file_format, opts: CopyOptions, schema
    ) -> DataFrame:
        """COPY under parsed options (see ``copy``)."""
        if not self._is_connected():
            raise DBError("No connection object is present.")
        import os

        purge_keys: list[str] = []
        if opts.purge:
            # fail fast: PURGE needs the stage transport AND every
            # file the load reads must live under the stage root —
            # discovering either AFTER a successful load would leave
            # the caller with a loaded table, an error, and (worse,
            # silently) staged data it believes was purged.  The keys
            # are the files the load reads, listed as Spark lists them
            st = self._require_stage()
            for f in _leaf_files(self.spark, path):
                local = f.removeprefix("file:")
                key = os.path.relpath(local, st.root)
                if key.startswith(".."):
                    raise DBError(
                        f"PURGE = TRUE but load path {local!r} is outside "
                        f"the stage root {st.root!r}; the stage "
                        "transport cannot purge it"
                    )
                purge_keys.append(key)
        result = copy_files(
            self.spark,
            path,
            table_name,
            delim=delim,
            file_format=file_format,
            copy_options=opts,
            schema=schema,
            materialize=opts.purge,
        )
        if opts.purge:
            # keys were listed and root-validated BEFORE the copy
            # (see above) — a failure here would otherwise strand
            # staged data after a successful load
            st = self._require_stage()
            for key in purge_keys:
                if os.path.exists(st._dest(key)):
                    st.delete(key)
        return result

    def load_and_copy(
        self,
        local_file: str,
        stage_folder: str,
        table_name: str,
        delim: str | None = "|",
        copy_options: list[str] | None = None,
        delete_stage_after: bool = False,
        splits: int = 1,
        compress: bool = True,
        schema=None,
    ) -> DataFrame:
        """Local file → stage → COPY (reference redshift.py:235
        load_and_copy: split, compress, upload, then load — same
        parameter semantics: ``splits`` breaks the file for parallel
        load, ``compress`` gzips each part, ``delete_stage_after``
        (reference ``delete_s3_after``) removes the staged artifacts
        once loaded). The stage hop is real file transport (so the
        staged artifact exists for audit/replay), then Spark reads it
        directly — splits simply become input partitions.

        ``schema`` (DDL string or StructType) plays the role of the
        reference flow's preceding ``CREATE TABLE (id INTEGER, ...)``:
        the integration suite always creates the typed target before
        COPY (tests/test_integration.py:102-104) and the load adopts
        its column names and types — here the reader does."""
        import os
        from pathlib import Path

        from locopy_spark.utility import split_file

        if not self._is_connected():
            # before the split, gzip and PUT leave files behind
            raise DBError("No connection object is present.")
        opts = parse_copy_options(copy_options)
        # reference redshift.py:309-324: an IGNOREHEADER option is
        # honored by stripping the header rows DURING the split (each
        # part must not lose its own first line to a per-file skip),
        # after which the option is cleared; a directory input uploads
        # every file under it unsplit (parquet-folder loads)
        lp = Path(local_file)
        if lp.is_dir():
            # Spark listing rules: _SUCCESS/.crc markers are skipped;
            # each file keeps its directory-relative subpath so
            # same-named part files in different partition dirs
            # (year=1/part-0000, year=2/part-0000) cannot collide
            parts = [
                x
                for x in sorted(lp.glob("**/*"))
                if x.is_file() and not x.name.startswith(("_", "."))
            ]
            did_split = False
        else:
            parts = split_file(
                local_file, local_file, splits=splits, ignore_header=opts.ignore_header
            )  # splits == 1 → [local_file] untouched
            did_split = splits > 1
        if did_split:
            opts.ignore_header = 0
        keys = [
            os.path.relpath(p, lp) if isinstance(p, Path) else os.path.basename(p)
            for p in parts
        ]
        # one PUT for every part, so the parts share one compression pool
        staged = self._put(
            [(str(p), os.path.join(stage_folder, k)) for p, k in zip(parts, keys)],
            auto_compress=compress,
        )
        if delete_stage_after:
            # same semantics as Snowflake PURGE: materialize the load,
            # then drop the staged artifacts (reference redshift.py:235
            # delete_s3_after deletes only after a successful COPY)
            opts.purge = True
        try:
            return self._copy(table_name, staged, delim, "csv", opts, schema)
        finally:
            if did_split:
                for p in parts:
                    if os.path.exists(p):
                        os.remove(p)

    # -- bulk export (reference redshift.py:349,443; snowflake.py:339) ----
    def unload(
        self,
        query: str,
        path: str,
        unload_options: list[str] | None = None,
        file_type: str | None = None,
        format_options: list[str] | None = None,
        file_format_name: str = "",
        header: bool | None = None,
    ) -> DataFrame:
        """UNLOAD ``query`` results to files under ``path`` (reference
        redshift.py:443: same (query, path, options) argument order;
        the snowflake.py:339 FILE_FORMAT surface is also accepted;
        ``header``, when given, overrides an UNLOAD ``HEADER``)."""
        if not self._is_connected():
            raise DBError("No connection object is present.")
        opts = parse_unload_options(
            unload_options,
            *self._resolve_format(file_type, format_options, file_format_name),
        )
        if header is not None:
            opts.header = header
        return _unload(self.spark, query, path, **opts.kwargs())

    def unload_and_copy(
        self,
        query: str,
        path: str,
        unload_options: list[str] | None = None,
    ) -> pd.DataFrame:
        """UNLOAD then fetch back as one local pandas frame (reference
        redshift.py:349 unload_and_copy's export_path+return-frame
        behavior)."""
        if not self._is_connected():
            raise DBError("No connection object is present.")
        opts = parse_unload_options(unload_options)
        if opts.header is None:
            opts.header = True
        return unload_and_fetch(self.spark, query, path, **opts.kwargs())

    # -- dataframe insert (reference redshift.py:532; snowflake.py:412) ---
    def insert_dataframe_to_table(
        self,
        dataframe,
        table_name: str,
        columns: list[str] | None = None,
        create: bool = True,
        metadata: dict[str, str] | None = None,
    ) -> DataFrame:
        """Insert a pandas/polars frame (reference argument order)."""
        if not self._is_connected():
            raise DBError("No connection object is present.")
        return insert_dataframe_to_table(
            self.spark,
            dataframe,
            table_name,
            columns=columns,
            create=create,
            metadata=metadata,
        )


# reference class names — port `from locopy import Redshift` unchanged
Redshift = Warehouse
Snowflake = Warehouse
