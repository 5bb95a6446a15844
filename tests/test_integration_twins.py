"""End-to-end integration twins: each test here is the Spark-native
twin of a named test in the reference's LIVE integration suites
(capitalone/locopy tests/test_integration.py and
tests/test_integration_sf.py), which run COPY → query → UNLOAD
round-trips against a real Redshift/Snowflake cluster plus a real S3
bucket.  Here the warehouse is the SparkSession and the bucket is a
local stage directory, so the same flows run hermetically — same call
sequence, same observable results.

Mapping (reference file:test → twin below):
  test_integration.py:test_redshift_execute_single_rows   → test_execute_single_rows
  test_integration.py:test_redshift_execute_multiple_rows → test_execute_multiple_rows
  test_integration.py:test_s3_upload_download_file        → test_stage_upload_download_file
  test_integration.py:test_copy                           → test_copy_roundtrip
  test_integration.py:test_copy_split_ignore              → test_copy_split_ignore
  test_integration.py:test_unload                         → test_unload_dates
  test_integration.py:test_unload_raw_unload_path         → test_unload_raw_unload_path
  test_integration.py:test_insert_dataframe_to_table      → test_insert_dataframe_roundtrip
  test_integration_sf.py:test_snowflake_execute_*_rows    → (same execute twins)
  test_integration_sf.py:test_upload_download_internal    → test_upload_download_internal
  test_integration_sf.py:test_copy (PURGE = TRUE)         → test_copy_purge[plain]
  test_integration_sf.py:test_copy_json                   → test_copy_json_nested
  test_integration_sf.py:test_copy_file_format_name       → test_copy_file_format_name
  test_integration_sf.py:test_to_dataframe (size/non-select) → test_to_dataframe_sizes
  test_integration_sf.py:test_insert_dataframe_to_table   → test_insert_dataframe_mixed_dtypes

The reference's test data is not copied; these files carry the same
SHAPE (pipe-delimited unicode lines, nested json, int/str/date
frames) with original values.
"""

import filecmp
import glob
import gzip
import json
import os
from decimal import Decimal

import numpy as np
import pandas as pd
import pytest

from locopy_spark.errors import DBError
from locopy_spark.warehouse import Redshift, Snowflake

# pipe-delimited rows with diacritics — the same load-fidelity surface
# the reference's mock_file.txt exercises (unicode through stage + COPY)
ROWS = [
    (1, "první řádek zde"),
    (2, "zweite Zeïle hier"),
    (3, "third line here"),
    (4, "quatrième lîgne"),
]


def _write_delim(path, header=False):
    with open(path, "w", encoding="utf-8") as f:
        if header:
            f.write("id|variable\n")
        for i, v in ROWS:
            f.write(f"{i}|{v}\n")
    return str(path)


@pytest.fixture()
def wh(spark, tmp_path):
    w = Redshift(spark=spark, stage_root=str(tmp_path / "stage"))
    w.connect()
    yield w
    w.disconnect()


@pytest.fixture()
def managed_tables(spark):
    """Reference-style ``drop table if exists`` hygiene for twins that
    create managed tables, plus removal of orphaned warehouse
    locations a crashed earlier session may have left (Spark's
    in-memory catalog forgets the table but not its directory, and
    saveAsTable then fails with LOCATION_ALREADY_EXISTS)."""
    import shutil

    names = []
    wh_dir = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh_dir = wh_dir.removeprefix("file:")

    def track(name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(wh_dir, name.lower()), ignore_errors=True)
        names.append(name)
        return name

    yield track
    for n in names:
        spark.sql(f"DROP TABLE IF EXISTS {n}")


# -- execute / to_dataframe (test_integration.py:62,73; _sf.py:62,74) --


def test_execute_single_rows(wh):
    wh.execute("SELECT 1 AS field_1, 2 AS field_2")
    df = wh.to_dataframe()
    assert np.allclose(df["field_1"], [1])
    assert np.allclose(df["field_2"], [2])


def test_execute_multiple_rows(wh):
    wh.execute(
        "SELECT 1 AS field_1, 1 AS field_2 "
        "UNION SELECT 2 AS field_1, 2 AS field_2"
    )
    df = wh.to_dataframe().sort_values("field_1").reset_index(drop=True)
    assert np.allclose(df["field_1"], [1, 2])
    assert np.allclose(df["field_2"], [1, 2])


# -- stage transport (test_integration.py:87) --------------------------


def test_stage_upload_download_file(wh, tmp_path):
    local = _write_delim(tmp_path / "myfile.txt")
    wh.upload_to_internal(local, auto_compress=False)
    dl_dir = tmp_path / "dl"
    dl_dir.mkdir()
    got = wh.download_from_internal("myfile.txt", str(dl_dir) + os.sep)
    assert len(got) == 1
    assert filecmp.cmp(local, got[0])


# -- COPY round-trips (test_integration.py:100,130) --------------------


def test_copy_roundtrip(wh, tmp_path):
    local = _write_delim(tmp_path / "mock.txt")
    # reference: CREATE TEMPORARY TABLE (id INTEGER, variable
    # VARCHAR(20)) then COPY — the DDL schema plays that role
    wh.load_and_copy(
        local,
        "loading",
        "integration_testing",
        delim="|",
        delete_stage_after=True,
        compress=False,
        schema="id INT, variable STRING",
    )
    wh.execute("SELECT * FROM integration_testing ORDER BY id")
    got = [tuple(r) for r in wh.to_dataframe().itertuples(index=False)]
    assert got == ROWS
    # delete_s3_after parity: the staged artifact is gone
    assert wh._stage.list("loading/*") == []


def test_copy_split_ignore(wh, tmp_path):
    local = _write_delim(tmp_path / "mock_header.txt", header=True)
    wh.load_and_copy(
        local,
        "loading",
        "integration_testing",
        delim="|",
        delete_stage_after=True,
        compress=False,
        splits=4,
        copy_options=["IGNOREHEADER as 1"],
        schema="id INT, variable STRING",
    )
    wh.execute("SELECT * FROM integration_testing ORDER BY id")
    got = [tuple(r) for r in wh.to_dataframe().itertuples(index=False)]
    assert got == ROWS
    # reference asserts the split partials are cleaned up locally
    assert glob.glob(str(tmp_path / "mock_header.txt.*")) == []


# -- UNLOAD round-trips (test_integration.py:163,189) ------------------

_DATES_SQL = (
    "CREATE OR REPLACE TEMPORARY VIEW integration_dates AS "
    "SELECT explode(sequence(DATE'2018-01-01', DATE'2018-01-05')) AS date"
)
_EXPECTED_DATES = [f"2018-01-0{d}" for d in range(1, 6)]


def test_unload_dates(wh, tmp_path):
    wh.execute(_DATES_SQL)
    out = wh.unload_and_copy(
        "SELECT * FROM integration_dates", str(tmp_path / "unload")
    )
    got = sorted(pd.to_datetime(out["date"]).dt.strftime("%Y-%m-%d"))
    assert got == _EXPECTED_DATES


def test_unload_raw_unload_path(wh, tmp_path):
    raw = tmp_path / "unload_path"
    raw.mkdir()
    wh.execute(_DATES_SQL)
    out = wh.unload_and_copy("SELECT * FROM integration_dates", str(raw))
    got = sorted(pd.to_datetime(out["date"]).dt.strftime("%Y-%m-%d"))
    assert got == _EXPECTED_DATES
    # raw_unload_path parity: the exported files stay under the dir
    assert glob.glob(str(raw / "**" / "*.csv*"), recursive=True)


# -- dataframe insert (test_integration.py:224; _sf.py:270) ------------


def test_insert_dataframe_roundtrip(wh, managed_tables):
    df = pd.DataFrame(
        {
            "a": [1, 2],
            "b": ["x", "y"],
            "c": pd.to_datetime(["2011-01-01", "2001-04-02"]).date,
        }
    )
    wh.insert_dataframe_to_table(df, managed_tables("df_test"), create=True)
    wh.execute("SELECT a, b, c FROM df_test ORDER BY a ASC")
    got = wh.to_dataframe()
    assert list(got["a"]) == [1, 2]
    assert list(got["b"]) == ["x", "y"]
    assert [d.strftime("%Y-%m-%d") for d in got["c"]] == [
        "2011-01-01",
        "2001-04-02",
    ]


def test_insert_dataframe_mixed_dtypes(wh, managed_tables):
    # reference TEST_DF_3: int, datetime, numeric-string, Decimal,
    # category — the dtype surface find_column_type must round-trip
    df = pd.DataFrame(
        {
            "a": [1, 2],
            "b": [pd.to_datetime("2013-01-01"), pd.to_datetime("2019-01-01")],
            "c": ["1.2", "3.5"],
            "d": [Decimal(2), Decimal(3)],
            "e": pd.Series([0, 1], dtype="category"),
        }
    )
    wh.insert_dataframe_to_table(df, managed_tables("df_test_3"), create=True)
    wh.execute("SELECT a, b, c, d, e FROM df_test_3 ORDER BY a ASC")
    got = wh.to_dataframe()
    assert list(got["a"]) == [1, 2]
    assert [t.strftime("%Y-%m-%d") for t in got["b"]] == [
        "2013-01-01",
        "2019-01-01",
    ]
    assert [float(x) for x in got["c"]] == [1.2, 3.5]
    assert [float(x) for x in got["d"]] == [2.0, 3.0]
    # TEST_DF_2-style 7-row frame with its own column names
    df2 = pd.DataFrame({"col1": range(1, 8), "col2": list("abcdefg")})
    wh.insert_dataframe_to_table(df2, managed_tables("df_test_2"), create=True)
    wh.execute("SELECT col1, col2 FROM df_test_2 ORDER BY col1 ASC")
    got2 = wh.to_dataframe()
    assert list(got2["col1"]) == list(range(1, 8))
    assert list(got2["col2"]) == list("abcdefg")


# -- Snowflake internal stage (test_integration_sf.py:89) --------------


def test_upload_download_internal(spark, tmp_path):
    sf = Snowflake(spark=spark, stage_root=str(tmp_path / "internal"))
    sf.connect()
    local = _write_delim(tmp_path / "mock_dl.txt")
    sf.upload_to_internal(local, "staged/", auto_compress=False)
    assert sf._stage.list("staged/*") == [os.path.join("staged", "mock_dl.txt")]
    dl = tmp_path / "got"
    dl.mkdir()
    got = sf.download_from_internal("staged/mock_dl.txt", str(dl) + os.sep)
    assert filecmp.cmp(local, got[0])
    sf._stage.delete("staged/mock_dl.txt")
    assert sf._stage.list("staged/*") == []
    sf.disconnect()


# -- Snowflake COPY with PURGE (test_integration_sf.py:113) ------------


@pytest.mark.parametrize(
    "bad_line", [None, "not_an_id|pátý řádek"], ids=["plain", "maxerror"]
)
def test_copy_purge(spark, tmp_path, bad_line):
    """PURGE, alone and with MAXERROR: one materialized load serves
    both, so the table reads after its staged file is gone and the
    bad line stays in ``<table>__load_errors``."""
    sf = Snowflake(spark=spark, stage_root=str(tmp_path / "internal"))
    sf.connect()
    local = _write_delim(tmp_path / "mock.txt")
    copy_options = ["PURGE = TRUE"]
    if bad_line:
        with open(local, "a", encoding="utf-8") as f:
            f.write(bad_line + "\n")
        copy_options.append("MAXERROR 1")
    staged = sf.upload_to_internal(local, "staged/")  # auto_compress → .gz
    assert staged[0].endswith(".gz")
    sf.copy(
        "purge_testing",
        staged[0],
        delim="|",
        copy_options=copy_options,
        schema="id INT, variable STRING",
    )
    sf.execute("SELECT * FROM purge_testing ORDER BY id")
    got = [tuple(r) for r in sf.to_dataframe().itertuples(index=False)]
    assert [(g[0], g[1]) for g in got] == ROWS
    # PURGE semantics: the staged file is gone, the table still reads
    assert sf._stage.list("staged/*") == []
    sf.execute("SELECT count(*) AS n FROM purge_testing")
    assert int(sf.to_dataframe()["n"][0]) == len(ROWS)
    if bad_line:
        sf.execute("SELECT count(id) AS n FROM purge_testing")
        assert int(sf.to_dataframe()["n"][0]) == len(ROWS)
        errs = spark.table("purge_testing__load_errors").collect()
        assert [e.raw_line for e in errs] == [bad_line]
    sf.disconnect()


# -- Snowflake JSON copy (test_integration_sf.py:142) ------------------


def test_copy_json_nested(spark, tmp_path):
    sf = Snowflake(spark=spark, stage_root=str(tmp_path / "internal"))
    sf.connect()
    recs = [
        {"location": {"city": "Brno", "state": "JM"}, "price": "11200"},
        {"location": {"city": "Aarhus", "state": "MJ"}, "price": "98100"},
        {"location": {"city": "Ostrava", "state": "MS"}, "price": "54300"},
    ]
    local = tmp_path / "mock.json"
    with open(local, "w", encoding="utf-8") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")
    staged = sf.upload_to_internal(str(local), "staged/")
    sf.copy(
        "json_testing",
        staged[0],
        file_type="json",
        copy_options=["PURGE = TRUE"],
    )
    # the reference selects variable:location:city / variable:price;
    # Spark's json reader types the nested struct directly
    sf.execute(
        "SELECT location.city AS city, price FROM json_testing ORDER BY city"
    )
    got = [tuple(r) for r in sf.to_dataframe().itertuples(index=False)]
    assert got == [("Aarhus", "98100"), ("Brno", "11200"), ("Ostrava", "54300")]
    assert sf._stage.list("staged/*") == []
    sf.disconnect()


# -- named FILE FORMAT (test_integration_sf.py:173) --------------------


def test_copy_file_format_name(spark, tmp_path):
    sf = Snowflake(spark=spark, stage_root=str(tmp_path / "internal"))
    sf.connect()
    src = pd.DataFrame(
        {
            "a": [1, 2],
            "b": ["x", "y"],
            "c": pd.to_datetime(["2011-01-01", "2001-04-02"]),
        }
    )
    local = tmp_path / "mock_df.parquet"
    # pandas defaults to nanosecond timestamps, which Spark's parquet
    # reader rejects — microseconds is what a warehouse would stage
    src.to_parquet(local, coerce_timestamps="us", allow_truncated_timestamps=True)
    staged = sf.upload_to_internal(str(local), "staged/")
    sf.create_file_format("my_parquet_format", file_type="parquet")
    sf.copy(
        "format_testing", staged[0], file_format_name="my_parquet_format"
    )
    sf.execute("SELECT a, b, c FROM format_testing ORDER BY a ASC")
    got = sf.to_dataframe()
    assert list(got["a"]) == [1, 2]
    assert list(got["b"]) == ["x", "y"]
    assert [t.strftime("%Y-%m-%d") for t in got["c"]] == [
        "2011-01-01",
        "2001-04-02",
    ]
    # unknown name raises (reference: Snowflake errors on a missing
    # FILE FORMAT object)
    with pytest.raises(DBError):
        sf.copy("x", staged[0], file_format_name="no_such_format")
    sf.disconnect()


# -- to_dataframe size / non-select (test_integration_sf.py:209) -------


def test_to_dataframe_sizes(wh):
    wh.execute(
        "SELECT * FROM VALUES ('Aarhus','98100'),('Brno','11200'),"
        "('Ostrava','54300') AS t(city, price) ORDER BY city"
    )
    full = wh.to_dataframe()
    assert list(full["city"]) == ["Aarhus", "Brno", "Ostrava"]
    wh.execute(
        "SELECT * FROM VALUES ('Aarhus','98100'),('Brno','11200'),"
        "('Ostrava','54300') AS t(city, price) ORDER BY city"
    )
    two = wh.to_dataframe(size=2)
    assert list(two["city"]) == ["Aarhus", "Brno"]
    # non-select: reference asserts the warehouse's status row; Spark
    # DDL yields an empty result and to_dataframe returns None for
    # empty results (reference database.py:207 parity)
    wh.execute("CREATE OR REPLACE TEMPORARY VIEW t2d AS SELECT 1 AS x")
    wh.execute("DROP VIEW t2d")
    assert wh.to_dataframe() is None


# -- hardening beyond the reference suite ------------------------------


def test_load_and_copy_directory_partitioned(wh, tmp_path, spark):
    """Directory input (reference redshift.py:312 glob-uploads a dir):
    same-named part files in different partition dirs must not
    collide in the stage, and marker files (_SUCCESS) must be
    skipped — the Spark-written-dataset load case."""
    src = tmp_path / "ds"
    for year, vals in (("1", [1, 2]), ("2", [3, 4])):
        d = src / f"year={year}"
        d.mkdir(parents=True)
        # identical basenames across partition dirs, like Spark writes
        with open(d / "part-00000.csv", "w") as f:
            for v in vals:
                f.write(f"{v}|{year}\n")
    (src / "_SUCCESS").touch()
    wh.load_and_copy(
        str(src),
        "dirload",
        "dir_testing",
        delim="|",
        compress=False,
        schema="v INT, y STRING",
    )
    wh.execute("SELECT * FROM dir_testing ORDER BY v")
    got = [tuple(r) for r in wh.to_dataframe().itertuples(index=False)]
    assert got == [(1, "1"), (2, "1"), (3, "2"), (4, "2")]
    # both part files staged under their partition subdirs
    assert len(wh._stage.list("dirload/year=*/part-00000.csv")) == 2


def test_copy_purge_glob_path(wh, tmp_path):
    """PURGE must expand globs the same way the reader does."""
    for i in range(2):
        local = tmp_path / f"g{i}.txt"
        _write_delim(local)
        wh.upload_to_internal(str(local), "gl/", auto_compress=False)
    wh.copy(
        "glob_testing",
        os.path.join(wh._stage.root, "gl", "g*.txt"),
        delim="|",
        copy_options=["PURGE = TRUE"],
        schema="id INT, variable STRING",
    )
    wh.execute("SELECT count(*) AS n FROM glob_testing")
    assert int(wh.to_dataframe()["n"][0]) == 2 * len(ROWS)
    assert wh._stage.list("gl/*") == []


def test_copy_purge_directory_path(wh, tmp_path):
    """PURGE of a staged directory deletes the files the load read,
    partition subdirs included, and leaves the marker file the reader
    skipped."""
    for i in range(2):
        local = tmp_path / f"d{i}.txt"
        _write_delim(local)
        wh.upload_to_internal(str(local), f"dirp/year={i}/", auto_compress=False)
    marker = os.path.join(wh._stage.root, "dirp", "_SUCCESS")
    open(marker, "w").close()
    wh.copy(
        "dir_purge_testing",
        os.path.join(wh._stage.root, "dirp"),
        delim="|",
        copy_options=["PURGE = TRUE"],
        schema="id INT, variable STRING",
    )
    wh.execute("SELECT count(*) AS n FROM dir_purge_testing")
    assert int(wh.to_dataframe()["n"][0]) == 2 * len(ROWS)
    assert wh._stage.list("dirp/year=*/*") == []
    assert wh._stage.list("dirp/*") == ["dirp/_SUCCESS", "dirp/year=0", "dirp/year=1"]


def test_copy_purge_outside_stage_root_fails_fast(wh, tmp_path, spark):
    """PURGE = TRUE with a load path OUTSIDE the stage root must fail
    BEFORE loading (Snowflake PURGE semantics promise the staged data
    is gone after the call — silently retaining it is worse than
    refusing)."""
    local = _write_delim(tmp_path / "outside.txt")
    with pytest.raises(DBError, match="outside the stage root"):
        wh.copy(
            "t_outside",
            str(local),
            delim="|",
            copy_options=["PURGE = TRUE"],
            schema="id INT, variable STRING",
        )
    assert "t_outside" not in [t.name for t in spark.catalog.listTables()]
    # the un-purgeable source must still exist
    assert os.path.exists(local)


def test_copy_purge_malformed_and_duplicate_rejected(wh, tmp_path):
    """PURGE values other than TRUE/FALSE, bare PURGE, and duplicate
    PURGE options are explicit errors, not last-occurrence-wins."""
    local = _write_delim(tmp_path / "m.txt")
    wh.upload_to_internal(str(local), "mz/", auto_compress=False)
    staged = os.path.join(wh._stage.root, "mz", "m.txt")
    for bad in (["PURGE"], ["PURGE = MAYBE"], ["PURGE = TRUE PURGE"]):
        with pytest.raises(DBError, match="Malformed PURGE"):
            wh.copy(
                "t_badpurge",
                staged,
                delim="|",
                copy_options=bad,
                schema="id INT, variable STRING",
            )
    with pytest.raises(DBError, match="Duplicate PURGE"):
        wh.copy(
            "t_badpurge",
            staged,
            delim="|",
            copy_options=["PURGE = FALSE", "PURGE = TRUE"],
            schema="id INT, variable STRING",
        )
    # PURGE = FALSE is accepted and means "keep the staged file"
    wh.copy(
        "t_purge_false",
        staged,
        delim="|",
        copy_options=["PURGE = FALSE"],
        schema="id INT, variable STRING",
    )
    assert wh._stage.list("mz/*") == [os.path.join("mz", "m.txt")]


def test_copy_purge_without_stage_fails_fast(spark, tmp_path):
    """A PURGE copy on a stage-less Warehouse must fail BEFORE
    loading, not succeed-then-raise."""
    local = _write_delim(tmp_path / "p.txt")
    w = Redshift(spark=spark)
    w.connect()
    with pytest.raises(DBError, match="[Ss]tage"):
        w.copy("t_nostage", local, copy_options=["PURGE = TRUE"])
    # the load must not have happened
    assert "t_nostage" not in [t.name for t in spark.catalog.listTables()]
    w.disconnect()


# -- polars round-trip twins (reference snowflake.py:514 df_type="polars",
# snowflake.py:412 polars insert; twins of test_integration_sf.py's
# to_dataframe/insert flows run through the polars arm). polars is an
# OPTIONAL dependency (absent in this container) — these auto-upgrade
# to full round-trips the moment polars ships (the protobuf try-import
# convention), while the _absent twin asserts the documented loud
# failure until then.


def test_polars_execute_to_dataframe_roundtrip(wh, managed_tables):
    pl = pytest.importorskip("polars")
    from locopy_spark.sources.dataframe_io import insert_dataframe_to_table

    wh.execute("SELECT 6 AS x, 'fox' AS animal UNION ALL SELECT 5, 'dog'")
    pdf = wh.to_dataframe(df_type="polars")
    assert isinstance(pdf, pl.DataFrame)
    assert sorted(pdf["x"].to_list()) == [5, 6]
    # insert the polars frame back and read it out again via the
    # polars arm — both directions cross Arrow once
    t = managed_tables("t_polars_exec_rt")
    insert_dataframe_to_table(wh.spark, pdf, t)
    wh.execute(f"SELECT * FROM {t} ORDER BY x")
    back = wh.to_dataframe(df_type="polars")
    assert back["x"].to_list() == [5, 6]
    assert back["animal"].to_list() == ["dog", "fox"]


def test_polars_insert_dataframe_mixed_dtypes(wh, managed_tables):
    pl = pytest.importorskip("polars")
    import datetime

    from locopy_spark.sources.dataframe_io import insert_dataframe_to_table

    df = pl.DataFrame(
        {
            "id": [1, 2, 3],
            "name": ["alpha", "beta", "gamma"],
            "score": [1.5, 2.25, -3.75],
            "day": [datetime.date(2020, 1, i) for i in (1, 2, 3)],
            "flag": [True, False, True],
        }
    )
    t = managed_tables("t_polars_mixed")
    insert_dataframe_to_table(wh.spark, df, t)
    wh.execute(f"SELECT * FROM {t} ORDER BY id")
    out = wh.to_dataframe()
    assert list(out["id"]) == [1, 2, 3]
    assert list(out["name"]) == ["alpha", "beta", "gamma"]
    assert list(out["score"]) == [1.5, 2.25, -3.75]
    assert [d.isoformat() for d in out["day"]] == [
        "2020-01-01",
        "2020-01-02",
        "2020-01-03",
    ]
    assert list(out["flag"]) == [True, False, True]


def test_to_dataframe_polars_absent_fails_loud(wh):
    """Until polars ships in the env, the polars arm must fail loud
    with a DBError naming the missing package (not an AttributeError
    three frames deep). Skips itself once polars appears — the
    round-trip twins above take over."""
    try:
        import polars  # noqa: F401

        pytest.skip("polars present — round-trip twins cover this")
    except ImportError:
        pass
    wh.execute("SELECT 1 AS x")
    with pytest.raises(DBError, match="polars is not installed"):
        wh.to_dataframe(df_type="polars")
