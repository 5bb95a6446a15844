import pytest

from locopy_spark.warehouse import Redshift, Snowflake, Warehouse


def test_facade_roundtrip(spark, tmp_path):
    import pandas as pd

    wh = Redshift(spark=spark, stage_root=str(tmp_path / "stage"))
    wh.connect()
    # managed-table leftovers from prior runs break saveAsTable: drop
    # the catalog entry AND the warehouse directory
    import shutil

    for t in ("wh_src", "wh_back", "wh_lac"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    # insert → unload → stage hop → copy back
    pdf = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    wh.insert_dataframe_to_table(pdf, "wh_src")
    spark.sql("SELECT * FROM wh_src").createOrReplaceTempView("wh_src_v")
    out_dir = str(tmp_path / "out")
    wh.unload(
        "SELECT k, v FROM wh_src_v ORDER BY k",
        out_dir,
        unload_options=["HEADER", "PARALLEL OFF", "DELIMITER '|'"],
    )
    import glob

    files = glob.glob(out_dir + "/*.csv")
    assert len(files) == 1  # PARALLEL OFF → one file
    local = files[0]
    staged = wh.upload_to_internal(local, "in")
    loaded = wh.copy(
        "wh_back", staged, delim="|", copy_options=["IGNOREHEADER 1"]
    )
    assert {(r.k, r.v) for r in loaded.collect()} == {(1, "a"), (2, "b"), (3, "c")}
    # unload_and_copy returns a local frame
    back = wh.unload_and_copy(
        "SELECT k FROM wh_src_v ORDER BY k", str(tmp_path / "out2")
    )
    assert list(back["k"]) == [1, 2, 3]
    # load_and_copy: local → stage → table
    raw = tmp_path / "raw.csv"
    raw.write_text("k|v\n9|z\n")
    t = wh.load_and_copy(
        str(raw), "lac", "wh_lac", delim="|", copy_options=["IGNOREHEADER 1"]
    )
    assert [(r.k, r.v) for r in t.collect()] == [(9, "z")]


def test_facade_errors(spark):
    from locopy_spark.errors import DBError

    wh = Snowflake(spark=spark)
    wh.connect()
    with pytest.raises(DBError, match="stage_root"):
        wh.upload_to_internal("/tmp/nope.csv")
    with pytest.raises(DBError, match="Unsupported UNLOAD"):
        wh.unload("SELECT 1", "/tmp/x", unload_options=["ENCRYPTED"])
    closed = Warehouse()
    with pytest.raises(DBError):
        closed.copy("t", "/tmp/x")
    with pytest.raises(DBError):
        closed.unload("SELECT 1", "/tmp/x")


def test_load_and_copy_unconnected_stages_nothing(tmp_path):
    """On an unconnected Warehouse, load_and_copy raises before it
    splits, gzips or stages anything."""
    from locopy_spark.errors import DBError

    raw = tmp_path / "raw.csv"
    raw.write_text("".join(f"{i}|v{i}\n" for i in range(10)))
    wh = Warehouse(stage_root=str(tmp_path / "stage"))
    with pytest.raises(DBError, match="No connection"):
        wh.load_and_copy(str(raw), "in", "t_unconnected", splits=2)
    files = [p.relative_to(tmp_path) for p in tmp_path.rglob("*") if p.is_file()]
    assert [str(p) for p in files] == ["raw.csv"]


def test_unload_option_delimiter_forms():
    from locopy_spark.errors import DBError
    from locopy_spark.sources.options import parse_unload_options

    # all three Redshift spellings parse to the same delimiter
    assert parse_unload_options(["DELIMITER '|'"]).kwargs() == {"delim": "|"}
    assert parse_unload_options(["DELIMITER |"]).kwargs() == {"delim": "|"}
    assert parse_unload_options(["DELIMITER AS ','"]).kwargs() == {"delim": ","}
    # malformed/unknown raise DBError, never IndexError
    import pytest

    with pytest.raises(DBError):
        parse_unload_options(["DELIMITER "])
    with pytest.raises(DBError):
        parse_unload_options(["DELIMITERX '|'"])


def test_unload_option_parallel_forms():
    """Redshift PARALLEL [ON|TRUE|OFF|FALSE]: ON is the natural
    partitioning (no writer kwarg), OFF one file; anything else is a
    DBError naming the option."""
    from locopy_spark.errors import DBError
    from locopy_spark.sources.options import parse_unload_options

    for on in ("PARALLEL ON", "PARALLEL TRUE", "parallel on", "PARALLEL"):
        assert parse_unload_options([on]).kwargs() == {}
    for off in ("PARALLEL OFF", "PARALLEL FALSE", "parallel  false"):
        assert parse_unload_options([off]).kwargs() == {"splits": 1}
    for bad in ("PARALLEL MAYBE", "PARALLEL ON OFF"):
        with pytest.raises(DBError, match=bad):
            parse_unload_options([bad])
    with pytest.raises(DBError, match="Unsupported UNLOAD option"):
        parse_unload_options(["PARALLELISM 4"])


def test_put_skips_before_compressing(spark, tmp_path, monkeypatch):
    """OVERWRITE=FALSE with auto_compress: an already-staged file is
    neither recompressed nor touched, and compressing leaves no temp
    file in the stage."""
    import os

    from locopy_spark import utility

    wh = Snowflake(spark=spark, stage_root=str(tmp_path / "stage"))
    wh.connect()
    src = tmp_path / "a.csv"
    src.write_text("1|x\n")
    (staged,) = wh.upload_to_internal(str(src), "in")
    assert os.listdir(tmp_path / "stage" / "in") == ["a.csv.gz"]
    os.utime(staged, (1_000_000_000, 1_000_000_000))
    src.write_text("2|y\n")

    def fail(*args):
        raise AssertionError("a skipped file was compressed")

    monkeypatch.setattr(utility, "compress_file", fail)
    assert wh.upload_to_internal(str(src), "in", overwrite=False) == [staged]
    assert os.stat(staged).st_mtime == 1_000_000_000
    assert os.listdir(tmp_path / "stage" / "in") == ["a.csv.gz"]
    assert sorted(os.listdir(tmp_path)) == ["a.csv", "stage"]


def test_unload_option_maxfilesize_forms():
    from locopy_spark.errors import DBError
    from locopy_spark.sources.options import parse_unload_options

    assert parse_unload_options(["MAXFILESIZE 100 MB"]).kwargs() == {
        "max_file_mb": 100.0
    }
    assert parse_unload_options(["MAXFILESIZE AS 6.2 GB"]).kwargs() == {
        "max_file_mb": 6.2 * 1024
    }
    assert parse_unload_options(["MAXFILESIZE 50"]).kwargs() == {
        "max_file_mb": 50.0
    }
    with pytest.raises(DBError):
        parse_unload_options(["MAXFILESIZE big"])


def test_unload_maxfilesize_bounds_files(spark, sf_dir, tmp_path):
    """MAXFILESIZE splits output into several size-bounded files whose
    union round-trips losslessly."""
    import glob

    from locopy_spark.sources.tables import load_table

    wh = Redshift(spark=spark)
    wh.connect()
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("mfs_nation")
    out_dir = str(tmp_path / "mfs")
    # nation at sf0.001 is ~1-2 KB serialized; a tiny cap forces splits
    wh.unload(
        "SELECT n_nationkey, n_name FROM mfs_nation",
        out_dir,
        unload_options=["PARALLEL OFF", "MAXFILESIZE 0.0001 MB"],
    )
    files = glob.glob(out_dir + "/*.csv")
    assert len(files) > 1  # the cap split the single partition
    back = spark.read.options(sep="|").csv(out_dir)
    assert back.count() == 25


def test_snowflake_file_format_surface(spark, tmp_path):
    """file_type/format_options and named file formats drive copy and
    unload exactly like FILE_FORMAT in the reference."""
    wh = Snowflake(spark=spark)
    wh.connect()
    raw = tmp_path / "ff.csv"
    raw.write_text("k,v\n1,a\n2,b\n")
    loaded = wh.copy(
        "wh_ff",
        str(raw),
        file_type="csv",
        format_options=["FIELD_DELIMITER=','", "SKIP_HEADER=1"],
    )
    assert {(r.k, r.v) for r in loaded.collect()} == {(1, "a"), (2, "b")}
    # named format overrides everything (reference semantics)
    wh.create_file_format(
        "myfmt", file_type="csv", format_options=["FIELD_DELIMITER=';'"]
    )
    raw2 = tmp_path / "ff2.csv"
    raw2.write_text("3;c\n")
    loaded2 = wh.copy("wh_ff2", str(raw2), file_format_name="myfmt")
    assert [tuple(r) for r in loaded2.collect()] == [(3, "c")]
    # unload through the same surface
    spark.sql("SELECT 1 AS k UNION ALL SELECT 2").createOrReplaceTempView(
        "ff_src"
    )
    out = str(tmp_path / "ff_out")
    wh.unload(
        "SELECT k FROM ff_src ORDER BY k",
        out,
        file_type="csv",
        format_options=["FIELD_DELIMITER=';'", "COMPRESSION=GZIP"],
        header=True,
    )
    back = spark.read.options(sep=";", header=True).csv(out)
    assert sorted(r.k for r in back.collect()) == ["1", "2"]
    # unknown named format / bad options raise
    from locopy_spark.errors import DBError

    with pytest.raises(DBError, match="file_format_name"):
        wh.copy("t", str(raw), file_format_name="nope")
    with pytest.raises(DBError, match="Unsupported format option"):
        wh.copy("t", str(raw), file_type="csv", format_options=["X=1"])
