import glob
import gzip
import os

import pandas as pd
import pytest

from locopy_spark.errors import DBError, StageDeletionError, StageError
from locopy_spark.sources.copy import add_default_copy_options, copy_files
from locopy_spark.sources.dataframe_io import insert_dataframe_to_table
from locopy_spark.sources.stage import (
    Stage,
    generate_unload_path,
    parse_url,
)
from locopy_spark.sources.unload import unload, unload_and_fetch


def test_copy_csv_with_header_and_delim(spark, tmp_path):
    f = tmp_path / "d.csv"
    f.write_text("a|b\n1|x\n2|y\n")
    df = copy_files(
        spark, str(f), "t_copy", delim="|", copy_options=["IGNOREHEADER 1"]
    )
    rows = sorted((r[0], r[1]) for r in df.collect())
    assert rows == [(1, "x"), (2, "y")]
    assert spark.table("t_copy").count() == 2


def test_copy_gzip_native(spark, tmp_path):
    f = tmp_path / "d.csv.gz"
    with gzip.open(str(f), "wt") as g:
        g.write("1|a\n2|b\n")
    df = copy_files(spark, str(f), "t_gz", delim="|")
    assert df.count() == 2


def test_copy_json_and_parquet(spark, tmp_path, sf_dir):
    j = tmp_path / "d.json"
    j.write_text('{"a": 1}\n{"a": 2}\n')
    assert copy_files(spark, str(j), "t_json", file_format="json").count() == 2
    p = os.path.join(sf_dir, "region.parquet")
    assert copy_files(spark, p, "t_parq", file_format="parquet").count() == 5


def test_copy_bad_format(spark, tmp_path):
    with pytest.raises(DBError):
        copy_files(spark, "/nonexistent", "t_bad", file_format="xml")
    # a format outside the COPY or UNLOAD set fails before Spark runs,
    # with a DBError naming it; UNLOAD writes no COPY-only format
    with pytest.raises(DBError, match="Unsupported COPY file_format: 'delta'"):
        copy_files(spark, str(tmp_path), "t_delta", file_format="delta")
    with pytest.raises(DBError, match="Unsupported UNLOAD file_format: 'text'"):
        unload(spark, "SELECT 1 AS a", str(tmp_path / "u"), file_format="text")
    assert not (tmp_path / "u").exists()


def test_default_copy_options():
    opts = add_default_copy_options(["IGNOREHEADER 1", "DATEFORMAT 'custom'"])
    assert "DATEFORMAT 'custom'" in opts
    assert sum(o.startswith("DATEFORMAT") for o in opts) == 1
    assert any(o.startswith("COMPUPDATE") for o in opts)


def test_unload_splits_and_header(spark, tmp_path, sf_dir):
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).createOrReplaceTempView(
        "nation_u"
    )
    out = str(tmp_path / "out")
    unload(
        spark,
        "SELECT n_nationkey, n_name FROM nation_u",
        out,
        splits=3,
        header=True,
        delim=",",
    )
    parts = glob.glob(os.path.join(out, "part-*"))
    assert len(parts) == 3
    # round-trip
    back = spark.read.options(header=True, sep=",").csv(out)
    assert back.count() == 25


def test_unload_gzip_single(spark, tmp_path):
    out = str(tmp_path / "gzout")
    unload(spark, "SELECT 1 AS a", out, splits=1, compression="gzip")
    assert glob.glob(os.path.join(out, "part-*.gz"))


def test_unload_partition_by(spark, tmp_path, sf_dir):
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).createOrReplaceTempView(
        "nation_p"
    )
    out = str(tmp_path / "pout")
    unload(
        spark,
        "SELECT n_name, n_regionkey FROM nation_p",
        out,
        file_format="parquet",
        partition_by=["n_regionkey"],
    )
    assert glob.glob(os.path.join(out, "n_regionkey=*"))


def test_unload_and_fetch(spark):
    pdf = unload_and_fetch(spark, "SELECT 1 AS A, 'x' AS B")
    assert list(pdf.columns) == ["a", "b"] and len(pdf) == 1


def test_stage_roundtrip(tmp_path):
    st = Stage(str(tmp_path / "stage"))
    src = tmp_path / "f.txt"
    src.write_text("data")
    st.upload(str(src), "folder/f.txt")
    assert st.list("folder/*") == ["folder/f.txt"]
    got = st.download("folder/*.txt", str(tmp_path / "dl"))
    assert open(got[0]).read() == "data"
    st.delete("folder/f.txt")
    assert st.list("folder/*") == []
    with pytest.raises(StageDeletionError):
        st.delete("missing")


def test_stage_file_uri_root(tmp_path, monkeypatch):
    """A ``file:`` stage root resolves to its local path; any other
    scheme is rejected up front; neither leaves a ``file:`` or ``s3a:``
    directory in the working directory."""
    monkeypatch.chdir(tmp_path)
    src = tmp_path / "f.txt"
    src.write_text("data")
    for root in (f"file://{tmp_path}/stage", f"file:{tmp_path}/stage"):
        st = Stage(root)
        assert st.root == str(tmp_path / "stage")
        dest = st.upload(str(src), "k/f.txt")
        assert dest == str(tmp_path / "stage" / "k" / "f.txt")
        assert open(dest).read() == "data"
    for root in ("s3a://bucket/stage", "hdfs:///stage"):
        with pytest.raises(StageError, match=root.split(":")[0]):
            Stage(root)
    assert sorted(os.listdir(tmp_path)) == ["f.txt", "stage"]


def test_parse_and_generate_urls():
    assert parse_url("s3://bucket/key/path.txt") == ("bucket", "key/path.txt")
    assert parse_url("s3a://bucket") == ("bucket", "")
    assert generate_unload_path("b", "folder") == "s3a://b/folder"
    assert generate_unload_path("b", None) == "s3a://b"


def test_insert_dataframe(spark):
    pdf = pd.DataFrame(
        {
            "i": [1, 2],
            "f": [1.5, 2.5],
            "s": ["a", "b"],
            "b": [True, False],
        }
    )
    sdf = insert_dataframe_to_table(spark, pdf, "t_ins", temp_view=True)
    assert dict(sdf.dtypes) == {
        "i": "bigint",
        "f": "double",
        "s": "string",
        "b": "boolean",
    }
    assert spark.table("t_ins").count() == 2


def test_insert_empty_raises(spark):
    with pytest.raises(DBError):
        insert_dataframe_to_table(spark, pd.DataFrame(), "t_e")


def test_unload_split_and_single(spark, tmp_path):
    """UNLOAD is the cluster-side split (``splits=n``: n files) and
    concatenate (``splits=1``: one file) of the reference's utility."""
    spark.range(100).toDF("n").createOrReplaceTempView("t_split_src")
    unload(spark, "SELECT * FROM t_split_src", str(tmp_path / "s"), splits=4)
    assert len(glob.glob(str(tmp_path / "s" / "part-*"))) == 4
    unload(spark, "SELECT * FROM t_split_src", str(tmp_path / "one"), splits=1)
    assert len(glob.glob(str(tmp_path / "one" / "part-*"))) == 1
    assert spark.read.csv(str(tmp_path / "one")).count() == 100


def test_orc_round_trip(spark, tmp_path, sf_dir):
    spark.read.parquet(os.path.join(sf_dir, "nation.parquet")).createOrReplaceTempView(
        "nation_orc_src"
    )
    out = str(tmp_path / "orcout")
    unload(spark, "SELECT * FROM nation_orc_src", out, file_format="orc", splits=2)
    back = copy_files(spark, out, "t_orc", file_format="orc")
    assert back.count() == spark.table("nation_orc_src").count()
    assert set(back.columns) == {"n_nationkey", "n_name", "n_regionkey"}


def test_copy_text_lines(spark, tmp_path):
    f = tmp_path / "corpus.txt"
    f.write_text("line one\nline two\nline three\n")
    df = copy_files(spark, str(f), "t_text", file_format="text")
    assert df.count() == 3
    assert df.columns == ["value"]


def test_copy_parquet_merge_schema(spark, tmp_path):
    base = tmp_path / "evolving"
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        str(base / "batch1")
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, name string, score double"
    ).write.parquet(str(base / "batch2"))
    df = copy_files(
        spark,
        [str(base / "batch1"), str(base / "batch2")],
        "t_evolved",
        file_format="parquet",
        reader_options={"mergeSchema": "true"},
    )
    assert set(df.columns) == {"id", "name", "score"}
    assert df.count() == 2


def test_ignoreheader_gt1_skips_per_file(spark, tmp_path):
    """IGNOREHEADER 2 drops exactly the first two lines of EACH input
    file (Redshift semantics, reference locopy/redshift.py:193) — even
    when a data line duplicates the header text."""
    from pyspark.sql import types as T

    from locopy_spark.sources.copy import copy_files

    d = tmp_path / "mh"
    d.mkdir()
    (d / "f1.csv").write_text("junk title\na|b\n1|2\n3|4\n")
    (d / "f2.csv").write_text("junk title\na|b\n5|6\n")
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.LongType())]
    )
    df = copy_files(
        spark,
        str(d),
        "t_hdr2",
        delim="|",
        schema=schema,
        copy_options=["IGNOREHEADER 2"],
    )
    got = sorted((r.a, r.b) for r in df.collect())
    assert got == [(1, 2), (3, 4), (5, 6)]


def test_ignoreheader_gt1_comma_in_filename(spark, tmp_path):
    """A comma in a file name must not be read as a Hadoop multi-path
    separator (textFile splits on unescaped commas); the n>1 skip path
    escapes it and the file loads whole. Also pins the metadata-only
    leaf listing: hidden files (_ / . prefixes) are skipped like
    Spark's own readers."""
    from pyspark.sql import types as T

    from locopy_spark.sources.copy import _leaf_files, copy_files

    d = tmp_path / "mhc"
    d.mkdir()
    (d / "part,a.csv").write_text("h1\nh2\n1|2\n")
    (d / "plain.csv").write_text("h1\nh2\n3|4\n")
    (d / "_SUCCESS").write_text("")
    (d / ".hidden.csv").write_text("h1\nh2\n9|9\n")
    leaves = _leaf_files(spark, str(d))
    assert len(leaves) == 2 and all(
        f.rsplit("/", 1)[-1] in ("part,a.csv", "plain.csv") for f in leaves
    )
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.LongType())]
    )
    df = copy_files(
        spark,
        str(d),
        "t_hdr_comma",
        delim="|",
        schema=schema,
        copy_options=["IGNOREHEADER 2"],
    )
    got = sorted((r.a, r.b) for r in df.collect())
    assert got == [(1, 2), (3, 4)]


def test_ignoreheader_gt1_descends_partition_dirs(spark, tmp_path):
    """IGNOREHEADER n>1 reads the files of nested partition dirs, as
    the n == 1 native reader does; hidden dirs stay skipped."""
    from pyspark.sql import types as T

    d = tmp_path / "nested"
    for sub in ("year=1", "year=2", "_tmp", ".staging"):
        (d / sub).mkdir(parents=True)
        (d / sub / "p.csv").write_text("h1\nh2\n1|2\n3|4\n5|6\n")
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.LongType())]
    )
    two = copy_files(
        spark, str(d), "t_hdr_nested2", delim="|", schema=schema,
        copy_options=["IGNOREHEADER 2"],
    )
    assert sorted((r.a, r.b) for r in two.collect()) == sorted(
        [(1, 2), (3, 4), (5, 6)] * 2
    )
    (d / "year=1" / "p.csv").write_text("h\n1|2\n3|4\n5|6\n")
    (d / "year=2" / "p.csv").write_text("h\n1|2\n3|4\n5|6\n")
    one = copy_files(
        spark, str(d), "t_hdr_nested1", delim="|", schema=schema,
        copy_options=["IGNOREHEADER 1"],
    )
    assert one.count() == 6


def test_ignoreheader_gt1_with_inference_and_gzip(spark, tmp_path):
    """The n>1 skip path composes with schema inference and gzip
    transparency (sc.textFile decodes .gz natively)."""
    import gzip as _gzip

    from locopy_spark.sources.copy import copy_files

    d = tmp_path / "mhgz"
    d.mkdir()
    with _gzip.open(d / "f1.csv.gz", "wt") as fh:
        fh.write("comment line\nsecond comment\nanother\n10|x\n20|y\n")
    df = copy_files(
        spark,
        str(d),
        "t_hdr3",
        delim="|",
        copy_options=["IGNOREHEADER 3"],
    )
    got = sorted(tuple(r) for r in df.collect())
    assert got == [(10, "x"), (20, "y")]


def test_s3_error_alias_parity():
    # reference users port `except S3InitializationError` unchanged
    from locopy_spark.errors import (
        S3InitializationError,
        StageError,
        StageInitializationError,
    )

    assert issubclass(S3InitializationError, StageError)
    assert S3InitializationError is StageInitializationError


def test_s3_named_aliases(tmp_path):
    from locopy_spark import S3

    stage = S3(str(tmp_path / "store"))
    f = tmp_path / "data.txt"
    f.write_text("payload")
    stage.upload_to_s3(str(f), "bkt", "folder/data.txt")
    assert stage.list("bkt/**") == ["bkt/folder/data.txt"] or stage.list(
        "bkt/folder/*"
    ) == ["bkt/folder/data.txt"]
    got = stage.download_from_s3("bkt", "folder/data.txt", str(tmp_path / "dl"))
    assert len(got) == 1 and open(got[0]).read() == "payload"
    bucket, key = stage.parse_s3_url("s3://bkt/folder/data.txt")
    assert (bucket, key) == ("bkt", "folder/data.txt")
    stage.delete_from_s3("bkt", "folder/data.txt")
    assert stage.list("bkt/folder/*") == []


def test_insert_coerces_probed_string_columns(spark):
    # regression: inference probes "2021-01-02" → date and "1.5" →
    # float, but the data stayed strings — createDataFrame then
    # rejected every row. The insert must coerce to the inferred type.
    import pandas as pd

    from locopy_spark.sources.dataframe_io import insert_dataframe_to_table

    pdf = pd.DataFrame(
        {
            "d": ["2021-01-02", "2021-03-04"],
            "x": ["1.5", "2.5"],
            "ts": ["2021-01-02 03:04:05", "2021-01-02 06:07:08"],
            "s": ["keep", "as-is"],
        }
    )
    out = insert_dataframe_to_table(
        spark, pdf, "coerce_probe_t", temp_view=True
    )
    types = dict(out.dtypes)
    assert types["d"] == "date"
    assert types["x"] == "double"
    assert types["ts"] == "timestamp"
    assert types["s"] == "string"
    rows = {r.s: r for r in out.collect()}
    assert str(rows["keep"].d) == "2021-01-02"
    assert rows["keep"].x == 1.5


def test_stage_transfer_callback(tmp_path):
    # ProgressPercentage wiring: upload/download drive the callback
    # with byte deltas summing to the file size
    from locopy_spark.sources.stage import Stage
    from locopy_spark.utility import ProgressPercentage

    src = tmp_path / "payload.bin"
    src.write_bytes(b"x" * (3 * 1024 * 1024 + 17))
    stage = Stage(str(tmp_path / "stage"))

    seen = []
    stage.upload(str(src), "payload.bin", callback=seen.append)
    assert sum(seen) == src.stat().st_size
    assert len(seen) >= 3  # chunked, not one shot

    pp = ProgressPercentage(str(src))
    stage.download("payload.bin", str(tmp_path / "out"), callback=pp)
    assert pp._seen_so_far == src.stat().st_size


def test_zorder_write_clusters_both_dimensions(spark, sf_dir, tmp_path):
    """Z-ordered output files must be compact rectangles in BOTH key
    dimensions — a plain sort clusters only its leading column — so
    parquet min/max stats can prune files for filters on either key."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from pyspark.sql import functions as F

    from locopy_spark.sources.layout import write_zordered
    from locopy_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    out = str(tmp_path / "orders_z")
    write_zordered(o, out, "o_custkey", "o_totalprice", n_files=16)

    spans = []
    for f in Path(out).glob("part-*.parquet"):
        t = pq.read_table(f, columns=["o_custkey", "o_totalprice"])
        ck = t.column("o_custkey").to_pylist()
        tp = t.column("o_totalprice").to_pylist()
        if len(ck) < 10:
            continue
        spans.append((max(ck) - min(ck), max(tp) - min(tp)))
    assert len(spans) >= 8
    row = o.agg(
        F.max("o_custkey") - F.min("o_custkey"),
        F.max("o_totalprice") - F.min("o_totalprice"),
    ).first()
    g_ck, g_tp = float(row[0]), float(row[1])
    mean_ck = sum(s[0] for s in spans) / len(spans)
    mean_tp = sum(s[1] for s in spans) / len(spans)
    # each file must cover well under the full range in BOTH dims;
    # a 1-D sort gives ~1/16 in one dim and ~1.0 in the other
    assert mean_ck / g_ck < 0.6
    assert mean_tp / g_tp < 0.6
    # round-trip integrity
    assert spark.read.parquet(out).count() == o.count()


def test_compact_parquet_merges_small_files(spark, sf_dir, tmp_path):
    """20 micro-batch-sized files compact to a handful, preserving
    every row; the original directory is atomically replaced."""
    from pathlib import Path

    from locopy_spark.sources.layout import compact_parquet
    from locopy_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_small")
    o.repartition(20).write.parquet(path)
    n_before = len(list(Path(path).glob("part-*.parquet")))
    assert n_before >= 15
    total = o.count()
    n_after = compact_parquet(spark, path, target_mb=128, sort_col="o_orderkey")
    assert n_after < n_before
    back = spark.read.parquet(path)
    assert back.count() == total
    assert not Path(path + ".__compact_tmp").exists()
    assert not Path(path + ".__compact_old").exists()


def test_copy_maxerror_tolerates_bad_rows(spark, tmp_path):
    """MAXERROR n: up to n unparseable rows are dropped, kept in the
    <table>__load_errors view (STL_LOAD_ERRORS analog)."""
    from pyspark.sql import types as T

    from locopy_spark.sources.copy import load_errors_view

    f = tmp_path / "m.csv"
    f.write_text("1|x\n2|y\nnot_an_int|z\n3|w\n")
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    df = copy_files(
        spark,
        str(f),
        "t_maxerr",
        delim="|",
        schema=schema,
        copy_options=["MAXERROR 2"],
    )
    rows = sorted((r.a, r.b) for r in df.collect())
    assert rows == [(1, "x"), (2, "y"), (3, "w")]
    errs = spark.table(load_errors_view("t_maxerr")).collect()
    assert len(errs) == 1 and "not_an_int" in errs[0].raw_line
    # the error rows outlive any cache ...
    spark.catalog.clearCache()
    errs = spark.table(load_errors_view("t_maxerr")).collect()
    assert len(errs) == 1 and "not_an_int" in errs[0].raw_line
    # ... and a later COPY into the name replaces them
    clean = tmp_path / "m_clean.csv"
    clean.write_text("4|v\n")
    copy_files(
        spark, str(clean), "t_maxerr", delim="|", schema=schema,
        copy_options=["MAXERROR 2"],
    )
    assert spark.table(load_errors_view("t_maxerr")).collect() == []
    copy_files(spark, str(clean), "t_maxerr", delim="|", schema=schema)
    assert not spark.catalog.tableExists(load_errors_view("t_maxerr"))


def test_copy_maxerror_bad_later_column_excluded(spark, tmp_path):
    """A row whose bad value sits in a later column is excluded even
    from a read of the loaded view that selects only the first
    column."""
    from pyspark.sql import types as T

    f = tmp_path / "m3.csv"
    f.write_text("1|10|x\n2|oops|y\n3|30|z\n")
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.LongType()),
            T.StructField("c", T.StringType()),
        ]
    )
    df = copy_files(
        spark, str(f), "t_maxerr_col", delim="|", schema=schema,
        copy_options=["MAXERROR 1"],
    )
    assert sorted(r.a for r in df.select("a").collect()) == [1, 3]
    assert spark.table("t_maxerr_col").select("a").count() == 2


def test_copy_maxerror_view_survives_clear_cache_and_deleted_source(
    spark, tmp_path
):
    """The MAXERROR-loaded view excludes a row whose bad value sits in a
    later column under a one-column projection, with no cache and no
    source file left to re-read."""
    from pyspark.sql import types as T

    f = tmp_path / "m4.csv"
    f.write_text("1|10|x\n2|oops|y\n3|30|z\n")
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.LongType()),
            T.StructField("c", T.StringType()),
        ]
    )
    copy_files(
        spark, str(f), "t_maxerr_gone", delim="|", schema=schema,
        copy_options=["MAXERROR 1"],
    )
    f.unlink()
    spark.catalog.clearCache()
    got = spark.sql("SELECT count(a), sum(a) FROM t_maxerr_gone").first()
    assert tuple(got) == (2, 4)
    assert spark.table("t_maxerr_gone").count() == 2


def test_copy_maxerror_leaves_no_cache(spark, tmp_path):
    """MAXERROR COPYs own nothing process-wide: after six loads into
    one name the cache manager is empty, no parse view is registered,
    and every load read its own rows."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    spark.catalog.clearCache()
    for i in range(6):
        f = tmp_path / f"r{i}.csv"
        f.write_text(f"{i}|x\nbad|y\n{i + 10}|z\n")
        df = copy_files(
            spark, str(f), "t_maxerr_rel", delim="|", schema=schema,
            copy_options=["MAXERROR 5"],
        )
        assert sorted((r.a, r.b) for r in df.collect()) == [
            (i, "x"), (i + 10, "z")
        ]
        assert spark.table("t_maxerr_rel").count() == 2
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    names = [t.name for t in spark.catalog.listTables()]
    assert not [n for n in names if "__maxerror_parse" in n], names
    # a COPY without MAXERROR replaces the name too
    f = tmp_path / "plain.csv"
    f.write_text("4|v\n")
    copy_files(spark, str(f), "t_maxerr_rel", delim="|", schema=schema)
    assert [tuple(r) for r in spark.table("t_maxerr_rel").collect()] == [
        (4, "v")
    ]


def test_copy_maxerror_exceeded_fails(spark, tmp_path):
    from pyspark.sql import types as T

    f = tmp_path / "m2.csv"
    f.write_text("1|x\nbad|z\nworse|q\n")
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    with pytest.raises(DBError, match="MAXERROR"):
        copy_files(
            spark,
            str(f),
            "t_maxerr2",
            delim="|",
            schema=schema,
            copy_options=["MAXERROR 1"],
        )


def test_copy_maxerror_requires_schema(spark, tmp_path):
    f = tmp_path / "m3.csv"
    f.write_text("1|x\n")
    with pytest.raises(DBError, match="explicit schema"):
        copy_files(spark, str(f), "t_maxerr3", copy_options=["MAXERROR 5"])


def test_copy_xml_native(spark, tmp_path):
    """Spark 4 native XML lands through the same COPY surface."""
    f = tmp_path / "rows.xml"
    f.write_text(
        "<rows><row><a>1</a><b>x</b></row>"
        "<row><a>2</a><b>y</b></row></rows>"
    )
    df = copy_files(spark, str(f), "t_xml", file_format="xml")
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, "x"), (2, "y")]
    # the format name is case-insensitive
    df = copy_files(spark, str(f), "t_xml", file_format="XML")
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, "x"), (2, "y")]
    # a caller's rowTag overrides the default in any case of the key
    g = tmp_path / "items.xml"
    g.write_text(
        "<items><item><a>3</a></item><item><a>4</a></item></items>"
    )
    for key in ("rowTag", "rowtag", "ROWTAG"):
        df = copy_files(
            spark, str(g), "t_xml_item", file_format="xml",
            reader_options={key: "item"},
        )
        assert sorted(r.a for r in df.collect()) == [3, 4]


def test_copy_binaryfile_payloads(spark, tmp_path):
    """binaryFile COPY: whole-file multimodal payload ingestion with
    path/length/content columns, glob-scoped."""
    (tmp_path / "a.bin").write_bytes(b"\x00\x01payload")
    (tmp_path / "skip.txt").write_text("no")
    df = copy_files(
        spark,
        str(tmp_path),
        "t_bin",
        file_format="binaryfile",
        reader_options={"pathGlobFilter": "*.bin"},
    )
    rows = df.collect()
    assert len(rows) == 1
    assert rows[0].length == 9 and bytes(rows[0].content) == b"\x00\x01payload"


def test_copy_avro_fails_with_fix(spark, tmp_path):
    """Avro needs the external spark-avro jar. Auto-upgrading probe
    (the protobuf convention, VERDICT r7 task 8): if the jar ever
    ships in the env this test flips to a full write→COPY round-trip;
    until then the error must name the missing package."""
    import pytest as _pytest

    from locopy_spark.errors import DBError

    try:
        spark.range(1).write.format("avro").mode("overwrite").save(
            str(tmp_path / "probe_avro")
        )
        jar_present = True
    except Exception:
        jar_present = False
    if jar_present:
        df = copy_files(
            spark, str(tmp_path / "probe_avro"), "t_av", file_format="avro"
        )
        assert [r.id for r in df.collect()] == [0]
        return
    with _pytest.raises(DBError) as ei:
        copy_files(spark, str(tmp_path / "x.avro"), "t_av", file_format="avro")
    assert "spark-avro" in str(ei.value.__cause__ or ei.value)


def test_unload_xml_roundtrip(spark, tmp_path, sf_dir):
    """UNLOAD to native XML and COPY it back: values survive."""
    from locopy_spark.sources.tables import load_table
    from locopy_spark.sources.unload import unload

    load_table(spark, sf_dir, "nation").createOrReplaceTempView("n_rt")
    out = tmp_path / "xml_out"
    unload(
        spark,
        "SELECT n_nationkey, n_name FROM n_rt",
        str(out),
        file_format="xml",
        splits=1,
    )
    back = copy_files(spark, str(out), "t_xml_rt", file_format="xml",
                      reader_options={"rowTag": "row"})
    want = {(r.n_nationkey, r.n_name)
            for r in spark.table("n_rt").select("n_nationkey", "n_name").collect()}
    got = {(r.n_nationkey, r.n_name) for r in back.collect()}
    assert got == want and len(got) == 25
