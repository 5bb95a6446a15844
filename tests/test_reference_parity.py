"""Reference-test-depth parity: each test here is the Spark-native twin
of a named test case in the reference's suite (capitalone/locopy
tests/test_redshift.py and tests/test_snowflake.py).  The reference
asserts on the SQL string its client renders (COPY/UNLOAD/PUT/GET);
here the method IS the operation, so the twin asserts the operation's
observable effect — same option grammar in, same data semantics out.

Mapping (reference file:test → twin below):
  test_redshift.py:test_add_default_copy_options → test_add_default_copy_options
  test_redshift.py:test_combine_copy_options     → test_combine_copy_options
  test_redshift.py:test_copy (options permutations) → test_copy_option_permutations
  test_redshift.py:test_copy (delim=None, ["PARQUET"]) → test_copy_parquet_marker
  test_redshift.py:test_copy ("IGNOREHEADER as 1" form) → test_ignoreheader_as_form
                                              + test_option_grammar_forms
  test_redshift.py:test_load_and_copy (splits/compress) → test_load_and_copy_splits_compress
  test_snowflake.py:test_upload_to_internal → test_put_parallel_autocompress_overwrite
  test_snowflake.py:test_download_from_internal → test_get_parallel
  test_snowflake.py:test_copy_file_type → test_file_type_permutations
  test_s3.py:test_parse_s3_url → test_parse_s3_url_reference_cases
  test_s3.py:test_generate_s3_path → test_generate_s3_path_reference_cases
  test_s3.py:test_generate_unload_path → test_generate_unload_path_reference_cases
  test_s3.py:test_delete_list_..._special_chars → test_delete_list_special_chars
  test_utility.py:test_split_file_exception → test_split_file_rejects_bad_splits
                                              + test_split_file_exception_cleans_partials
  test_utility.py:test_concatenate_files_exception → test_concatenate_files_missing_input_raises
  test_utility.py:test_read_config_yaml_good/_io/_no_file → test_read_config_yaml_stream_and_errors
  test_database.py:test_database_constructor(+_kwargs,_with_extras) → test_database_constructor_kwargs_reference
  test_database.py:test_database_constructor_kwargs_and_yaml → test_database_constructor_kwargs_and_yaml_raises
  test_database.py:test_database_constructor_yaml → test_database_constructor_yaml_reference
  test_database.py:test_is_connected → test_is_connected_lifecycle
  test_database.py:test_disconnect_no_conn → test_disconnect_no_conn_reference
  test_database.py:test_execute_no_connection_exception → test_execute_no_connection_reference
  test_database.py:test_execute_sql_exception → test_execute_sql_exception_reference
  (test_integration.py / test_integration_sf.py exercise live COPY →
   query → UNLOAD round-trips against a real warehouse; their Spark
   twins are the oracle-gated q_copy_csv / q_unload_roundtrip paths
   and tests/test_sources.py.)
"""

import glob
import gzip
import os

import pytest
from pyspark.sql import types as T

from locopy_spark.errors import DBError, LocopyIgnoreHeaderError
from locopy_spark.sources.copy import (
    add_default_copy_options,
    combine_copy_options,
    copy_files,
    redshift_dateformat_to_java,
)
from locopy_spark.sources.options import (
    GRAMMAR,
    CopyOptions,
    UnloadOptions,
    parse_copy_options,
    parse_unload_options,
    split_option,
)
from locopy_spark.utility import get_ignoreheader_number
from locopy_spark.warehouse import Redshift, Snowflake


def _wh(spark, tmp_path, name="stage"):
    wh = Snowflake(spark=spark, stage_root=str(tmp_path / name))
    wh.connect()
    return wh


# --- option grammar (reference test_redshift.py:46,62) ----------------


def test_add_default_copy_options():
    # exact lists from reference tests/test_redshift.py:46-60
    assert add_default_copy_options() == [
        "DATEFORMAT 'auto'",
        "COMPUPDATE ON",
        "TRUNCATECOLUMNS",
    ]
    assert add_default_copy_options(["DATEFORMAT 'other'", "NULL AS 'blah'"]) == [
        "DATEFORMAT 'other'",
        "NULL AS 'blah'",
        "COMPUPDATE ON",
        "TRUNCATECOLUMNS",
    ]


def test_combine_copy_options():
    # reference tests/test_redshift.py:62-65
    assert (
        combine_copy_options(add_default_copy_options())
        == "DATEFORMAT 'auto' COMPUPDATE ON TRUNCATECOLUMNS"
    )


@pytest.mark.parametrize(
    "opts, n_semantic, n_hint, n_unknown",
    [
        (["COMPUPDATE ON", "TRUNCATECOLUMNS"], 0, 2, 0),
        (["STATUPDATE ON", "ACCEPTINVCHARS", "EMPTYASNULL"], 0, 3, 0),
        (["GZIP"], 0, 1, 0),  # codec marker: Spark decodes by extension
        (["IGNOREHEADER 1", "MAXERROR 5"], 2, 0, 0),
        (["DATEFORMAT 'auto'", "TIMEFORMAT 'auto'"], 2, 0, 0),
        (["SOME OPTION"], 0, 0, 1),  # reference's pass-through probe
        (["FORMAT AS PARQUET"], 1, 0, 0),
    ],
)
def test_copy_option_classes(opts, n_semantic, n_hint, n_unknown):
    classes = [
        GRAMMAR["COPY"].get(split_option(o)[0], ("unknown",))[0] for o in opts
    ]
    unknown = parse_copy_options(opts).unknown
    assert (
        sum(c in ("semantic", "marker") for c in classes),
        sum(c in ("hint", "codec") for c in classes),
        len(unknown),
    ) == (n_semantic, n_hint, n_unknown)


@pytest.mark.parametrize(
    "opts, expected",
    [
        (["PARQUET"], "parquet"),
        (["FORMAT AS PARQUET"], "parquet"),
        (["FORMAT PARQUET"], "parquet"),
        (["JSON 'auto'"], "json"),
        (["CSV"], "csv"),
        (["GZIP", "COMPUPDATE ON"], None),
        ([], None),
    ],
)
def test_detect_format_option(opts, expected):
    assert parse_copy_options(opts).file_format == expected


# --- copy-options permutations against real loads ---------------------


def test_copy_option_permutations(spark, tmp_path):
    """Reference test_redshift.py:227-330 drives copy() through GZIP /
    'SOME OPTION' / default permutations and asserts the rendered SQL;
    the twin asserts the load succeeds with identical content under
    each permutation (hints are accepted, unknown options warn but
    don't fail — the reference forwards them to the warehouse)."""
    f = tmp_path / "perm.csv"
    f.write_text("1|a\n2|b\n")
    gz = tmp_path / "perm.csv.gz"
    with open(f, "rb") as fin, gzip.open(gz, "wb") as fout:
        fout.write(fin.read())
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    for path, opts in [
        (f, ["COMPUPDATE ON", "TRUNCATECOLUMNS"]),
        (f, ["SOME OPTION"]),
        (gz, ["SOME OPTION", "GZIP"]),
        (f, add_default_copy_options()),
        (f, ["STATUPDATE ON", "ACCEPTANYDATE", "BLANKSASNULL"]),
    ]:
        df = copy_files(
            spark, str(path), "t_perm", delim="|", schema=schema,
            copy_options=opts,
        )
        assert sorted((r.k, r.v) for r in df.collect()) == [(1, "a"), (2, "b")]


def test_copy_parquet_marker(spark, tmp_path, sf_dir):
    """Reference test_redshift.py:143: ``copy("table", s3path, delim=None,
    copy_options=["PARQUET"])`` — the format marker selects parquet and
    suppresses the delimited defaults."""
    wh = _wh(spark, tmp_path)
    df = wh.copy(
        "t_pq_marker", os.path.join(sf_dir, "region.parquet"),
        delim=None, copy_options=["PARQUET"],
    )
    assert df.count() == 5 and "r_name" in df.columns


def test_ignoreheader_as_form(spark, tmp_path):
    """Reference test_redshift.py:505: ``IGNOREHEADER as 1`` (lowercase
    ``as``) parses like ``IGNOREHEADER 1``."""
    f = tmp_path / "hdr.csv"
    f.write_text("k|v\n7|x\n")
    df = copy_files(
        spark, str(f), "t_hdr_as", delim="|",
        copy_options=["IGNOREHEADER as 1"],
    )
    assert [(int(r[0]), r[1]) for r in df.collect()] == [(7, "x")]


def test_dateformat_option_wired(spark, tmp_path):
    """DATEFORMAT isn't just accepted — a non-auto Redshift pattern
    reaches the csv reader (translated to the Java grammar) and changes
    how dates parse."""
    assert redshift_dateformat_to_java("MM/DD/YYYY") == "MM/dd/yyyy"
    assert redshift_dateformat_to_java("YYYY-MM-DD HH24:MI:SS") == (
        "yyyy-MM-dd HH:mm:ss"
    )
    assert parse_copy_options(["DATEFORMAT 'auto'"]).date_format is None
    assert (
        parse_copy_options(["DATEFORMAT 'MM/DD/YYYY'"]).date_format
        == "MM/dd/yyyy"
    )
    f = tmp_path / "dates.csv"
    f.write_text("03/14/2026|a\n12/01/2025|b\n")
    schema = T.StructType(
        [T.StructField("d", T.DateType()), T.StructField("v", T.StringType())]
    )
    df = copy_files(
        spark, str(f), "t_datefmt", delim="|", schema=schema,
        copy_options=["DATEFORMAT 'MM/DD/YYYY'"],
    )
    got = sorted((str(r.d), r.v) for r in df.collect())
    assert got == [("2025-12-01", "b"), ("2026-03-14", "a")]


# --- one option grammar: any case, AS/=, quoted values ---------------


def test_ignoreheader_any_case(spark, tmp_path):
    """IGNOREHEADER is a case-insensitive keyword like every other:
    a lower- or mixed-case spelling skips the header line."""
    f = tmp_path / "hdr_case.csv"
    f.write_text("k|v\n7|x\n")
    for opt in ("ignoreheader 1", "IgnoreHeader 1"):
        df = copy_files(
            spark, str(f), "t_hdr_case", delim="|", copy_options=[opt]
        )
        assert [(int(r[0]), r[1]) for r in df.collect()] == [(7, "x")], opt


def test_spaced_datetime_formats(spark, tmp_path):
    """A quoted TIMEFORMAT/DATEFORMAT value with spaces reaches the
    reader whole, so the values parse instead of loading NULL."""
    f = tmp_path / "spaced_fmt.csv"
    f.write_text("2026-03-14 13:45:10|03 14 2026\n")
    df = copy_files(
        spark, str(f), "t_spaced_fmt", delim="|",
        schema="ts TIMESTAMP, d DATE",
        copy_options=[
            "TIMEFORMAT 'YYYY-MM-DD HH24:MI:SS'", "DATEFORMAT AS 'MM DD YYYY'",
        ],
    )
    got = df.selectExpr("CAST(ts AS STRING) ts", "CAST(d AS STRING) d")
    assert [tuple(r) for r in got.collect()] == [
        ("2026-03-14 13:45:10", "2026-03-14")
    ]


def test_copy_delimiter_option(spark, tmp_path):
    """A COPY ``DELIMITER`` option sets the field separator."""
    f = tmp_path / "comma.csv"
    f.write_text("1,a\n2,b\n")
    df = copy_files(spark, str(f), "t_delim_opt", copy_options=["DELIMITER ','"])
    assert len(df.columns) == 2
    assert sorted((int(r[0]), r[1]) for r in df.collect()) == [(1, "a"), (2, "b")]


def test_copy_null_as_option(spark, tmp_path):
    """A COPY ``NULL AS`` option names the text that loads as NULL."""
    f = tmp_path / "null_as.csv"
    f.write_text("1|NA\n2|x\n")
    df = copy_files(
        spark, str(f), "t_null_as", schema="a INT, b STRING",
        copy_options=["NULL AS 'NA'"],
    )
    assert sorted((r.a, r.b) for r in df.collect()) == [(1, None), (2, "x")]


def test_load_and_copy_ignoreheader_any_case_splits(spark, tmp_path):
    """load_and_copy strips a lower-case IGNOREHEADER's header during
    the split, so no part loads it as a row."""
    wh = _wh(spark, tmp_path)
    raw = tmp_path / "hdr_split.csv"
    rows = [(i, f"v{i}") for i in range(30)]
    raw.write_text("k|v\n" + "".join(f"{k}|{v}\n" for k, v in rows))
    df = wh.load_and_copy(
        str(raw), "lac_hdr", "t_lac_hdr", delim="|",
        copy_options=["ignoreheader 1"], splits=3, schema="k INT, v STRING",
    )
    assert sorted((r.k, r.v) for r in df.collect()) == rows


def _mixed(text):
    return "".join(c.upper() if i % 2 else c.lower() for i, c in enumerate(text))


def _forms(keyword, value):
    """Every spelling of one option: keyword (and AS, and an unquoted
    value) in upper, lower and mixed case; a valued keyword bare, with
    AS and with = (spaced and not), a flag bare only."""
    heads = (
        [f"{keyword} ", f"{keyword} AS ", f"{keyword} = ", f"{keyword}="]
        if value
        else [keyword]
    )
    return [
        case(h) + (value if value.startswith("'") else case(value))
        for h in heads
        for case in (str.upper, str.lower, _mixed)
    ]


_PARSE = {
    "COPY": parse_copy_options,
    "UNLOAD": parse_unload_options,
    "FILE_FORMAT": lambda opts: parse_copy_options(None, None, opts),
}
_GRAMMAR_CASES = [
    ("COPY", "IGNOREHEADER", "2", CopyOptions(ignore_header=2)),
    ("COPY", "MAXERROR", "5", CopyOptions(max_error=5)),
    ("COPY", "DATEFORMAT", "'MM/DD/YYYY'", CopyOptions(date_format="MM/dd/yyyy")),
    (
        "COPY", "TIMEFORMAT", "'YYYY-MM-DD HH24:MI:SS'",
        CopyOptions(time_format="yyyy-MM-dd HH:mm:ss"),
    ),
    ("COPY", "DELIMITER", "','", CopyOptions(delim=",")),
    ("COPY", "FORMAT", "PARQUET", CopyOptions(file_format="parquet")),
    ("COPY", "PURGE", "TRUE", CopyOptions(purge=True)),
    ("COPY", "NULL", "'NA'", CopyOptions(null_as="NA")),
    *[
        ("COPY", m, "", CopyOptions(file_format=m.lower()))
        for m in ("PARQUET", "JSON", "ORC", "AVRO", "CSV")
    ],
    ("UNLOAD", "PARALLEL", "OFF", UnloadOptions(splits=1)),
    ("UNLOAD", "HEADER", "", UnloadOptions(header=True)),
    ("UNLOAD", "GZIP", "", UnloadOptions(compression="gzip")),
    ("UNLOAD", "DELIMITER", "'|'", UnloadOptions(delim="|")),
    ("UNLOAD", "MAXFILESIZE", "100 MB", UnloadOptions(max_file_mb=100.0)),
    ("FILE_FORMAT", "FIELD_DELIMITER", "';'", CopyOptions(delim=";")),
    ("FILE_FORMAT", "SKIP_HEADER", "1", CopyOptions(ignore_header=1)),
    ("FILE_FORMAT", "COMPRESSION", "GZIP", CopyOptions(compression="gzip")),
]


@pytest.mark.parametrize(
    "statement, keyword, value, expected",
    _GRAMMAR_CASES,
    ids=[f"{c[0]}-{c[1]}" for c in _GRAMMAR_CASES],
)
def test_option_grammar_forms(statement, keyword, value, expected):
    """Each spelling of an option parses to the same record."""
    forms = _forms(keyword, value)
    assert len(forms) == (12 if value else 3)
    for opt in forms:
        assert _PARSE[statement]([opt]) == expected, opt


def test_option_grammar_cases_cover_the_table():
    """The forms test above covers every keyword that sets a field."""
    table = {"COPY": "COPY", "UNLOAD": "UNLOAD", "FILE_FORMAT": "format"}
    want = {
        (st, kw)
        for st, name in table.items()
        for kw, (_, field, _) in GRAMMAR[name].items()
        if field is not None
    }
    assert {(c[0], c[1]) for c in _GRAMMAR_CASES} == want


def test_option_grammar_errors():
    """A malformed or repeated option raises the error that names it —
    LocopyIgnoreHeaderError for IGNOREHEADER, DBError otherwise — never
    a bare ValueError/IndexError, and a repeat never silently wins."""
    for opts in (
        ["IGNOREHEADER x"],
        ["IGNOREHEADER AS"],
        ["IGNOREHEADER 1", "ignoreheader 2"],
    ):
        with pytest.raises(LocopyIgnoreHeaderError, match="IGNOREHEADER"):
            parse_copy_options(opts)
    with pytest.raises(LocopyIgnoreHeaderError, match="IGNOREHEADER"):
        get_ignoreheader_number(["IGNOREHEADER 1", "ignoreheader 2"])
    # FILE_FORMAT SKIP_HEADER and IGNOREHEADER fill the same field
    with pytest.raises(LocopyIgnoreHeaderError, match="Duplicate IGNOREHEADER"):
        parse_copy_options(["IgnoreHeader 1"], None, ["SKIP_HEADER=1"])
    with pytest.raises(DBError, match="Malformed SKIP_HEADER"):
        parse_copy_options(None, "csv", ["SKIP_HEADER=x"])
    for opts in (
        ["MAXERROR 1", "MaxError 2"],
        ["PURGE = TRUE", "purge = false"],
        ["DELIMITER ','", "delimiter '|'"],
        ["PARQUET", "format as json"],
    ):
        with pytest.raises(DBError, match="Duplicate"):
            parse_copy_options(opts)
    for opts in (["HEADER", "header"], ["PARALLEL OFF", "Parallel On"]):
        with pytest.raises(DBError, match="Duplicate"):
            parse_unload_options(opts)
    with pytest.raises(DBError, match="Malformed option"):
        parse_copy_options(["DELIMITER '"])  # unterminated quote
    with pytest.raises(DBError, match="Malformed option"):
        add_default_copy_options([""])


# --- load_and_copy splits/compress (reference redshift.py:235) --------


def test_load_and_copy_splits_compress(spark, tmp_path):
    """Reference test_redshift.py's load_and_copy permutations: the
    file is split into ``splits`` parts, each gzipped, staged, and
    COPY'd; content survives intact and the staged artifacts exist
    (compressed) for audit."""
    wh = _wh(spark, tmp_path)
    raw = tmp_path / "big.csv"
    raw.write_text("".join(f"{i}|v{i}\n" for i in range(30)))
    df = wh.load_and_copy(
        str(raw), "lacsplit", "t_lac_split", delim="|",
        splits=3, compress=True,
    )
    assert df.count() == 30
    staged = glob.glob(str(tmp_path / "stage" / "lacsplit" / "*"))
    assert len(staged) == 3 and all(s.endswith(".gz") for s in staged)
    # delete_stage_after removes the staged artifacts once loaded
    wh.load_and_copy(
        str(raw), "lacdel", "t_lac_del", delim="|",
        splits=2, compress=True, delete_stage_after=True,
    )
    assert glob.glob(str(tmp_path / "stage" / "lacdel" / "*")) == []


def test_load_and_copy_uncompressed(spark, tmp_path):
    """compress=False stages the parts verbatim (reference permutation
    test_redshift.py: copy without GZIP)."""
    wh = _wh(spark, tmp_path)
    raw = tmp_path / "plain.csv"
    raw.write_text("1|a\n2|b\n")
    df = wh.load_and_copy(
        str(raw), "lacplain", "t_lac_plain", delim="|", compress=False
    )
    assert df.count() == 2
    staged = glob.glob(str(tmp_path / "stage" / "lacplain" / "*"))
    assert staged == [str(tmp_path / "stage" / "lacplain" / "plain.csv")]


# --- PUT / GET clause permutations (reference test_snowflake.py) ------


@pytest.mark.parametrize("parallel", [1, 4, 99])
def test_put_parallel_autocompress_overwrite(spark, tmp_path, parallel):
    """Reference test_snowflake.py:174-213 asserts the rendered ``PUT
    ... PARALLEL=n AUTO_COMPRESS=b OVERWRITE=b``; the twin runs each
    clause: parallel is the transfer pool width (any n works),
    AUTO_COMPRESS gzips non-compressed files, OVERWRITE=False skips
    existing staged names."""
    wh = _wh(spark, tmp_path, name=f"put{parallel}")
    src = tmp_path / f"put_{parallel}"
    src.mkdir()
    for i in range(5):
        (src / f"f{i}.csv").write_text(f"row{i}\n")
    # wildcard upload (PUT supports * / ?) with AUTO_COMPRESS=True
    staged = wh.upload_to_internal(
        str(src / "*.csv"), "in", parallel=parallel, auto_compress=True
    )
    assert len(staged) == 5 and all(s.endswith(".csv.gz") for s in staged)
    with gzip.open(staged[0], "rt") as fh:  # content survives, match order
        assert fh.read() == "row0\n"
    # AUTO_COMPRESS=False uploads as-is
    plain = wh.upload_to_internal(
        str(src / "f0.csv"), "plain", auto_compress=False
    )
    assert plain == [str(tmp_path / f"put{parallel}" / "plain" / "f0.csv")]
    # OVERWRITE=False leaves the existing staged file untouched (SKIPPED)
    (src / "f0.csv").write_text("CHANGED\n")
    skipped = wh.upload_to_internal(
        str(src / "f0.csv"), "plain", auto_compress=False, overwrite=False
    )
    assert skipped == plain
    with open(plain[0]) as fh:
        assert fh.read() == "row0\n"  # not clobbered
    # OVERWRITE=True (default) replaces it
    wh.upload_to_internal(str(src / "f0.csv"), "plain", auto_compress=False)
    with open(plain[0]) as fh:
        assert fh.read() == "CHANGED\n"


@pytest.mark.parametrize("parallel", [1, 10])
def test_get_parallel(spark, tmp_path, parallel):
    """Reference test_snowflake.py:218-248 ``GET ... PARALLEL=n``: the
    twin downloads a staged glob through an n-wide pool and returns
    deterministic match order."""
    wh = _wh(spark, tmp_path, name=f"get{parallel}")
    src = tmp_path / f"get_src_{parallel}"
    src.mkdir()
    for i in range(6):
        (src / f"g{i}.txt").write_text(f"payload {i}\n")
    wh.upload_to_internal(str(src / "*.txt"), "out", auto_compress=False)
    dl = tmp_path / f"dl{parallel}"
    got = wh.download_from_internal("out/*.txt", str(dl), parallel=parallel)
    assert [os.path.basename(p) for p in got] == [f"g{i}.txt" for i in range(6)]
    assert (dl / "g3.txt").read_text() == "payload 3\n"


# --- FILE_FORMAT permutations (reference test_snowflake.py:253-355) ---


@pytest.mark.parametrize(
    "file_type, format_options, data, delim_default",
    [
        ("csv", ["FIELD_DELIMITER=','", "SKIP_HEADER=1"], "k,v\n1,a\n2,b\n", None),
        ("csv", ["FIELD_DELIMITER='|'", "SKIP_HEADER=1"], "k|v\n1|a\n2|b\n", None),
        ("json", None, '{"k": 1, "v": "a"}\n{"k": 2, "v": "b"}\n', None),
    ],
)
def test_file_type_permutations(
    spark, tmp_path, file_type, format_options, data, delim_default
):
    """Reference test_snowflake.py:253-285 parametrizes copy over
    (file_type, format_options); the twin loads real files under each
    and checks content."""
    wh = _wh(spark, tmp_path, name=f"ft_{file_type}_{len(format_options or [])}")
    f = tmp_path / f"ft{file_type}{len(format_options or [])}.dat"
    f.write_text(data)
    df = wh.copy(
        "t_ft", str(f), delim=delim_default,
        file_type=file_type, format_options=format_options,
    )
    got = sorted((int(r[0]), str(r[1])) for r in df.select("k", "v").collect())
    assert got == [(1, "a"), (2, "b")]


def test_file_type_unknown_raises(spark, tmp_path):
    # reference test_snowflake.py:355: unknown file_type raises
    wh = _wh(spark, tmp_path)
    with pytest.raises((ValueError, DBError)):
        wh.copy("t_bad", str(tmp_path / "x.dat"), file_type="unknown")


# --- S3 url / path grammar (reference tests/test_s3.py:130,138,362) ---------


def test_parse_s3_url_reference_cases():
    """Mirror of reference test_parse_s3_url — every URL form,
    including special characters and the degenerate empties."""
    from locopy_spark.sources.stage import parse_url

    assert parse_url("s3://bucket/folder/file.txt") == (
        "bucket", "folder/file.txt",
    )
    assert parse_url("s3://bucket/folder/") == ("bucket", "folder/")
    assert parse_url("s3://bucket") == ("bucket", "")
    assert parse_url(r"s3://bucket/!@#$%\\\/file.txt") == (
        "bucket", r"!@#$%\\\/file.txt",
    )
    assert parse_url("s3://") == ("", "")
    assert parse_url("bucket/folder/file.txt") == ("bucket", "folder/file.txt")
    assert parse_url("bucket/folder/") == ("bucket", "folder/")
    assert parse_url("bucket") == ("bucket", "")
    assert parse_url(r"bucket/!@#$%\\\/file.txt") == (
        "bucket", r"!@#$%\\\/file.txt",
    )
    assert parse_url("") == ("", "")


def test_generate_s3_path_reference_cases():
    """Mirror of reference test_generate_s3_path (spaces preserved
    verbatim; the scheme is parameterized here, s3 for parity)."""
    from locopy_spark.sources.stage import generate_path

    assert generate_path("TEST", "KEY", scheme="s3") == "s3://TEST/KEY"
    assert (
        generate_path("TEST SPACE", "KEY SPACE", scheme="s3")
        == "s3://TEST SPACE/KEY SPACE"
    )
    # deviation from reference (which stringifies None -> "s3://None/
    # None"): an empty key degrades to the bucket URL — saner and
    # relied on by Stage.upload's default-key path
    assert generate_path("TEST", "", scheme="s3") == "s3://TEST"


def test_generate_unload_path_reference_cases():
    """Mirror of reference test_generate_unload_path — trailing-slash
    folder kept, non-slash folder is a PREFIX (no slash added)."""
    from locopy_spark.sources.stage import generate_unload_path

    assert generate_unload_path("TEST", "FOLDER/", scheme="s3") == "s3://TEST/FOLDER/"
    assert (
        generate_unload_path("TEST SPACE", "FOLDER SPACE/", scheme="s3")
        == "s3://TEST SPACE/FOLDER SPACE/"
    )
    assert generate_unload_path("TEST", "PREFIX", scheme="s3") == "s3://TEST/PREFIX"
    assert generate_unload_path("TEST", None, scheme="s3") == "s3://TEST"


def test_delete_list_special_chars(tmp_path):
    """Mirror of reference test_delete_list_from_s3_single_with_folder
    _and_special_chars — keys with regex-hostile characters route
    through parse_url to the right physical file."""
    from locopy_spark.sources.stage import Stage

    st = Stage(str(tmp_path / "root"))
    key = "test_folder/#$#@$dffksdojfsdf&&__test.1"
    src = tmp_path / "payload.txt"
    src.write_text("x")
    st.upload(str(src), key=key)
    assert st.list("test_folder/*") != []
    st.delete_list([key])
    assert st.list("test_folder/*") == []


# --- split_file failure cleanup (reference tests/test_utility.py:204) -------


def test_split_file_rejects_bad_splits(tmp_path):
    from locopy_spark.errors import LocopySplitError
    from locopy_spark.utility import split_file

    src = tmp_path / "mock_file.txt"
    src.write_text("a\nb\nc\nd\n")
    out = str(tmp_path / "mock_output_file.txt")
    for bad in (-1, 0, 5.65, "123", "Test"):
        with pytest.raises(LocopySplitError):
            split_file(str(src), out, bad)


def test_split_file_exception_cleans_partials(tmp_path, monkeypatch):
    """Mirror of reference test_split_file_exception: a failure mid-
    split must remove every partial output file."""
    import builtins

    from locopy_spark.errors import LocopySplitError
    from locopy_spark.utility import split_file

    src = tmp_path / "mock_file.txt"
    src.write_text("a\nb\nc\nd\n")
    out = str(tmp_path / "mock_output_file.txt")
    real_next = builtins.next

    def boom(*a, **k):
        raise Exception("SomeException")

    monkeypatch.setattr(builtins, "next", boom)
    try:
        for n in (2, 3):
            with pytest.raises(LocopySplitError):
                split_file(str(src), out, n)
            for i in range(n):
                assert not (tmp_path / f"mock_output_file.txt.{i}").exists()
    finally:
        monkeypatch.setattr(builtins, "next", real_next)


def test_concatenate_files_missing_input_raises(tmp_path):
    """Mirror of reference test_concatenate_files_exception."""
    from locopy_spark.errors import LocopyConcatError
    from locopy_spark.utility import concatenate_files

    with pytest.raises(LocopyConcatError):
        concatenate_files(
            [str(tmp_path / "no_such_file.txt")], str(tmp_path / "out.txt")
        )


def test_read_config_yaml_stream_and_errors(tmp_path):
    """Mirror of reference test_read_config_yaml_good/_io/_no_file:
    accepts an open stream, and raises CredentialsError on a missing
    path or unparsable content."""
    import io

    from locopy_spark.errors import CredentialsError
    from locopy_spark.utility import read_config_yaml

    good = "host: my.host\nport: 1234\n"
    assert read_config_yaml(io.StringIO(good)) == {
        "host": "my.host", "port": 1234,
    }
    with pytest.raises(CredentialsError):
        read_config_yaml(str(tmp_path / "no_such.yaml"))


# --- Database constructor / lifecycle (reference tests/test_database.py:50-225)


def test_database_constructor_kwargs_reference():
    """Reference test_database_constructor(_kwargs, _with_extras):
    every kwarg — named or extra — lands in ``.connection``
    verbatim."""
    from locopy_spark.database import Database

    d = Database(app_name="etl", master="local[2]", extra=123, another=321)
    assert d.connection["app_name"] == "etl"
    assert d.connection["master"] == "local[2]"
    assert d.connection["extra"] == 123
    assert d.connection["another"] == 321


def test_database_constructor_kwargs_and_yaml_raises(tmp_path):
    """Reference test_database_constructor_kwargs_and_yaml: both a
    YAML config and kwargs is a CredentialsError."""
    from locopy_spark.database import Database
    from locopy_spark.errors import CredentialsError

    y = tmp_path / "c.yml"
    y.write_text("host: host\n")
    with pytest.raises(CredentialsError):
        Database(config_yaml=str(y), app_name="etl")


def test_database_constructor_yaml_reference(tmp_path):
    """Reference test_database_constructor_yaml: the GOOD_CONFIG_YAML
    field set (typed port, arbitrary extras) round-trips into
    ``.connection``."""
    from locopy_spark.database import Database

    y = tmp_path / "c.yml"
    y.write_text(
        "host: host\nport: 1234\ndatabase: database\nuser: id\n"
        "password: pass\nother: stuff\nextra: 123\nanother: 321\n"
    )
    d = Database(config_yaml=str(y))
    assert d.connection["host"] == "host"
    assert d.connection["port"] == 1234
    assert d.connection["user"] == "id"
    assert d.connection["password"] == "pass"
    assert d.connection["other"] == "stuff"
    assert d.connection["extra"] == 123
    assert d.connection["another"] == 321


def test_is_connected_lifecycle(spark):
    """Reference test_is_connected: False before connect, True when a
    session is attached, False again when the handle is gone (the
    reference's ``del b.conn`` probe)."""
    from locopy_spark.database import Database

    d = Database()
    assert d._is_connected() is False
    d2 = Database(spark=spark)
    assert d2._is_connected() is True
    d2.spark = None
    assert d2._is_connected() is False


def test_disconnect_no_conn_reference():
    """Reference test_disconnect_no_conn: disconnecting a
    never-connected instance is a no-op, not an error."""
    from locopy_spark.database import Database

    Database().disconnect()


def test_execute_no_connection_reference():
    """Reference test_execute_no_connection_exception: execute on a
    closed connection raises DBError."""
    from locopy_spark.database import Database
    from locopy_spark.errors import DBError

    with pytest.raises(DBError):
        Database().execute("SELECT 1")


def test_execute_sql_exception_reference(spark):
    """Reference test_execute_sql_exception: engine-level SQL
    failures surface as DBError."""
    from locopy_spark.database import Database
    from locopy_spark.errors import DBError

    with pytest.raises(DBError):
        Database(spark=spark).execute(
            "SELECT * FROM definitely_missing_table_xyz"
        )
