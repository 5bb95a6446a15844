import gzip
import os

import pytest

from locopy_spark.errors import (
    LocopyConcatError,
    LocopyIgnoreHeaderError,
    LocopySplitError,
)
from locopy_spark.utility import (
    compress_file,
    compress_file_list,
    concatenate_files,
    get_ignoreheader_number,
    read_config_yaml,
    split_file,
    write_file,
)


def test_write_and_split_roundtrip(tmp_path):
    src = tmp_path / "in.txt"
    write_file([[i, f"r{i}"] for i in range(10)], "|", str(src))
    parts = split_file(str(src), str(tmp_path / "out.txt"), splits=3)
    assert len(parts) == 3
    lines = []
    for p in parts:
        lines += open(p).read().splitlines()
    assert sorted(lines) == sorted(f"{i}|r{i}" for i in range(10))


def test_split_ignore_header(tmp_path):
    src = tmp_path / "in.txt"
    src.write_text("h1|h2\n1|a\n2|b\n")
    parts = split_file(str(src), str(tmp_path / "o.txt"), splits=2, ignore_header=1)
    content = "".join(open(p).read() for p in parts)
    assert "h1" not in content and "1|a" in content


def test_split_invalid():
    with pytest.raises(LocopySplitError):
        split_file("x", "y", splits=0)


def test_compress_and_concat(tmp_path):
    a = tmp_path / "a.txt"
    a.write_text("hello\n")
    gz = tmp_path / "a.txt.gz"
    compress_file(str(a), str(gz))
    assert gzip.open(str(gz)).read() == b"hello\n"
    b = tmp_path / "b.txt"
    b.write_text("world\n")
    out = tmp_path / "cat.txt"
    concatenate_files([str(a), str(b)], str(out))
    assert out.read_text() == "hello\nworld\n"
    assert not a.exists()  # removed as we go


def test_concat_empty():
    with pytest.raises(LocopyConcatError):
        concatenate_files([], "out")


def test_compress_list(tmp_path):
    f = tmp_path / "f.txt"
    f.write_text("x")
    out = compress_file_list([str(f)])
    assert out == [str(f) + ".gz"] and os.path.exists(out[0]) and not f.exists()


def test_compress_list_pooled(tmp_path):
    """More files than pool workers: outputs in input order, each
    gunzips to its original bytes, originals removed, no temp left."""
    import random

    from locopy_spark.utility import _usable_cpus

    rng = random.Random(7)
    files, payloads = [], []
    for i in range(2 * _usable_cpus() + 3):
        f = tmp_path / f"part.{i}"
        payloads.append(
            b"".join(
                b"%d|%d|%s\n" % (i, rng.randrange(10**6), b"ab" * rng.randrange(40))
                for _ in range(rng.randrange(1, 2000))
            )
        )
        f.write_bytes(payloads[-1])
        files.append(str(f))
    out = compress_file_list(files)
    assert out == [f + ".gz" for f in files]
    for gz, payload in zip(out, payloads):
        with gzip.open(gz) as fh:
            assert fh.read() == payload
    assert not any(os.path.exists(f) for f in files)
    assert sorted(os.listdir(tmp_path)) == sorted(os.path.basename(g) for g in out)


def test_compress_missing_input_raises(tmp_path):
    from locopy_spark.errors import CompressionError

    with pytest.raises(CompressionError):
        compress_file(str(tmp_path / "nope"), str(tmp_path / "nope.gz"))
    ok = tmp_path / "ok.txt"
    ok.write_text("x\n")
    with pytest.raises(CompressionError):
        compress_file_list([str(ok), str(tmp_path / "missing.txt")])
    # the failed list removes no original and leaves no partial output
    assert sorted(os.listdir(tmp_path)) == ["ok.txt", "ok.txt.gz"]


def test_load_and_copy_splits_compressed(spark, tmp_path):
    """load_and_copy(splits=3, compress=True): the three gzipped parts
    are staged and every row loads."""
    from locopy_spark.warehouse import Warehouse

    wh = Warehouse(spark=spark, stage_root=str(tmp_path / "stage"))
    wh.connect()
    raw = tmp_path / "raw.csv"
    rows = [(i, f"v{i}") for i in range(100)]
    raw.write_text("k|v\n" + "".join(f"{k}|{v}\n" for k, v in rows))
    df = wh.load_and_copy(
        str(raw), "lac3", "t_lac3", delim="|",
        copy_options=["IGNOREHEADER 1"], splits=3, compress=True,
        schema="k INT, v STRING",
    )
    assert sorted((r.k, r.v) for r in df.collect()) == rows
    assert sorted(os.listdir(tmp_path / "stage" / "lac3")) == [
        f"raw.csv.{i}.gz" for i in range(3)
    ]
    assert sorted(os.listdir(tmp_path)) == ["raw.csv", "stage"]


def test_ignoreheader_parsing():
    assert get_ignoreheader_number([]) == 0
    assert get_ignoreheader_number(["IGNOREHEADER 2"]) == 2
    assert get_ignoreheader_number(["IGNOREHEADER AS 3"]) == 3
    with pytest.raises(LocopyIgnoreHeaderError):
        get_ignoreheader_number(["IGNOREHEADER 1", "IGNOREHEADER 2"])


def test_read_config_yaml(tmp_path):
    y = tmp_path / "c.yml"
    y.write_text("app_name: test\nshuffle_partitions: 4\n")
    cfg = read_config_yaml(str(y))
    assert cfg == {"app_name": "test", "shuffle_partitions": 4}


def test_get_logger_idempotent():
    """Repeated calls never stack duplicate handlers."""
    import logging

    from locopy_spark.logger import get_logger

    lg1 = get_logger("locopy_spark.t", logging.DEBUG)
    lg2 = get_logger("locopy_spark.t", logging.WARNING)
    assert lg1 is lg2
    assert len(lg1.handlers) == 1
    assert lg1.level == logging.WARNING


def test_progress_percentage(tmp_path, capsys):
    from locopy_spark.utility import ProgressPercentage

    f = tmp_path / "payload.bin"
    f.write_bytes(b"x" * 100)
    cb = ProgressPercentage(str(f))
    cb(40)
    cb(60)
    out = capsys.readouterr().out
    assert "100.00%" in out and str(f) in out


def test_get_maxerror_number():
    from locopy_spark.errors import DBError
    from locopy_spark.sources.options import parse_copy_options

    assert parse_copy_options([]).max_error is None
    assert parse_copy_options(["IGNOREHEADER 1"]).max_error is None
    assert parse_copy_options(["MAXERROR 10"]).max_error == 10
    assert parse_copy_options(["maxerror as 7"]).max_error == 7
    import pytest

    with pytest.raises(DBError):
        parse_copy_options(["MAXERROR 1", "MAXERROR 2"])
    # exact-token match: an unrelated option sharing the prefix is
    # not swallowed
    assert parse_copy_options(["MAXERRORX 5"]).max_error is None
    # malformed count raises DBError, not a bare ValueError
    with pytest.raises(DBError):
        parse_copy_options(["MAXERROR"])
    with pytest.raises(DBError):
        parse_copy_options(["MAXERROR AS"])
