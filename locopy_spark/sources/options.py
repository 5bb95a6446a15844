"""One grammar for COPY, UNLOAD and FILE_FORMAT option strings.

locopy hands Redshift COPY/UNLOAD options and Snowflake FILE_FORMAT
``name=value`` options to the warehouse verbatim (reference:
locopy/redshift.py:47-71,193,349; locopy/snowflake.py:268,339). Here
the engine applies them itself, so each option string is read once, by
:func:`split_option`, into one typed record per call
(:class:`CopyOptions` or :class:`UnloadOptions`):

* keywords are case-insensitive and take an optional ``AS`` or ``=``
  before the value (``IGNOREHEADER 1``, ``ignoreheader as 1``,
  ``SKIP_HEADER=1``);
* a value is one single-quoted string, spaces kept
  (``TIMEFORMAT 'YYYY-MM-DD HH24:MI:SS'``, ``DELIMITER ' '``), or the
  bare words after the keyword (``MAXFILESIZE 100 MB``);
* a keyword that sets a record field may appear once per call; a
  repeated or malformed one raises an error naming the option —
  ``LocopyIgnoreHeaderError`` for IGNOREHEADER, ``DBError`` otherwise;
* an unknown COPY option warns and passes through (the reference
  forwards it to the warehouse); an unknown UNLOAD or FILE_FORMAT
  option raises.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field, fields

from locopy_spark.errors import DBError, LocopyIgnoreHeaderError
from locopy_spark.logger import get_logger

logger = get_logger(__name__)

# a quoted value, the "=" separator, a bare word; a lone quote is an
# unterminated value
_TOKEN = re.compile(r"'[^']*'|=|[^\s=']+|'")


def split_option(opt: str) -> tuple[str, str]:
    """Return ``(KEYWORD, value)`` of one option string: the keyword
    upper-cased; the value without a leading ``AS``/``=`` and without
    the quotes of a single quoted value, ``""`` when absent."""
    toks = _TOKEN.findall(opt)
    if not toks or "'" in toks:
        raise DBError(f"Malformed option: {opt!r}")
    key, rest = toks[0].upper(), toks[1:]
    if rest and rest[0].upper() in ("AS", "="):
        rest = rest[1:]
    if len(rest) == 1 and rest[0].startswith("'"):
        return key, rest[0][1:-1]
    return key, " ".join(rest)


# Redshift datetime-format tokens → Java SimpleDateTimeFormatter
# (longest-first so MON doesn't half-match inside MONTH etc.)
_RS_TIME_TOKENS = [
    ("YYYY", "yyyy"), ("YY", "yy"), ("MON", "MMM"), ("MM", "MM"),
    ("DD", "dd"), ("HH24", "HH"), ("HH12", "hh"), ("HH", "HH"),
    ("MI", "mm"), ("SS", "ss"), ("AM", "a"), ("PM", "a"),
]


def redshift_dateformat_to_java(fmt: str) -> str:
    """Translate a Redshift DATEFORMAT/TIMEFORMAT pattern
    (``'MM/DD/YYYY'`` grammar, case-insensitive tokens) to the Java
    pattern Spark's csv reader expects."""
    out: list[str] = []
    i, up = 0, fmt.upper()
    while i < len(up):
        for tok, java in _RS_TIME_TOKENS:
            if up.startswith(tok, i):
                out.append(java)
                i += len(tok)
                break
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


# value parsers: each returns the field value or raises KeyError/ValueError


def _count(value: str) -> int:
    if not value.isdigit():
        raise ValueError(value)
    return int(value)


def _text(value: str) -> str:
    if not value:
        raise ValueError(value)
    return value


def _choice(values: dict):
    """Parser of an enumerated value; ``""`` is the bare keyword."""
    return lambda value: values[value.upper()]


def _datetime(value: str) -> str | None:
    """Java pattern of a Redshift DATEFORMAT/TIMEFORMAT; None (the
    reader default) for ``'auto'``. The epoch formats have no pattern."""
    if value.lower() == "auto":
        return None
    if not value or value.lower().startswith("epoch"):
        raise ValueError(value)
    return redshift_dateformat_to_java(value)


def _megabytes(value: str) -> float:
    m = re.fullmatch(r"([0-9]*\.?[0-9]+)\s*(MB|GB)?", value, re.IGNORECASE)
    if m is None:
        raise ValueError(value)
    return float(m[1]) * (1024 if (m[2] or "").upper() == "GB" else 1)


_FORMATS = {f: f.lower() for f in ("CSV", "JSON", "PARQUET", "ORC", "AVRO")}

# file format → (UNLOAD writes it, the reader/writer options every COPY
# or UNLOAD of it gets). Spark's DataSource lookup resolves the name
# itself (case-insensitively), and a caller's reader option applied
# after these overrides one whatever its case (``rowtag``).
FILE_FORMATS: dict[str, tuple[bool, dict[str, str]]] = {
    "csv": (True, {}),
    "json": (True, {}),
    "parquet": (True, {}),
    "orc": (True, {}),
    "xml": (True, {"rowTag": "row"}),  # native since Spark 4
    "text": (False, {}),  # one row per line, column ``value``
    "binaryfile": (False, {}),  # one row per file: path, length, content
    "avro": (False, {}),  # needs the external spark-avro module
}


def file_format_options(file_format: str, statement: str) -> tuple[str, dict]:
    """The lower-cased name of a format ``statement`` (COPY or UNLOAD)
    moves, and its fixed options; a DBError naming any other."""
    fmt = file_format.lower()
    if fmt not in FILE_FORMATS or (
        statement == "UNLOAD" and not FILE_FORMATS[fmt][0]
    ):
        raise DBError(f"Unsupported {statement} file_format: {file_format!r}")
    return fmt, FILE_FORMATS[fmt][1]


# statement → keyword → (class, record field, value parser). Classes:
#   semantic — sets the record field its consumer applies
#   marker   — names the file format (``PARQUET``, ``JSON 'auto'``)
#   codec    — compression; a COPY reads it from the file extension
#   hint     — warehouse-side load tuning with no Spark analog
# COPY codecs and hints set no field: they are accepted and change
# nothing. "format" holds the Snowflake FILE_FORMAT format options.
GRAMMAR: dict[str, dict[str, tuple]] = {
    "COPY": {
        "IGNOREHEADER": ("semantic", "ignore_header", _count),
        "MAXERROR": ("semantic", "max_error", _count),
        "DATEFORMAT": ("semantic", "date_format", _datetime),
        "TIMEFORMAT": ("semantic", "time_format", _datetime),
        "DELIMITER": ("semantic", "delim", _text),
        "FORMAT": ("semantic", "file_format", _choice(_FORMATS)),
        "PURGE": ("semantic", "purge", _choice({"TRUE": True, "FALSE": False})),
        "NULL": ("semantic", "null_as", str),
        **{
            k: ("marker", "file_format", _choice({"": v, "AUTO": v}))
            for k, v in _FORMATS.items()
        },
        **dict.fromkeys(("GZIP", "BZIP2", "ZSTD", "LZOP"), ("codec", None, None)),
        **dict.fromkeys(
            (
                "COMPUPDATE", "STATUPDATE", "TRUNCATECOLUMNS", "ACCEPTINVCHARS",
                "ACCEPTANYDATE", "BLANKSASNULL", "EMPTYASNULL", "TRIMBLANKS",
                "FILLRECORD", "ROUNDEC", "ESCAPE", "REMOVEQUOTES", "ENCODING",
                "EXPLICIT_IDS", "COMPROWS", "REGION", "ENCRYPTED",
            ),
            ("hint", None, None),
        ),
    },
    "UNLOAD": {
        # PARALLEL ON is the plan's natural partitioning, OFF one file
        "PARALLEL": ("semantic", "splits", _choice(
            {"": None, "ON": None, "TRUE": None, "OFF": 1, "FALSE": 1}
        )),
        "HEADER": ("semantic", "header", _choice({"": True})),
        "GZIP": ("codec", "compression", _choice({"": "gzip"})),
        "DELIMITER": ("semantic", "delim", _text),
        "MAXFILESIZE": ("semantic", "max_file_mb", _megabytes),
    },
    "format": {
        "FIELD_DELIMITER": ("semantic", "delim", _text),
        "SKIP_HEADER": ("semantic", "ignore_header", _count),
        "COMPRESSION": ("semantic", "compression", _choice(
            {"GZIP": "gzip", "NONE": None, "AUTO": None}
        )),
    },
}


@dataclass
class CopyOptions:
    """The options of one COPY call; each default means "not given"."""

    ignore_header: int = 0
    max_error: int | None = None
    date_format: str | None = None  # Java pattern; None = reader default
    time_format: str | None = None
    delim: str | None = None  # overrides the call's delim argument
    file_format: str | None = None  # overrides the call's file_format
    compression: str | None = None  # read back from the file extension
    purge: bool = False
    null_as: str | None = None  # the csv text that loads as NULL
    unknown: list[str] = field(default_factory=list)


@dataclass
class UnloadOptions:
    """The options of one UNLOAD call; None means "not given"."""

    splits: int | None = None
    header: bool | None = None
    compression: str | None = None
    delim: str | None = None
    max_file_mb: float | None = None
    file_format: str | None = None

    def kwargs(self) -> dict:
        """The given fields, as ``sources.unload.unload`` arguments."""
        return {
            f.name: getattr(self, f.name)
            for f in fields(self)
            if getattr(self, f.name) is not None
        }


def parse_copy_options(
    copy_options: list[str] | None = None,
    file_type: str | None = None,
    format_options: list[str] | None = None,
) -> CopyOptions:
    """Read one COPY call's options: the Snowflake FILE_FORMAT
    (``file_type``, ``format_options``), then ``copy_options``."""
    return _parse(CopyOptions(), "COPY", copy_options, file_type, format_options)


def parse_unload_options(
    unload_options: list[str] | None = None,
    file_type: str | None = None,
    format_options: list[str] | None = None,
) -> UnloadOptions:
    """Read one UNLOAD call's options: the Snowflake FILE_FORMAT
    (``file_type``, ``format_options``), then ``unload_options``."""
    return _parse(
        UnloadOptions(), "UNLOAD", unload_options, file_type, format_options
    )


def _parse(record, statement, options, file_type, format_options):
    if file_type is not None:
        if file_type.upper() not in _FORMATS:
            raise DBError(
                f"Invalid file_type {file_type!r}: must be one of "
                f"{sorted(_FORMATS.values())}"
            )
        record.file_format = _FORMATS[file_type.upper()]
    seen: set[str] = set()
    _fill(record, "format", format_options, seen)
    _fill(record, statement, options, seen)
    return record


def _fill(record, statement: str, options, seen: set[str]) -> None:
    """Parse ``options`` by ``GRAMMAR[statement]`` into ``record``;
    ``seen`` holds the fields this call has set already."""
    table = GRAMMAR[statement]
    for opt in options or []:
        key, value = split_option(opt)
        if key not in table:
            if statement != "COPY":
                raise DBError(f"Unsupported {statement} option: {opt!r}")
            logger.warning(
                "COPY option %r is not recognized by this engine; "
                "accepted as pass-through (the reference would forward "
                "it to the warehouse verbatim)", opt,
            )
            record.unknown.append(opt)
            continue
        _, name, parse = table[key]
        if name is None:
            continue
        if not hasattr(record, name):
            raise DBError(f"Option {opt!r} does not apply to this call")
        err = LocopyIgnoreHeaderError if key == "IGNOREHEADER" else DBError
        if name in seen:
            raise err(f"Duplicate {key} option: {opt!r}")
        seen.add(name)
        try:
            setattr(record, name, parse(value))
        except (KeyError, ValueError) as e:
            raise err(f"Malformed {key} option: {opt!r}") from e
