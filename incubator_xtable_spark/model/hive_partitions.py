"""Hive-style partition directories (``col=value`` path segments): the one
parser every reader and writer of such paths goes through.

Reference parity: parquet/ParquetConversionSource.java:88-260 (a Parquet
directory's partition values come from its file paths). The rules are
Spark's partition discovery, so a table reads back the values and types
``spark.read.option("basePath", base).parquet(...)`` gives:

- segments are walked from the file's directory up to the base path; a
  non-``col=value`` directory below the first partition segment is
  skipped, one above it ends the walk;
- names and values are unescaped per ``%XX`` code (one char per code, as
  Spark's ``unescapePathName``), and ``__HIVE_DEFAULT_PARTITION__`` is null;
- a column's type is the widest of its values' inferred types, tried in
  order int, long, decimal, double, date, timestamp, else string.
"""

from __future__ import annotations

import datetime
import re
from typing import Optional

from pyspark.sql import types as T

from incubator_xtable_spark.model.files_diff import relativize

DEFAULT_PARTITION_NAME = "__HIVE_DEFAULT_PARTITION__"

_ESCAPED = re.compile(r"%([0-9A-Fa-f]{2})")
_INT = re.compile(r"[+-]?\d+")
# java.math.BigDecimal(String): digits, an optional point, an optional exponent
_BIG_DECIMAL = re.compile(r"[+-]?(\d*)(?:\.(\d*))?(?:[eE]([+-]?\d+))?")
# java.lang.Double.parseDouble, after its trim of chars <= ' '
_DOUBLE = re.compile(
    r"[+-]?(?:NaN|Infinity|(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?[fFdD]?"
    r"|0[xX](?:[0-9a-fA-F]+\.?[0-9a-fA-F]*|\.[0-9a-fA-F]+)[pP][+-]?[0-9]+[fFdD]?)"
)
_JAVA_WHITESPACE = "".join(map(chr, range(33)))
_DATE = re.compile(r"[0-9]{4}-[0-9]{2}-[0-9]{2}")
# the partition timestamp pattern yyyy-MM-dd HH:mm:ss[.S]
_TIMESTAMP = re.compile(r"[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{2}:[0-9]{2}:[0-9]{2}(?:\.[0-9])?")
_MAX_DECIMAL_PRECISION = 38


def unescape_path_name(s: str) -> str:
    return _ESCAPED.sub(lambda m: chr(int(m.group(1), 16)), s)


def _walk(rel_dir: str) -> tuple[str, list[tuple[str, str]]]:
    """(where the walk stopped, [(unescaped name, raw value)] in path
    order) for a directory relative to the base path."""
    segs = [s for s in rel_dir.split("/") if s and s != "."]
    cols: list[tuple[str, str]] = []
    i = len(segs)
    while i > 0:
        name, eq, raw = segs[i - 1].partition("=")
        if not eq:
            if cols:
                break
        else:
            if not name:
                raise ValueError(f"Empty partition column name in {segs[i - 1]!r}")
            if not raw:
                raise ValueError(f"Empty partition column value in {segs[i - 1]!r}")
            cols.append((unescape_path_name(name), raw))
        i -= 1
    # with no partition segment, a file's directory is its own base
    stop = "/".join(segs[:i]) if cols else "/".join(segs)
    return stop, cols[::-1]


def _value(raw: str) -> Optional[str]:
    return None if raw == DEFAULT_PARTITION_NAME else unescape_path_name(raw)


def partition_values(rel_dir: str) -> dict[str, Optional[str]]:
    """The partition values of the files in ``rel_dir`` (a directory
    relative to the table's base path)."""
    return {name: _value(raw) for name, raw in _walk(rel_dir)[1]}


def _infer_type(raw: str) -> T.DataType:
    if raw == DEFAULT_PARTITION_NAME:
        return T.NullType()
    if _INT.fullmatch(raw):
        v = int(raw)
        if -(2**31) <= v < 2**31:
            return T.IntegerType()
        if -(2**63) <= v < 2**63:
            return T.LongType()
    m = _BIG_DECIMAL.fullmatch(raw)
    if m and (m.group(1) or m.group(2)):
        frac = m.group(2) or ""
        scale = len(frac) - int(m.group(3) or 0)
        if scale <= 0:
            unscaled = (m.group(1) + frac).lstrip("0") or "0"
            precision = len(unscaled) - scale
            if precision <= _MAX_DECIMAL_PRECISION:
                return T.DecimalType(precision, 0)
    if _DOUBLE.fullmatch(raw.strip(_JAVA_WHITESPACE)):
        return T.DoubleType()
    if _DATE.fullmatch(raw):
        try:
            datetime.date.fromisoformat(raw)
            return T.DateType()
        except ValueError:
            pass
    ts = unescape_path_name(raw)
    if _TIMESTAMP.fullmatch(ts):
        try:
            datetime.datetime.strptime(ts[:19], "%Y-%m-%d %H:%M:%S")
            return T.TimestampType()
        except ValueError:
            pass
    return T.StringType()


_INTEGRAL_AS_DECIMAL = {T.IntegerType(): 10, T.LongType(): 20}


def _wider(a: T.DataType, b: T.DataType) -> T.DataType:
    """Spark's wider type of two partition value types, string when they
    have none (TypeCoercion without string promotion)."""
    if a == b:
        return a
    if isinstance(a, T.NullType):
        return b
    if isinstance(b, T.NullType):
        return a
    pair = {type(a), type(b)}
    if pair == {T.IntegerType, T.LongType}:
        return T.LongType()
    if pair <= {T.IntegerType, T.LongType, T.DoubleType}:
        return T.DoubleType()
    if pair <= {T.IntegerType, T.LongType, T.DecimalType}:
        precision = max(
            t.precision if isinstance(t, T.DecimalType) else _INTEGRAL_AS_DECIMAL[t] for t in (a, b)
        )
        return T.DecimalType(min(precision, _MAX_DECIMAL_PRECISION), 0)
    if pair == {T.DateType, T.TimestampType}:
        return T.TimestampType()
    return T.StringType()


def infer_partitions(
    paths: list[str], base_path: str
) -> tuple[T.StructType, list[dict[str, Optional[str]]]]:
    """(partition schema, each file's partition values) for data files
    under ``base_path``. Raises where Spark's discovery does: files at
    different directory depths, or different partition column lists."""
    walks = [_walk(relativize(p, base_path).rpartition("/")[0]) for p in paths]
    partitioned = [cols for _, cols in walks if cols]
    if not partitioned:
        return T.StructType([]), [{} for _ in paths]
    stops = {stop.lower() for stop, _ in walks}
    if len(stops) > 1:
        raise ValueError(
            f"Conflicting directory structures detected under {base_path}: "
            + ", ".join(sorted(s or "." for s in stops))
        )
    names = {tuple(n for n, _ in cols) for cols in partitioned}
    if len(names) > 1:
        raise ValueError(f"Conflicting partition column names detected: {sorted(names)}")
    columns = next(iter(names))
    fields = []
    for i, name in enumerate(columns):
        distinct = dict.fromkeys(cols[i][1] for cols in partitioned)
        dtype: T.DataType = T.NullType()
        for raw in distinct:
            dtype = _wider(dtype, _infer_type(raw))
        fields.append(T.StructField(name, dtype, True))
    schema = T.StructType(fields)
    return schema, [{name: _value(raw) for name, raw in cols} for _, cols in walks]
