"""Annotated-CSV result serialization (Flux response format).

A Flux query result is a stream of tables keyed by group key; the CSV
carries three annotation rows — ``#group`` (is the column part of the
group key), ``#datatype``, ``#default`` — then the header and data rows,
with a ``table`` index column numbering tables within the result
(public InfluxDB 2.0 annotated-CSV spec).

Memory contract: the encoder works on a result already on the driver
as Arrow columns, fetched by one ``DataFrame.toArrow()`` — one Spark
action per result, with no separate sort or count job. The driver
therefore holds one whole result. Spark's ``spark.driver.maxResultSize``
caps it, and an over-cap result fails during the fetch, before the
facade sends a status line. Tables are ordered by group key on the
driver, and the text is built and yielded in chunks of at most 1,000
rows, so the encoded body never exists whole. The string-returning
wrapper remains for small responses.
"""

from __future__ import annotations

import datetime as dt
import math
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, Row, types as T

#: data rows per yielded chunk
_CHUNK_ROWS = 1000


def _dtype(t: pa.DataType) -> str:
    """The ``#datatype`` name of an Arrow column type. Spark's
    TimestampType arrives tz-aware; TimestampNTZType, like every type
    without a Flux counterpart, is a ``string`` column."""
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_floating(t):
        return "double"
    if pa.types.is_int64(t) or pa.types.is_int32(t):
        return "long"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_timestamp(t) and t.tz is not None:
        return "dateTime:RFC3339"
    return "string"


def _fmt(v, delimiter: str = ",", datetime_format: str | None = None) -> str:
    if v is None:
        return ""
    if isinstance(v, bool):
        return "true" if v else "false"
    if hasattr(v, "isoformat"):  # datetime: naive UTC, or tz-aware from Arrow
        if isinstance(v, dt.datetime) and v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        if datetime_format == "RFC3339":
            # stock Go time.Format(RFC3339): fractional seconds dropped
            return v.strftime("%Y-%m-%dT%H:%M:%S") + "Z"
        if datetime_format == "RFC3339Nano":
            # trailing zeros trimmed, exactly Go's RFC3339Nano
            s = v.strftime("%Y-%m-%dT%H:%M:%S")
            if v.microsecond:
                s += "." + f"{v.microsecond:06d}".rstrip("0")
            return s + "Z"
        s = v.isoformat()
        return s + "Z" if "+" not in s and not s.endswith("Z") else s
    s = str(v)
    if any(c in s for c in delimiter + '"\n'):
        s = '"' + s.replace('"', '""') + '"'
    return s


def _row_value(v, t: pa.DataType):
    """An Arrow cell as ``Row`` gives it: maps as dicts, structs as Rows."""
    if v is None:
        return None
    if pa.types.is_map(t):
        return {k: _row_value(x, t.item_type) for k, x in v}
    if pa.types.is_struct(t):
        return Row(**{f.name: _row_value(v[f.name], f.type) for f in t})
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return [_row_value(x, t.value_type) for x in v]
    return v


def _cells(col: pa.ChunkedArray) -> list:
    vals = col.to_pylist()
    if pa.types.is_nested(col.type):
        vals = [_row_value(v, col.type) for v in vals]
    return vals


def _order_key(v):
    """One cell's place in Spark's ascending order: nulls first, NaN
    above every number. Python orders ``str`` by code point, which is
    the UTF-8 byte order Spark compares strings in."""
    if v is None:
        return (0,)
    if isinstance(v, float) and math.isnan(v):
        return (2,)
    return (1, v)


def iter_annotated_csv(
    data: DataFrame | pa.Table,
    group_key: tuple[str, ...] = (),
    result_name: str = "_result",
    annotations: tuple[str, ...] = ("group", "datatype", "default"),
    header: bool = True,
    table_ids: dict | None = None,
    delimiter: str = ",",
    comment_prefix: str = "#",
    datetime_format: str | None = None,
) -> Iterator[str]:
    """Encode a result as Flux annotated-CSV chunks.

    ``data`` is a result already fetched as an Arrow table; a DataFrame
    is fetched here with one ``toArrow()``. Rows are stably sorted by
    ``group_key`` in Spark's ascending order, and ``table`` numbers the
    distinct group-key values in that order (a null and the string
    ``"None"`` are different keys). ``annotations``/``header``/
    ``delimiter``/``comment_prefix``/``datetime_format`` mirror the v2
    dialect object: annotation rows are emitted only when requested,
    cells join on the dialect delimiter (values containing it get
    quoted), annotation markers use the dialect comment prefix, and
    timestamps honor RFC3339 (stock: fractional seconds dropped) vs
    RFC3339Nano (fraction with trailing zeros trimmed).
    ``datetime_format=None`` keeps the engine's lossless isoformat
    (micros kept) for internal round-trips. Pass a shared ``table_ids``
    dict to continue table numbering across multiple blocks of one
    result (datatype splits). Data rows are yielded in chunks of at
    most 1,000.
    """
    table = data.toArrow() if isinstance(data, DataFrame) else data
    d, p = delimiter, comment_prefix
    cols = table.column_names
    dtypes = [_dtype(f.type) for f in table.schema]
    head = ""
    if "group" in annotations:
        head += (
            p + "group" + d + "false" + d + "false" + d
            + d.join("true" if c in group_key else "false" for c in cols)
            + "\r\n"
        )
    if "datatype" in annotations:
        head += p + "datatype" + d + "string" + d + "long" + d + d.join(dtypes) + "\r\n"
    if "default" in annotations:
        head += p + "default" + d + result_name + d + d + d * (len(cols) - 1) + "\r\n"
    if header:
        head += d + "result" + d + "table" + d + d.join(cols) + "\r\n"
    if head:
        yield head
    n = table.num_rows
    keys = [()] * n
    if group_key:
        key_cols = [table.column(cols.index(k)).to_pylist() for k in group_key]
        keys = [tuple(map(_order_key, vals)) for vals in zip(*key_cols)]
        order = sorted(range(n), key=keys.__getitem__)
        if order != list(range(n)):
            table = table.take(order)
            keys = [keys[i] for i in order]
    if table_ids is None:
        table_ids = {}
    for off in range(0, n, _CHUNK_ROWS):
        part = table.slice(off, _CHUNK_ROWS)
        cells = [[_fmt(v, d, datetime_format) for v in _cells(c)] for c in part.columns]
        rows = zip(*cells) if cells else [()] * part.num_rows
        yield "".join(
            d + d + str(table_ids.setdefault(key, len(table_ids))) + d
            + d.join(row) + "\r\n"
            for key, row in zip(keys[off:off + _CHUNK_ROWS], rows)
        )


def to_annotated_csv(
    data: DataFrame | pa.Table,
    group_key: tuple[str, ...] = (),
    result_name: str = "_result",
) -> str:
    """Materialized convenience wrapper (small responses)."""
    return "".join(iter_annotated_csv(data, group_key, result_name))


def from_annotated_csv(spark, text: str) -> DataFrame:
    """Flux ``csv.from(csv: ...)``: parse annotated CSV back into a
    DataFrame (inverse of the writer — round-trip tested).

    Honors ``#datatype`` for column types (string/long/double/boolean/
    RFC3339 timestamps) and ``#default`` for empty ``result`` cells.
    The ``result``/``table`` bookkeeping columns are kept (Flux keeps
    them too — ``drop()`` removes them downstream). Parsing happens
    driver-side: csv.from is Flux's *literal/small-table* source (the
    bulk path is the parquet bucket store), so inputs are dashboards'
    inline tables, not data lakes.
    """
    import csv as _csv
    import datetime as dt
    import io

    dtypes: list[str] = []
    defaults: list[str] = []
    header: list[str] = []
    rows = []
    for rec in _csv.reader(io.StringIO(text)):
        if not rec or all(c == "" for c in rec):
            continue
        if rec[0] == "#group":
            continue
        if rec[0] == "#datatype":
            dtypes = rec[1:]
            continue
        if rec[0] == "#default":
            defaults = rec[1:]
            continue
        if rec[0].startswith("#"):  # unknown annotation — skip
            continue
        if not header:
            header = rec[1:]
            continue
        rows.append(rec[1:])
    if not header:
        raise ValueError("annotated CSV has no header row")

    def conv(v: str, dtype: str, default: str):
        if v == "":
            v = default
        if v == "":
            return None
        if dtype == "long":
            return int(v)
        if dtype in ("double", "unsignedLong"):
            return float(v)
        if dtype == "boolean":
            return v == "true"
        if dtype.startswith("dateTime"):
            return dt.datetime.fromisoformat(v.replace("Z", "+00:00")).replace(
                tzinfo=None
            )
        return v

    dtypes = dtypes or ["string"] * len(header)
    defaults = (defaults + [""] * len(header))[: len(header)]
    data = [
        tuple(conv(v, t, d) for v, t, d in zip(row, dtypes, defaults))
        for row in rows
    ]
    spark_types = {
        "string": T.StringType(), "long": T.LongType(), "double": T.DoubleType(),
        "boolean": T.BooleanType(), "unsignedLong": T.DoubleType(),
    }
    fields = [
        T.StructField(
            name,
            T.TimestampType() if t.startswith("dateTime")
            else spark_types.get(t, T.StringType()),
            True,
        )
        for name, t in zip(header, dtypes)
    ]
    return spark.createDataFrame(data, T.StructType(fields))
