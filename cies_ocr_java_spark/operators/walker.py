"""One Arrow-batched harness for every binary format walker.

A walker is a pure ``parse(blob: bytes | None)`` function plus one
``map_blobs`` call. The parse returns a dict (one output row) or a list
of dicts (zero or more rows); ``map_blobs`` owns the batch loop, the id
column and the pandas dtypes, which it derives once on the driver from
the walker's DDL schema:

- the first field is the document id, shipped as int64;
- ``int`` becomes nullable ``Int32``, ``bigint`` nullable ``Int64``;
- every other type (string, double, array, map, ...) is a plain list;
- a key a row dict leaves out is null, so an error row can be
  ``{"error": msg}``.

The degradation contract stays with the parse functions: each one turns
malformed input into an ``error`` value, never an exception.
"""
from __future__ import annotations

from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.types import _parse_datatype_string

_DTYPES = {T.IntegerType: "Int32", T.LongType: "Int64"}


def blob_columns(schema: T.StructType) -> tuple[str, list]:
    """(id column name, [(name, pandas dtype or None), ...]) for a
    walker schema; None means the values go through as a plain list."""
    id_field, *fields = schema.fields
    return id_field.name, [(f.name, _DTYPES.get(type(f.dataType)))
                           for f in fields]


def blob_frame(ids: list, rows: list, id_name: str,
               cols: list) -> pd.DataFrame:
    """One output batch: ``ids[k]`` is the document of ``rows[k]``."""
    out = {id_name: pd.array(ids, dtype="int64")}
    for k, dt in cols:
        vals = [r.get(k) for r in rows]
        out[k] = pd.array(vals, dtype=dt) if dt else vals
    return pd.DataFrame(out)


def map_blobs(df: DataFrame, parse: Callable, schema: str,
              id_col: str = "doc_id",
              content_col: str = "content") -> DataFrame:
    """(id, content:binary) -> ``parse`` rows under the DDL ``schema``, in
    one mapInPandas pass with no shuffle."""
    id_name, cols = blob_columns(_parse_datatype_string(schema))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, rows = [], []
            for i, b in zip(pdf[id_col], pdf[content_col]):
                r = parse(None if b is None else bytes(b))
                for row in [r] if isinstance(r, dict) else r:
                    ids.append(i)
                    rows.append(row)
            yield blob_frame(ids, rows, id_name, cols)

    return df.select(id_col, content_col).mapInPandas(op, schema)


def rows_or_error(parse: Callable) -> Callable:
    """Adapt a ``parse(blob) -> (rows, err)`` walker to ``map_blobs``: one
    all-null row carrying ``err``, or the rows with a null error."""
    def run(b):
        rows, err = parse(b)
        if err is not None:
            return {"error": err}
        return [{**r, "error": None} for r in rows]
    return run
