"""The one idiom for crossing the Python boundary per row.

Every per-document Python kernel runs as ``mapInArrow`` through one of two
helpers, so how Python values become Arrow batches is decided here and
nowhere else:

* ``map_rows(df, fn, schema)`` — ``fn(*row)`` yields 0..n output rows
  (tuples in ``schema`` order, or dicts keyed by field name); pyarrow
  builds every column (strings, lists, structs) from those rows in one
  ``pa.array`` call per batch.
* ``append_column(df, name, dtype, fn, *cols)`` — ``fn`` gets the batch's
  ``cols`` values as Python lists and returns one value per row; the result
  is appended to the batch, so the columns it does not read never leave
  Arrow.

No pandas conversion anywhere: ``mapInPandas`` cannot carry nested struct
columns without per-row object Series, and a single vectorized pass keeps
the UDF boundary one cost (CIDR 2022, "Accelerating Python UDFs in
Vectorized Query Execution"). Kernels that take and return whole numpy
columns stay on ``mapInPandas``; this module is for per-row Python.
"""

from __future__ import annotations

import gc
from collections.abc import Callable, Iterable
from itertools import repeat

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _nullable(dt: T.DataType) -> T.DataType:
    """``dt`` with every field and element nullable. pyarrow builders emit
    nullable arrays; declaring the output nullable throughout (metadata
    only, no value changes) needs no non-nullable cast on the Arrow side."""
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(f.name, _nullable(f.dataType), True) for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable(dt.elementType), True)
    return dt


def _paused_gc(build: Callable):
    """Run ``build()`` with CPython's cyclic GC off. Building a batch keeps
    every row tuple alive until pyarrow converts it, and the collector
    re-scans those live objects over and over. Extraction kernel in pure
    Python over the 8,000-doc ``extract`` corpus (seed 1, 4-core host):
    this builder took 3.13 s against per-column hand-built Arrow buffers'
    2.74 s with GC on, 2.54 s vs 2.53 s with it off; pausing it per batch
    closes the gap (2.70 s vs 2.67 s, median of 15 alternating pairs)."""
    gc.disable()
    try:
        return build()
    finally:
        gc.enable()


def _pylist(arr) -> list:
    """``arr.to_pylist()``, decoded column-wise: null-free string, integer,
    float and boolean arrays go through numpy (whose ``tolist`` gives the
    same Python values), struct arrays field by field and list arrays
    through their offsets, so one boxed object is built per value rather
    than per Arrow scalar. Per 10k values (pyarrow 16.1, 4-core host) numpy
    takes 1.1 ms for large strings against ``to_pylist``'s 10.6 ms, and
    0.2 ms for int64 against 6.5 ms; one 100k-span ``list<struct>`` value
    took 1.5 s through ``to_pylist``. Arrays with nulls, and types numpy
    would change (timestamps, decimals, ...), take ``to_pylist``."""
    import pyarrow as pa

    t = arr.type
    if not len(arr):
        return []
    if arr.null_count:
        return arr.to_pylist()
    if pa.types.is_struct(t):
        names = [f.name for f in t]
        if not names or len(set(names)) < len(names):
            return arr.to_pylist()
        cols = [_pylist(c) for c in arr.flatten()]
        return list(map(dict, map(zip, repeat(names), zip(*cols))))
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        offs = arr.offsets.to_numpy().tolist()
        lo = offs[0]
        vals = _pylist(arr.values.slice(lo, offs[-1] - lo))
        return [vals[a - lo:b - lo] for a, b in zip(offs, offs[1:])]
    if (pa.types.is_string(t) or pa.types.is_large_string(t) or pa.types.is_integer(t)
            or pa.types.is_float32(t) or pa.types.is_float64(t) or pa.types.is_boolean(t)):
        return arr.to_numpy(zero_copy_only=False).tolist()
    return arr.to_pylist()


def map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable],
    schema: T.StructType | str,
) -> DataFrame:
    """One output row per row ``fn(*row)`` yields, for every row of ``df``
    (its columns in order). Rows are tuples in ``schema`` order or dicts
    keyed by field name; nested structs take either form too. ``schema``
    is a StructType or DDL string; the output is that schema made
    nullable."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    out_schema = _nullable(schema)
    row_type = pa.struct(list(to_arrow_schema(out_schema)))

    def gen(batches):
        for batch in batches:
            def build():
                cols = [_pylist(c) for c in batch.columns]
                rows = [out for row in zip(*cols) for out in fn(*row)]
                return pa.array(rows, type=row_type)

            yield pa.RecordBatch.from_struct_array(_paused_gc(build))

    return df.mapInArrow(gen, schema=out_schema)


def append_column(
    df: DataFrame,
    name: str,
    dtype: T.DataType,
    fn: Callable[..., Iterable],
    *cols: str,
) -> DataFrame:
    """``df`` plus column ``name`` of type ``dtype``: each batch gets
    ``fn(*values)``, where ``values`` are the batch's ``cols`` as Python
    lists and the result holds one value per row."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    dtype = _nullable(dtype)
    field = pa.field(name, to_arrow_type(dtype))
    idx = [df.columns.index(c) for c in cols]

    def gen(batches):
        for batch in batches:
            def build():
                values = fn(*(_pylist(batch.column(i)) for i in idx))
                return pa.array(values, type=field.type)

            yield batch.append_column(field, _paused_gc(build))

    return df.mapInArrow(
        gen, schema=T.StructType(df.schema.fields + [T.StructField(name, dtype)])
    )
