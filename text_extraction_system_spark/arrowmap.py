"""The one idiom for crossing the Python boundary.

Every Python kernel runs as ``mapInArrow`` through one of three helpers,
so how Python values become Arrow batches is decided here and nowhere
else:

* ``map_rows(df, fn, schema)`` — ``fn(*row)`` yields 0..n output rows
  (tuples in ``schema`` order, or dicts keyed by field name); pyarrow
  builds every column (strings, lists, structs) from those rows in one
  ``pa.array`` call per batch.
* ``append_column(df, name, dtype, fn, *cols)`` — ``fn`` gets the batch's
  ``cols`` values as Python lists and returns one value per row; the result
  is appended to the batch, so the columns it does not read never leave
  Arrow.
* ``map_batches(df, fn, schema)`` — ``fn`` is a generator over the task's
  batches, each a tuple of ``df``'s columns as Python lists, and yields
  tuples of output columns (numpy arrays or lists) in ``schema`` order: the
  shape of whole-column numpy kernels (coordinate maps, similarity scoring,
  quantizer assignment) and of per-task partial results.

No pandas conversion anywhere: ``mapInPandas`` cannot carry nested struct
columns without per-row object Series, and a single vectorized pass keeps
the UDF boundary one cost (CIDR 2022, "Accelerating Python UDFs in
Vectorized Query Execution"). Only these helpers install the per-task hook
below, decode input columns and build output against the nullable schema.

The boundary also has a fixed cost per task that no kernel causes. Before
each task, pyspark's worker (``worker_util.setup_spark_files``) calls
``importlib.invalidate_caches()``, and on CPython before 3.13 that makes
every ``zipimporter`` re-read its archive's whole directory. A reused
worker holds 12 importers on ``pyspark.zip`` (1,328 entries, 12.5 ms a
read) and 2 on the ``spark-core`` jar (5,359 entries, 51 ms a read): about
0.25 s of worker CPU per task on CPython 3.11.7 (4-core host), while the
JVM task thread waits on the worker's socket. ``guard_zip_rereads``,
called at the top of each helper's batch generator, makes that
re-read conditional on the archive's ``(st_mtime_ns, st_size)`` having
changed since its last read. A trivial 4-task ``map_rows`` stage (4,000
rows, local[4], median of 10 warm writes) went from 0.43 s to 0.21 s; the
same stage without Python takes 0.06-0.09 s. The first task in a fresh
worker still pays once, as its caches are invalidated before the kernel is
unpickled. Do not measure this cost with the JVM's "time to initialize
Python workers" task metric: it reads larger than the task's own duration.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport
from collections.abc import Callable, Iterable, Iterator
from itertools import repeat

from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: archive path -> its ``(st_mtime_ns, st_size)`` when its directory was
#: last read through ``_guarded_invalidate`` (None: it could not be stat'ed)
_ZIP_STAMPS: dict[str, tuple[int, int] | None] = {}
#: the interpreter's own ``zipimporter.invalidate_caches`` (a full re-read)
_zip_reread: Callable | None = None


def _guarded_invalidate(self) -> None:
    """``zipimporter.invalidate_caches``, re-reading the archive only when
    its stamp differs from the one at its last read. An unchanged archive
    hands every importer on it the shared directory from that read."""
    try:
        st = os.stat(self.archive)
        stamp = st.st_mtime_ns, st.st_size
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _ZIP_STAMPS.get(self.archive) == stamp:
        self._files = files
        return
    _zip_reread(self)
    _ZIP_STAMPS[self.archive] = stamp


def guard_zip_rereads() -> None:
    """Install ``_guarded_invalidate`` as ``zipimporter.invalidate_caches``
    in this process, once. A no-op on CPython 3.13+, whose importers
    re-read lazily."""
    global _zip_reread
    zi = zipimport.zipimporter
    if sys.version_info >= (3, 13) or zi.invalidate_caches is _guarded_invalidate:
        return
    _zip_reread = zi.invalidate_caches
    zi.invalidate_caches = _guarded_invalidate


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
        guard_zip_rereads()
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
        guard_zip_rereads()
        for batch in batches:
            def build():
                values = fn(*(_pylist(batch.column(i)) for i in idx))
                return pa.array(values, type=field.type)

            yield batch.append_column(field, _paused_gc(build))

    return df.mapInArrow(
        gen, schema=T.StructType(df.schema.fields + [T.StructField(name, dtype)])
    )


def map_batches(
    df: DataFrame,
    fn: Callable[[Iterator[tuple]], Iterator[tuple]],
    schema: T.StructType | str,
) -> DataFrame:
    """``fn(batches)`` over each task's non-empty batches: every batch is a
    tuple of ``df``'s columns (in order) as Python lists, and ``fn`` yields
    tuples of output columns, numpy arrays or lists in ``schema`` order, any
    number per task. ``schema`` is a StructType or DDL string; the output is
    that schema made nullable."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    out_schema = _nullable(schema)
    arrow_schema = to_arrow_schema(out_schema)

    def gen(batches):
        guard_zip_rereads()
        decoded = (
            tuple(_pylist(c) for c in batch.columns) for batch in batches if batch.num_rows
        )
        for cols in fn(decoded):
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    return df.mapInArrow(gen, schema=out_schema)
