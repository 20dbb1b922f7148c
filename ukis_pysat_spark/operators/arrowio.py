"""The engine's one Arrow-stage contract: every row-wise Python stage
runs through this module, and it is the only code that calls
``mapInArrow`` (the dedup segmented verify aside).

A stage is a row function plus the output ``pa.schema`` it declares
once; the Spark DDL handed to ``mapInArrow`` is derived from that
schema (:func:`ddl`).

Input (:func:`rows`): per Arrow batch, small columns convert to Python
lists once; every binary column reaches the row as a zero-copy
``pyarrow.Buffer`` view, however many there are.  A column named in
``views`` is wrapped once per batch by its factory and indexed per row,
so nested list columns stay Arrow for the stages that read them in
place.

Output (:class:`PayloadBuf`): the row function yields chunks, dicts of
output column -> value.  A value is either one value repeated over the
chunk's rows (a scalar, or a list for a list-typed column) or one value
per row (a list, numpy array or pyarrow Array).  A binary column takes
one payload — bytes-like, a numpy array, or a tuple of parts such as
``codec.encode_chunks`` returns — or :class:`Packed` payloads laid end
to end.  Each binary column is built from one (offsets, values) buffer
pair: no per-row bytes objects, and for raw payloads no copy before the
flush.

Flush: an output batch leaves once it holds FLUSH_BYTES of payload or
FLUSH_ROWS rows, independent of the input batch size, so worker memory
stays flat however large the images are; a binary column past the
int32-offset limit raises instead of wrapping.

Stages that vectorize over many rows at once (the exact refines of the
spatial join) accumulate their input with :func:`chunked` instead.
"""

from __future__ import annotations

import itertools
from typing import Callable, Iterable, Iterator, NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

FLUSH_BYTES = 64 << 20  # payload bytes per output batch
FLUSH_ROWS = 1 << 20  # rows per output batch
MAX_PAYLOAD_BYTES = (1 << 31) - 1  # pa.binary() carries int32 offsets
CHUNK_ROWS = 1 << 16  # input rows per call of a chunked stage

# the engine's images table; 'bytes' is the payload column
IMAGES_SCHEMA = pa.schema(
    [
        ("image_id", pa.string()),
        ("bytes", pa.binary()),
        ("w", pa.int32()),
        ("h", pa.int32()),
        ("fmt", pa.string()),
        ("caption", pa.string()),
        ("phash", pa.int64()),
        ("bands", pa.int32()),
        ("dtype", pa.string()),
        ("crs", pa.string()),
        ("transform", pa.list_(pa.float64())),
        ("nodata", pa.float64()),
        ("footprint_lon", pa.list_(pa.float64())),
        ("footprint_lat", pa.list_(pa.float64())),
        ("platform", pa.string()),
    ]
)
META_COLS = IMAGES_SCHEMA.names
# a raster product's payload + grid metadata (no catalog columns)
RASTER_SCHEMA = pa.schema(
    [IMAGES_SCHEMA.field(n) for n in
     ("image_id", "bytes", "w", "h", "fmt", "bands", "dtype", "crs", "transform", "nodata")]
)

_DDL = {
    pa.string(): "string",
    pa.binary(): "binary",
    pa.int32(): "int",
    pa.int64(): "bigint",
    pa.float64(): "double",
}


def _ddl_type(t: pa.DataType) -> str:
    if pa.types.is_list(t):
        return f"array<{_ddl_type(t.value_type)}>"
    return _DDL[t]


def ddl(schema: pa.Schema) -> str:
    """Spark DDL of a declared Arrow schema."""
    return ", ".join(f"`{f.name}` {_ddl_type(f.type)}" for f in schema)


StageFn = Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]


def run(df: DataFrame, stage: StageFn, schema: pa.Schema) -> DataFrame:
    """Run a stage function as ONE mapInArrow emitting `schema`."""
    return df.mapInArrow(stage, schema=ddl(schema))


def map_rows(
    df: DataFrame,
    row_fn: Callable,
    schema: pa.Schema,
    views: dict | None = None,
    per_partition: bool = False,
) -> DataFrame:
    """``run(df, rows(...))``: the row-wise stage over every row of df."""
    return run(df, rows(row_fn, schema, views, per_partition), schema)


class Packed(NamedTuple):
    """n payloads laid end to end in one uint8 array; `sizes` is one
    size shared by every payload or an array of per-payload sizes."""

    values: np.ndarray
    sizes: int | np.ndarray


def _u8(v) -> np.ndarray:
    if isinstance(v, np.ndarray):
        return np.ascontiguousarray(v).view(np.uint8).reshape(-1)
    return np.frombuffer(v, dtype=np.uint8)


def _payloads(v) -> tuple[list, int | np.ndarray, int]:
    """(uint8 chunks, size, 1) of one payload, or (chunks, sizes, n) of
    n Packed payloads."""
    if isinstance(v, Packed):
        data = _u8(v.values)
        if isinstance(v.sizes, np.ndarray):
            sizes = v.sizes.astype(np.int64, copy=False)
        else:
            sizes = np.full(data.size // v.sizes, v.sizes, np.int64)
        return [data], sizes, sizes.size
    data = [_u8(p) for p in v] if isinstance(v, tuple) else [_u8(v)]
    return data, sum(d.size for d in data), 1


_SCALAR, _NUMPY, _LIST, _ARROW = range(4)


def _kind(v, list_typed: bool) -> int:
    if isinstance(v, pa.Array):
        return _ARROW
    if list_typed:
        return _SCALAR
    if isinstance(v, np.ndarray):
        return _NUMPY
    return _LIST if isinstance(v, list) else _SCALAR


class PayloadBuf:
    """Output rows of one declared schema, appended chunk by chunk and
    flushed as ONE RecordBatch (the module docstring lists the chunk
    values it accepts)."""

    def __init__(self, schema: pa.Schema) -> None:
        self.schema = schema
        # per-field flags as plain lists: pa.Schema iteration builds a
        # wrapper object per field, which per chunk costs more than the
        # append itself
        self.names = schema.names
        self.binary = [pa.types.is_binary(t) for t in schema.types]
        self.list_typed = [pa.types.is_list(t) for t in schema.types]
        self._reset()

    def _reset(self) -> None:
        self.kinds: list[list] = [[] for _ in self.names]  # per chunk
        self.vals: list[list] = [[] for _ in self.names]  # per chunk
        self.counts: list[int] = []  # rows per chunk
        self.n = 0
        self.nbytes = 0

    def add(self, chunk: dict) -> None:
        n = None
        cols = zip(self.names, self.binary, self.list_typed, self.kinds, self.vals)
        for name, b, lt, kinds, vals in cols:
            v = chunk[name]
            if b:
                data, sizes, k = _payloads(v)
                vals.append((data, sizes))
                self.nbytes += sum(d.size for d in data)
            else:
                kind = _kind(v, lt)
                kinds.append(kind)
                vals.append(v)
                k = None if kind == _SCALAR else len(v)
            if k is not None and k != n:
                if n is not None:
                    raise ValueError(f"chunk column {name!r} has {k} rows, expected {n}")
                n = k
        n = 1 if n is None else n  # an empty chunk adds no row
        self.counts.append(n)
        self.n += n

    def flush(self) -> pa.RecordBatch:
        arrays = [
            _binary(vals, self.n) if b else _column(kinds, vals, self.counts, t)
            for kinds, vals, t, b in zip(self.kinds, self.vals, self.schema.types, self.binary)
        ]
        self._reset()
        return pa.RecordBatch.from_arrays(arrays, schema=self.schema)


def _column(kinds: list, vals: list, counts: list, typ: pa.DataType) -> pa.Array:
    """One Arrow column from per-chunk values: runs of scalars build one
    array (repeated over each chunk's rows by take), runs of numpy
    columns one concatenate."""
    segs, i = [], 0
    for kind, grp in itertools.groupby(kinds):
        j = i + sum(1 for _ in grp)
        run = vals[i:j]
        if kind == _SCALAR:
            seg = pa.array(run, type=typ)
            ks = counts[i:j]
            if ks.count(1) != len(ks):
                seg = seg.take(np.repeat(np.arange(len(run)), ks))
            segs.append(seg)
        elif kind == _NUMPY:
            segs.append(pa.array(np.concatenate(run), type=typ))
        elif kind == _LIST:
            segs.append(pa.array([x for v in run for x in v], type=typ))
        else:
            segs.extend(v.cast(typ) for v in run)
        i = j
    if not segs:
        return pa.array([], type=typ)
    return segs[0] if len(segs) == 1 else pa.concat_arrays(segs)


def _binary(parts: list, n: int) -> pa.Array:
    """One binary column over one (offsets, values) buffer pair."""
    lengths = np.concatenate([np.zeros(0, np.int64)] + [np.atleast_1d(s) for _, s in parts])
    if int(lengths.sum()) > MAX_PAYLOAD_BYTES:
        raise ValueError(
            "output batch exceeds 2 GiB of payload in one binary column "
            "(a single input row's payloads must fit one batch)"
        )
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    values = np.concatenate([np.zeros(0, np.uint8)] + [d for data, _ in parts for d in data])
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(values)]
    )


def _rows_of(batch: pa.RecordBatch, views: dict) -> Iterator[dict]:
    getters = []
    for field in batch.schema:
        col = batch.column(field.name)
        if field.name in views:
            getters.append(views[field.name](col).__getitem__)
        elif pa.types.is_binary(field.type):
            getters.append(lambda ri, col=col: col[ri].as_buffer())
        else:
            getters.append(col.to_pylist().__getitem__)
    names = batch.schema.names
    for ri in range(batch.num_rows):
        yield {n: g(ri) for n, g in zip(names, getters)}


def rows(
    row_fn: Callable,
    schema: pa.Schema,
    views: dict | None = None,
    per_partition: bool = False,
) -> StageFn:
    """The stage function of a row-wise stage: ``row_fn(row)`` yields
    output chunks for each input row (a dict, see the module
    docstring).  With ``per_partition``, `row_fn` is a zero-argument
    factory called once per partition (for caches that outlive a
    batch) that returns the row function."""
    views = views or {}

    def stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        fn = row_fn() if per_partition else row_fn
        buf = PayloadBuf(schema)
        for batch in batches:
            if not batch.num_rows:
                continue
            for row in _rows_of(batch, views):
                for chunk in fn(row):
                    buf.add(chunk)
                    if buf.nbytes >= FLUSH_BYTES or buf.n >= FLUSH_ROWS:
                        yield buf.flush()
        if buf.n:
            yield buf.flush()

    return stage


def chunked(
    batches: Iterable[pa.RecordBatch],
    table_fn: Callable[[pa.Table], Iterable[pa.RecordBatch]],
) -> Iterator[pa.RecordBatch]:
    """Accumulate input batches into tables of at least CHUNK_ROWS rows
    and yield from ``table_fn(table)`` once per table.  Stages whose
    rows are tiny (refine candidates) pay per call, not per row, so
    they run over large chunks regardless of the session's Arrow batch
    size."""
    buf: list[pa.RecordBatch] = []
    n = 0
    for batch in batches:
        if not batch.num_rows:
            continue
        buf.append(batch)
        n += batch.num_rows
        if n >= CHUNK_ROWS:
            yield from table_fn(pa.Table.from_batches(buf))
            buf, n = [], 0
    if buf:
        yield from table_fn(pa.Table.from_batches(buf))
