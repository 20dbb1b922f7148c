"""The Arrow-stage contract (operators/arrowio.py), driven directly on
lists of RecordBatches — no Spark session."""

import pathlib
import re

import numpy as np
import pyarrow as pa
import pytest

from ukis_pysat_spark import codec
from ukis_pysat_spark.operators import arrowio

OUT = pa.schema(
    [
        ("image_id", pa.string()),
        ("band", pa.int32()),
        ("px", pa.binary()),
        ("transform", pa.list_(pa.float64())),
    ]
)


def _images(n: int, offset: int = 0) -> pa.RecordBatch:
    arrs = [np.full((2, 3, 4), i, dtype=np.uint16) for i in range(offset, offset + n)]
    return pa.RecordBatch.from_pydict(
        {
            "image_id": [f"img{i}" for i in range(offset, offset + n)],
            "bytes": [codec.encode(a, "raw") for a in arrs],
            "transform": [[1.0, 0.0, float(i), 0.0, -1.0, 0.0] for i in range(offset, offset + n)],
        }
    )


def _band_rows(row):
    arr = codec.decode(row["bytes"])
    for b in range(arr.shape[0]):
        yield {
            "image_id": row["image_id"],
            "band": b,
            "px": codec.encode_chunks(arr[b : b + 1], "raw"),
            "transform": row["transform"],
        }


def _collect(out) -> pa.Table:
    batches = list(out)
    return pa.Table.from_batches(batches, schema=OUT)


def test_empty_input_and_zero_row_batches_yield_nothing():
    stage = arrowio.rows(_band_rows, OUT)
    assert list(stage(iter([]))) == []
    assert list(stage(iter([_images(0), _images(3).slice(0, 0)]))) == []


def test_rows_round_trip_payloads_and_scalars():
    t = _collect(arrowio.rows(_band_rows, OUT)([_images(3)]))
    assert t.num_rows == 6
    assert t.column("image_id").to_pylist() == ["img0", "img0", "img1", "img1", "img2", "img2"]
    assert t.column("band").to_pylist() == [0, 1] * 3
    for i, p in enumerate(t.column("px").to_pylist()):
        a = codec.decode(p)
        assert a.shape == (1, 3, 4) and (a == i // 2).all()
    assert t.column("transform").to_pylist()[2] == [1.0, 0.0, 1.0, 0.0, -1.0, 0.0]


def test_sliced_and_chunked_binary_input():
    full = _images(8)
    parts = [full.slice(0, 3), full.slice(3, 1), full.slice(4, 4)]
    parts += pa.Table.from_batches([_images(4, offset=8)]).to_batches(max_chunksize=3)
    t = _collect(arrowio.rows(_band_rows, OUT)(parts))
    ids = t.column("image_id").to_pylist()
    assert ids == [f"img{i}" for i in range(12) for _ in range(2)]
    vals = [int(codec.decode(p)[0, 0, 0]) for p in t.column("px").to_pylist()]
    assert vals == [i for i in range(12) for _ in range(2)]


def test_flush_splits_on_byte_and_row_bounds(monkeypatch):
    payload = len(codec.encode(np.zeros((1, 3, 4), np.uint16), "raw"))
    monkeypatch.setattr(arrowio, "FLUSH_BYTES", 3 * payload)
    out = list(arrowio.rows(_band_rows, OUT)([_images(4)]))
    assert [b.num_rows for b in out] == [3, 3, 2]
    monkeypatch.setattr(arrowio, "FLUSH_BYTES", 64 << 20)
    monkeypatch.setattr(arrowio, "FLUSH_ROWS", 5)
    out = list(arrowio.rows(_band_rows, OUT)([_images(4)]))
    assert [b.num_rows for b in out] == [5, 3]
    assert pa.Table.from_batches(out).column("band").to_pylist() == [0, 1] * 4


def test_int32_offset_guard_raises(monkeypatch):
    assert arrowio.MAX_PAYLOAD_BYTES == (1 << 31) - 1
    monkeypatch.setattr(arrowio, "MAX_PAYLOAD_BYTES", 100)
    with pytest.raises(ValueError, match="2 GiB"):
        list(arrowio.rows(_band_rows, OUT)([_images(2)]))


def test_two_payload_inputs_and_several_binary_outputs():
    a, b = _images(3), _images(3, offset=5)
    inp = pa.RecordBatch.from_arrays(
        [a.column("image_id"), a.column("bytes"), b.column("bytes")],
        names=["image_id", "bytes_a", "bytes_b"],
    )
    schema = pa.schema(
        [("image_id", pa.string()), ("diff", pa.binary()), ("n", pa.int64()),
         ("raw_b", pa.binary())]
    )

    def row_fn(row):
        assert isinstance(row["bytes_a"], pa.Buffer) and isinstance(row["bytes_b"], pa.Buffer)
        d = codec.decode(row["bytes_b"]).astype(np.int64) - codec.decode(row["bytes_a"])
        yield {"image_id": row["image_id"], "diff": d, "n": d.size, "raw_b": row["bytes_b"]}

    t = pa.Table.from_batches(list(arrowio.rows(row_fn, schema)([inp])))
    assert t.column("n").to_pylist() == [24] * 3
    for p in t.column("diff").to_pylist():
        assert (np.frombuffer(p, np.int64) == 5).all()
    assert t.column("raw_b").to_pylist() == b.column("bytes").to_pylist()


def test_packed_payloads_and_vector_chunks():
    schema = pa.schema([("k", pa.string()), ("i", pa.int32()), ("p", pa.binary())])

    def row_fn(row):
        yield {"k": row["image_id"], "i": np.arange(3),
               "p": arrowio.Packed(np.arange(6, dtype=np.uint8), 2)}
        yield {"k": "empty", "i": np.arange(0),  # a chunk of zero rows
               "p": arrowio.Packed(np.zeros(0, np.uint8), np.zeros(0, np.int64))}
        yield {"k": ["x", "y"], "i": [7, 8],
               "p": arrowio.Packed(np.array([9, 9, 9], np.uint8), np.array([1, 2]))}

    t = pa.Table.from_batches(list(arrowio.rows(row_fn, schema)([_images(1)])))
    assert t.column("k").to_pylist() == ["img0"] * 3 + ["x", "y"]
    assert t.column("i").to_pylist() == [0, 1, 2, 7, 8]
    assert t.column("p").to_pylist() == [b"\x00\x01", b"\x02\x03", b"\x04\x05", b"\x09", b"\x09\x09"]


def test_chunk_length_mismatch_raises():
    schema = pa.schema([("a", pa.int64()), ("b", pa.float64())])
    stage = arrowio.rows(lambda row: [{"a": [1, 2], "b": np.zeros(3)}], schema)
    with pytest.raises(ValueError, match="rows"):
        list(stage([_images(1)]))


def test_views_and_per_partition_state():
    lists = pa.array([[1, 2], [], [3]], type=pa.list_(pa.int64()))
    inp = pa.RecordBatch.from_arrays([pa.array(["a", "b", "c"]), lists], names=["k", "v"])
    schema = pa.schema([("k", pa.string()), ("v", pa.int64()), ("seen", pa.int64())])

    class View:
        def __init__(self, col):
            self.offs = col.offsets.to_numpy()
            self.vals = col.values.to_numpy()

        def __getitem__(self, ri):
            return self.vals[self.offs[ri] : self.offs[ri + 1]]

    def factory():
        seen = []

        def row_fn(row):
            seen.append(row["k"])
            yield {"k": row["k"], "v": row["v"], "seen": len(seen)}

        return row_fn

    stage = arrowio.rows(factory, schema, views={"v": View}, per_partition=True)
    for _ in range(2):  # state is fresh per partition
        t = pa.Table.from_batches(list(stage([inp])))
        assert t.column("k").to_pylist() == ["a", "a", "c"]
        assert t.column("v").to_pylist() == [1, 2, 3]
        assert t.column("seen").to_pylist() == [1, 1, 3]


def test_chunked_accumulates_to_chunk_rows(monkeypatch):
    monkeypatch.setattr(arrowio, "CHUNK_ROWS", 4)
    sizes = []

    def table_fn(tbl):
        sizes.append(tbl.num_rows)
        yield from tbl.to_batches()

    batches = [_images(3), _images(0), _images(2), _images(1)]
    out = list(arrowio.chunked(batches, table_fn))
    assert sizes == [5, 1]
    assert sum(b.num_rows for b in out) == 6


def test_ddl_matches_declared_schema_for_every_type():
    from pyspark.sql.pandas.types import from_arrow_schema

    types = list(arrowio._DDL) + [pa.list_(t) for t in arrowio._DDL if t != pa.binary()]
    schema = pa.schema([(f"c{i}", t) for i, t in enumerate(types)])
    expected = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in from_arrow_schema(schema)
    )
    assert arrowio.ddl(schema) == expected


def test_map_in_arrow_only_in_arrowio():
    """Every Python stage runs through arrowio.run; the one exception is
    dedup's segmented hamming verify, whose buffering is rewritten
    separately (ROADMAP open item #5c)."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "ukis_pysat_spark"
    found = {}
    for path in sorted(pkg.rglob("*.py")):
        n = len(re.findall(r"\.mapInArrow\(", path.read_text()))
        if n:
            found[path.relative_to(pkg).as_posix()] = n
    assert found == {"operators/arrowio.py": 1, "operators/dedup.py": 1}
