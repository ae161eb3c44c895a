"""Row → Arrow builder of ``operators.util.map_rows`` on plain pyarrow
batches: no Spark session, no job."""

from __future__ import annotations

import math

import pyarrow as pa
from pyspark.sql import types as T

from trendengine_spark.operators.multimodal import MEDIA_META
from trendengine_spark.operators.util import arrow_rows, map_rows


class _Captured:
    """Stands in for a DataFrame: keeps the function ``map_rows``
    hands to ``mapInArrow`` so it can run on local batches."""

    def mapInArrow(self, fn, schema):
        self.fn, self.schema = fn, schema
        return self


def _run(row_fn, schema, batches):
    return list(map_rows(_Captured(), row_fn, schema).fn(iter(batches)))


def test_nan_is_written_as_null():
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    b = arrow_rows([(1, 0.5), (2, math.nan), (3, None)], schema)
    assert b.column("v").to_pylist() == [0.5, None, None]
    assert b.column("v").null_count == 2
    assert b.column("k").type == pa.int64()


def test_nested_media_meta_struct_from_tuples():
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("media_meta", MEDIA_META),
        ]
    )
    b = arrow_rows(
        [(7, ("image", "png", 20, 21, None)), (8, ("video", "avi", 16, 16, 3000))], schema
    )
    meta = b.column("media_meta")
    assert meta.type.num_fields == 5
    assert meta.type.field("width").type == pa.int32()
    assert meta.to_pylist() == [
        {"media_type": "image", "format": "png", "width": 20, "height": 21, "duration_ms": None},
        {"media_type": "video", "format": "avi", "width": 16, "height": 16, "duration_ms": 3000},
    ]


def test_binary_payloads_round_trip():
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("media", T.BinaryType())]
    )
    payloads = [b"\x89PNG\r\n\x1a\n\x00", b"", None]
    b = arrow_rows(list(zip(range(3), payloads)), schema)
    assert b.column("media").type == pa.binary()
    assert b.column("media").to_pylist() == payloads


def test_batch_yielding_no_rows_keeps_schema():
    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("gray", T.IntegerType())]
    )
    src = pa.RecordBatch.from_pydict({"doc_id": [1, 2], "n": [0, 0]})
    (out,) = _run(lambda doc_id, n: [(doc_id, 0)] * n, schema, [src])
    assert out.num_rows == 0
    assert out.schema.names == ["doc_id", "gray"]
    assert out.schema.field("gray").type == pa.int32()


def test_one_row_fans_out_to_many():
    """Frames and tiles: a row yields a variable number of rows; each
    input batch maps to one output batch, rows in input order."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    def frames(doc_id, n):
        for i in range(n):
            yield (doc_id, i, bytes([doc_id, i]))

    batches = [
        pa.RecordBatch.from_pydict({"doc_id": [1, 2, 3], "n": [3, 0, 2]}),
        pa.RecordBatch.from_pydict({"doc_id": [4], "n": [1]}),
    ]
    out = _run(frames, schema, batches)
    assert [b.num_rows for b in out] == [5, 1]
    first = out[0].to_pydict()
    assert first["doc_id"] == [1, 1, 1, 3, 3]
    assert first["frame_idx"] == [0, 1, 2, 0, 1]
    assert first["frame"][4] == bytes([3, 1])
    assert out[1].to_pydict() == {"doc_id": [4], "frame_idx": [0], "frame": [bytes([4, 0])]}
