"""``te_versioned``: transactional writer data source (Python
DataSource API, write side).

The read-side Python source (``te_region``) covered acquisition;
this covers the OTHER half of the API surface: a
:class:`~pyspark.sql.datasource.DataSourceWriter` whose task/commit
protocol drives the manifest-versioned table layer
(:mod:`trendengine_spark.tablelog`):

- each task writes its partition to an immutable uniquely-named
  parquet file in the table's ``data/`` pool (invisible until
  committed) and returns the file name as its
  :class:`WriterCommitMessage`;
- ``commit`` (driver-side, runs ONCE after every task succeeded)
  publishes one atomic manifest naming exactly the committed files —
  Spark's job-level commit protocol becomes the table's version
  commit, so a failed/speculated/retried task can never leak partial
  output into a visible version;
- ``abort`` deletes the staged files.

The commit follows the table layer's one rule: the next manifest is a
fold over the head manifest, linked at head + 1 and re-folded on the
winner's manifest if a concurrent writer took that slot.
``mode('append')`` folds the previous version's file list into the
new manifest (no data rewrite); ``mode('overwrite')`` publishes only
the new files as the next version — either way old versions remain
readable (time travel) until vacuum.

Usage::

    df.write.format("te_versioned").mode("append").save(path)
    read_versioned(spark, path)            # newest committed version
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceWriter,
    WriterCommitMessage,
)
from pyspark.sql import types as T

from trendengine_spark.tablelog import _DATA_DIR, _publish


@dataclass
class _FileMessage(WriterCommitMessage):
    name: str | None  # None = empty partition, nothing staged


_ARROW_TYPES = {
    T.LongType: "int64",
    T.IntegerType: "int32",
    T.DoubleType: "float64",
    T.FloatType: "float32",
    T.StringType: "string",
    T.BooleanType: "bool",
}


class VersionedWriter(DataSourceWriter):
    def __init__(self, options, schema, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("te_versioned requires a save path")
        self.schema = schema
        self.overwrite = overwrite
        os.makedirs(os.path.join(self.path, _DATA_DIR), exist_ok=True)

    # executor-side: one immutable file per non-empty partition
    def write(self, iterator):
        import pyarrow as pa
        import pyarrow.parquet as pq

        rows = list(iterator)
        if not rows:
            return _FileMessage(None)
        names = [f.name for f in self.schema.fields]
        cols = {n: [r[i] for r in rows] for i, n in enumerate(names)}
        arrays = []
        for f in self.schema.fields:
            at = _ARROW_TYPES.get(type(f.dataType))
            if at is not None:
                arrays.append(pa.array(cols[f.name], type=at))
            elif isinstance(f.dataType, T.TimestampType):
                arrays.append(
                    pa.array(cols[f.name], type=pa.timestamp("us"))
                )
            else:
                arrays.append(pa.array(cols[f.name]))
        table = pa.Table.from_arrays(arrays, names=names)
        name = f"{uuid.uuid4().hex}.parquet"
        pq.write_table(table, os.path.join(self.path, _DATA_DIR, name))
        return _FileMessage(name)

    # driver-side, once, only after all tasks succeeded: THE commit
    def commit(self, messages):
        new_files = [m.name for m in messages if m and m.name]
        _publish(self.path, {"": new_files}, append=not self.overwrite)

    def abort(self, messages):
        for m in messages:
            if m and m.name:
                try:
                    os.remove(os.path.join(self.path, _DATA_DIR, m.name))
                except OSError:
                    pass


class VersionedSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "te_versioned"

    def writer(self, schema: T.StructType, overwrite: bool):
        return VersionedWriter(self.options, schema, overwrite)
