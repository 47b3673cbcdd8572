"""Generic split-parallel record reader: the Spark analog of the reference's
Arrow-stream table function.

The reference's scan pipeline (SURVEY §3.1) is: bind-time schema → per-scan
Arrow record-batch stream → host engine pulls batches. Here: driver plans
file splits (splits.py) → ``mapInArrow`` over ``spark.range`` runs a
per-split parser on the executors, yielding Arrow batches directly into
Tungsten — columnar end-to-end, no driver data path. Range partition *i*
holds only id *i*: one task per split, no shuffle, rows in split order.

A format plugs in one generator function: parse(split) -> iterator of
record dicts. ``make_reader`` handles batching into Arrow and the Spark
plumbing.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from itertools import islice
from typing import Any

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from exon_duckdb_spark.sources.splits import (
    FileSplit,
    open_maybe_compressed,
    plan_splits,
)

# Mirror the reference's Arrow batch size order-of-magnitude; bigger batches
# amortize Python-side overhead (the reference used 2048 because DuckDB's
# vector size is 2048 — Tungsten has no such constraint).
BATCH_ROWS = 8192

ParseFn = Callable[[FileSplit], Iterator[dict[str, Any]]]


def _to_arrow_schema(schema: T.StructType) -> pa.Schema:
    return pa.schema(pa.field(f.name, _arrow_type(f.dataType), f.nullable) for f in schema.fields)


def _arrow_type(dt: T.DataType) -> pa.DataType:
    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.FloatType):
        return pa.float32()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.BooleanType):
        return pa.bool_()
    if isinstance(dt, T.BinaryType):
        return pa.binary()
    if isinstance(dt, T.ArrayType):
        return pa.list_(_arrow_type(dt.elementType))
    if isinstance(dt, T.MapType):
        return pa.map_(_arrow_type(dt.keyType), _arrow_type(dt.valueType))
    if isinstance(dt, T.StructType):
        return pa.struct(
            [pa.field(f.name, _arrow_type(f.dataType), f.nullable) for f in dt.fields]
        )
    raise TypeError(f"unsupported type for arrow conversion: {dt}")


def make_reader(
    spark: SparkSession,
    path: str | list[str],
    schema: T.StructType,
    parse: ParseFn,
    compression: str | None = "auto_detect",
    splittable: bool = True,
    split_bytes: int | None = None,
    splits: list[FileSplit] | None = None,
) -> DataFrame:
    """Build a DataFrame from a per-split parser function.

    ``parse`` runs on executors; it receives a FileSplit and yields dicts
    keyed by schema column names. Records must be those *starting* in the
    split (the parser handles boundary scan-ahead itself). ``splits``
    overrides the default planning — region queries pass the index's chunk
    ranges (sources/indexes.py).
    """
    if splits is None:
        kwargs = {} if split_bytes is None else {"split_bytes": split_bytes}
        splits = plan_splits(path, compression, splittable=splittable, **kwargs)
    arrow_schema = _to_arrow_schema(schema)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            for i in b.column("id").to_pylist():
                yield from record_batches(parse(splits[i]), arrow_schema)

    return spark.range(0, len(splits), 1, max(len(splits), 1)).mapInArrow(run, schema)


def record_batches(
    records: Iterable[dict[str, Any]], schema: pa.Schema
) -> Iterator[pa.RecordBatch]:
    """Arrow batches of at most BATCH_ROWS rows from parser record dicts
    (a key missing from a record is NULL)."""
    it = iter(records)
    while rows := list(islice(it, BATCH_ROWS)):
        arrays = [pa.array([r.get(f.name) for r in rows], type=f.type) for f in schema]
        yield pa.RecordBatch.from_arrays(arrays, schema=schema)


def read_split_lines(split: FileSplit) -> Iterator[bytes]:
    """All lines of a whole-file split (compressed or unsplittable formats)."""
    with open_maybe_compressed(split.path, split.compression) as f:
        yield from f
