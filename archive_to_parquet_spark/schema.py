"""Canonical output schema of the engine.

Mirrors the reference's static Arrow schema (reference src/batch.rs:21-34):
``(source: utf8, path: utf8, size: u64, hash: fixed_size_binary(32),
content: large_binary)``, all NOT NULL — with two deliberate mappings:

- ``size`` is Spark ``LongType`` (Spark has no unsigned 64-bit type; file
  sizes are far below 2^63, documented narrowing — SURVEY.md §1.1).
- ``hash`` is ``BinaryType`` with a by-construction length-32 invariant
  (Spark has no fixed-size binary).

We additionally persist ``format`` (the reference's derived ``FormatKind``,
reference src/anyreader/format.rs:87-107) because it is cheap and strictly
more queryable; the strict 5-column reference layout is a ``select`` away.
"""

from __future__ import annotations

import functools

from pyspark.sql import types as T

HASH_SIZE = 32  # SHA-256 output length (reference src/hasher.rs:3)

# FormatKind enum (reference src/anyreader/format.rs:87-107).
FORMAT_KINDS = (
    "gzip",
    "zstd",
    "bzip2",
    "xz",
    "zip",
    "tar",
    "executable",
    "unknown",
)

# The canonical entries table (reference src/batch.rs:21-34 + format).
ENTRY_SCHEMA = T.StructType(
    [
        T.StructField("source", T.StringType(), nullable=False),
        T.StructField("path", T.StringType(), nullable=False),
        T.StructField("size", T.LongType(), nullable=False),
        T.StructField("hash", T.BinaryType(), nullable=False),
        T.StructField("content", T.BinaryType(), nullable=False),
        T.StructField("format", T.StringType(), nullable=False),
    ]
)

# The byte-compatible reference projection (no format column).
REFERENCE_COLUMNS = ("source", "path", "size", "hash", "content")

# Every other spelling of the table derives from ENTRY_SCHEMA.
ENTRY_COLUMNS = tuple(ENTRY_SCHEMA.fieldNames())


def entry_columns(columns: tuple[str, ...] | None = None) -> tuple[str, ...]:
    """``columns`` in canonical table order (all of them for None),
    however the subset was spelled."""
    return tuple(c for c in ENTRY_COLUMNS if columns is None or c in columns)


def entry_ddl(columns: tuple[str, ...] | None = None) -> str:
    """DDL of the (projected) table, the mapInArrow output schema. A DDL
    string declares every column nullable, as Arrow batches are."""
    return ", ".join(
        f"{c} {ENTRY_SCHEMA[c].dataType.simpleString()}"
        for c in entry_columns(columns)
    )


@functools.lru_cache(maxsize=None)  # keys: the 2^6 column subsets at most
def entry_arrow_schema(columns: tuple[str, ...] | None = None):
    """Arrow schema of the (projected) table, types from Spark's own
    Spark → Arrow mapping (string / int64 / binary)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    return pa.schema(
        [(c, to_arrow_type(ENTRY_SCHEMA[c].dataType)) for c in entry_columns(columns)]
    )
