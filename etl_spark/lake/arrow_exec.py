"""Driver-side execution for small batches: the Arrow half of the lake.

A commit whose rows are already on the driver as a ``pyarrow.Table`` (the
pipeline's Arrow ingest tier, or a caller of ``SnapshotTable.merge_epochs``
passing one) is staged here instead of by a Spark write.
:func:`stage` writes the same layout ``SnapshotTable._stage_bucketed``
does — ``_staging-<uuid>/_bucket=<b>/`` files, bucket-pure, key-sorted,
at most ``target_file_rows`` rows each, in the session's codec — and
returns the same ``(staging, infos)``, so everything after staging (the
per-bucket plan, the stale filter, promote, manifest link and lineage)
is shared with the Spark path.

Writer settings, chosen so an Arrow file is no larger than Spark's: the
session's codec at Arrow's default level (zstd 1, which on the change
stream's content compresses better than parquet-mr's 3), no Arrow schema
in the footer (Spark reads by its own manifest schema), statistics only
where the engine or a reader's pruning uses them (every non-string
column, and the key and order columns), and dictionary encoding only on
string columns where it pays (at most half the values distinct) —
parquet-mr falls back from dictionary pages the same way.
"""

from __future__ import annotations

import os
import uuid
from pathlib import Path
from typing import Any

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from etl_spark.lake import buckethash

# column types the Arrow writer emits as Spark writes them and Spark reads
# back unchanged; anything else (timestamps, decimals, nested types) stays
# on the Spark writer
_WRITABLE_TYPES = (
    T.StringType, T.BinaryType, T.BooleanType, T.ByteType, T.ShortType,
    T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DateType,
)


def writable(schema: T.StructType, placement_cols: tuple[str, ...]) -> bool:
    """True if rows of ``schema`` can be staged by :func:`stage`: every
    column type is writable and every placement column hashable on the
    driver."""
    return all(
        isinstance(f.dataType, _WRITABLE_TYPES) for f in schema.fields
    ) and all(
        buckethash.rows_hashable(schema[c].dataType) for c in placement_cols
    )


def align(tbl: pa.Table, target: pa.Schema) -> pa.Table:
    """``tbl`` in ``target``'s column order and types, as Spark reads a
    file under the manifest schema: a column the file predates reads as
    nulls and a narrower type widens (Spark's INT96 timestamps, read as
    naive nanoseconds, become the schema's UTC microseconds)."""
    return pa.Table.from_arrays(
        [
            tbl.column(f.name).cast(f.type) if f.name in tbl.column_names
            else pa.nulls(tbl.num_rows, f.type)
            for f in target
        ],
        schema=target,
    )


def _same_as_previous(col: pa.ChunkedArray) -> np.ndarray:
    """Row i (i >= 1) equals row i-1, nulls equal to nulls."""
    a, b = col.slice(1), col.slice(0, len(col) - 1)
    eq = pc.or_(
        pc.fill_null(pc.equal(a, b), False),
        pc.and_(pc.is_null(a), pc.is_null(b)),
    )
    return eq.to_numpy(zero_copy_only=False)


def latest_per_key(
    tbl: pa.Table, key_cols: tuple[str, ...], order_col: str
) -> pa.Table:
    """One row per key (null-safe): the row with the greatest
    ``order_col``, a null order losing to any value — the latest-wins
    dedupe of the Spark plans. Rows tied on the order are identical
    re-deliveries, so either may win. Returns the rows sorted by key."""
    n = tbl.num_rows
    if n < 2:
        return tbl
    idx = pc.sort_indices(
        tbl,
        sort_keys=[(k, "ascending") for k in key_cols]
        + [(order_col, "descending")],
        null_placement="at_end",
    )
    tbl = tbl.take(idx)
    dup = np.ones(n - 1, dtype=bool)
    for k in key_cols:
        dup &= _same_as_previous(tbl.column(k))
    return tbl.filter(pa.array(np.concatenate([[True], ~dup])))


def _write_options(tbl: pa.Table, stats_cols: set[str], codec: str) -> dict:
    strings = {
        f.name for f in tbl.schema
        if pa.types.is_string(f.type) or pa.types.is_binary(f.type)
    }
    dictionary = [
        c for c in strings
        if 2 * pc.count_distinct(tbl.column(c)).as_py() <= tbl.num_rows
    ]
    return {
        "store_schema": False,
        "write_statistics": [
            c for c in tbl.column_names
            if c not in strings or c in stats_cols
        ],
        "use_dictionary": dictionary,
        "compression": "none" if codec in ("none", "uncompressed") else codec,
    }


def stage(
    table, tbl: pa.Table, schema: T.StructType,
    rows: dict[str, pa.Table] | None = None,
) -> tuple[Path, list[dict[str, Any]]]:
    """Write ``tbl`` (one row per key) as ``table``'s staged files: rows
    bucketed by :func:`buckethash.bucket_rows` over the placement columns,
    sorted by key within each bucket (nulls first, as Spark sorts), split
    every ``target_file_rows`` rows and written with the session's parquet
    codec under ``schema``'s types. Returns ``(staging, infos)`` as
    ``SnapshotTable._stage_bucketed`` does, with footer stats taken from
    the metadata the writer produced. ``rows``, when given, receives each
    staged file's rows by path, so the commit can answer key probes and
    the stale filter from memory."""
    from concurrent.futures import ThreadPoolExecutor

    tbl = align(tbl, to_arrow_schema(schema))
    buckets = buckethash.bucket_rows(
        [tbl.column(c) for c in table.placement_cols],
        [schema[c].dataType for c in table.placement_cols],
        table.n_buckets,
    )
    order = pc.sort_indices(
        tbl.append_column("_bucket", pa.array(buckets)),
        sort_keys=[("_bucket", "ascending")]
        + [(k, "ascending") for k in table.key_cols],
        null_placement="at_start",
    ).to_numpy()
    tbl = tbl.take(order)
    buckets = buckets[order]
    codec = table.spark.conf.get(
        "spark.sql.parquet.compression.codec", "snappy"
    ).lower()
    staging = table.root / f"_staging-{uuid.uuid4().hex}"
    step = max(1, int(table.target_file_rows))
    parts: list[tuple[int, Path, pa.Table]] = []
    starts = np.flatnonzero(np.diff(buckets, prepend=-1)).tolist()
    starts.append(len(buckets))
    for lo, hi in zip(starts, starts[1:]):
        b = int(buckets[lo])
        (staging / f"_bucket={b}").mkdir(parents=True)
        for i, s in enumerate(range(lo, hi, step)):
            name = f"part-{i:05d}-{uuid.uuid4().hex}.parquet"
            parts.append((b, staging / f"_bucket={b}" / name,
                          tbl.slice(s, min(step, hi - s))))
    stats_cols = {*table.key_cols, table.order_col}

    def write_one(part):
        bucket, path, chunk = part
        meta: list = []
        pq.write_table(
            chunk, path, metadata_collector=meta,
            **_write_options(chunk, stats_cols, codec),
        )
        key_stats, order_stats = table._footer_stats(meta[0])
        return {
            "path": str(path),
            "bucket": bucket,
            "rows": chunk.num_rows,
            "bytes": os.stat(path).st_size,
            "key_stats": key_stats,
            "order_stats": order_stats,
        }

    if len(parts) <= 16:
        infos = [write_one(p) for p in parts]
    else:
        with ThreadPoolExecutor(max_workers=16) as ex:
            infos = list(ex.map(write_one, parts))
    if rows is not None:
        for info, (_, _, chunk) in zip(infos, parts):
            rows[info["path"]] = chunk
    return staging, infos
