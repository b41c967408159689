"""SnapshotTable — a minimal Iceberg-shaped lakehouse table on plain parquet.

No Iceberg/Delta jars ship in this environment (verified: none under
pyspark/jars, no network), so the exactly-once MERGE sink is implemented
directly on the same design Iceberg uses, kept adapter-compatible so a real
Iceberg catalog can be slotted in where available:

- **Snapshot manifests**: ``_meta/v{N}.json`` lists the table's data files,
  schema, and summary. Readers resolve the highest committed version; writers
  commit a new manifest atomically via ``os.link`` (fails if the version
  already exists -> optimistic concurrency, like Iceberg's atomic swap).
- **Copy-on-write MERGE at FILE granularity**: rows are hash-bucketed on the
  key (``pmod(xxhash64(repo, path), n_buckets)``) and each bucket holds
  several key-clustered files of at most ``target_file_rows`` rows with
  min/max key stats in the manifest. An upsert rewrites only the files whose
  key range can contain a delta key (exact per-key probe for sparse deltas,
  range overlap otherwise) and carries everything else untouched — Iceberg's
  COW MERGE with matching file-group granularity. At 100 TB an epoch
  touching K keys rewrites O(K) files regardless of how the keys scatter
  across buckets (measured in bench.py's sparse-epoch cases).
- **Exactly-once**: each commit stamps the applied epoch id into the manifest
  summary (Iceberg: snapshot summary properties). Re-applying a committed
  epoch is a metadata-only no-op. Crash *after* data files are written but
  *before* the manifest link leaves only unreferenced orphan files — never a
  partial table (the reference heals the same window with its anti-join;
  create_duckdb_points.py:269-275 / SURVEY §2.9).
- **Additive schema evolution**: new columns widen the manifest schema; old
  files are never rewritten; readers get nulls for columns missing in old
  files (reference analog: staging schema inference, create_duckdb_points.py:
  110-113). Type changes and drops are rejected.

The deduped-upsert semantics themselves (latest commit per key wins, including
against rows already in the table) generalize the reference's
DISTINCT-ON + anti-join insert (create_duckdb_points.py:151-173).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from pathlib import Path
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from etl_spark.lake import buckethash

MANIFEST_DIR = "_meta"
DATA_DIR = "data"

# Row-level epoch PROVENANCE for streaming-written rows: batch id + this
# base. Manifest exactly-once sets track raw ids per space, but the rows'
# shared `epoch` column needs the spaces disjoint — otherwise stream batch 5
# is indistinguishable from segment epoch 5 in the change feed and in
# lineage backfill filters.
STREAM_EPOCH_BASE = 1 << 30

# CDC DELETE support: a row whose TOMBSTONE_COL is true is a tombstone — it
# competes in latest-wins like any row (so a LATE, STALE upsert re-delivered
# after the delete still loses and cannot resurrect the key), is invisible to
# read()/lookup(), stays visible in the change feed, and persists through
# compaction (physical removal would forget the delete's order and break
# out-of-order replay). merge_epochs needs no special casing: tombstones are
# ordinary rows with one extra boolean column (additive schema evolution
# introduces it on first use).
TOMBSTONE_COL = "_deleted"


def encode_epoch_ranges(epochs) -> list[list[int]]:
    """Compact an epoch set to sorted inclusive ``[lo, hi]`` ranges.

    The manifest is rewritten on every commit; storing one int per applied
    epoch would grow it to MBs at the nominal 10^6+ epochs. Ranges keep it
    O(#gaps) — a gapless history is a single ``[0, N]`` entry forever.
    """
    out: list[list[int]] = []
    for e in sorted(set(int(x) for x in epochs)):
        if out and e == out[-1][1] + 1:
            out[-1][1] = e
        else:
            out.append([e, e])
    return out


def decode_epoch_ranges(value) -> set[int]:
    """Inverse of :func:`encode_epoch_ranges`; also accepts the legacy flat
    int-list form so pre-compaction manifests stay readable."""
    s: set[int] = set()
    for item in value or []:
        if isinstance(item, (list, tuple)):
            s.update(range(int(item[0]), int(item[1]) + 1))
        else:
            s.add(int(item))
    return s


def _space_key(space: str) -> str:
    return "applied_epochs" if space == "batch" else f"applied_epochs_{space}"


def _sorted_prefixes(prefixes: list[tuple], width: int) -> list[tuple]:
    """Distinct probed prefixes in a deterministic order. None is a legal
    key value (lookup supports it), so the sort key is None-safe: Nones
    order after non-null values per position; the placeholder is never
    compared against a real value because the null flag differs first."""
    return sorted(
        set(tuple(p[:width]) for p in prefixes),
        key=lambda p: tuple((v is None, "" if v is None else v) for v in p),
    )


def _all_applied_epochs(manifest: dict[str, Any]) -> set[int]:
    """Applied epochs across ALL commit-id spaces, mapped into the row-level
    PROVENANCE domain: batch ids raw, stream ids offset by STREAM_EPOCH_BASE
    (matching the epoch values streaming writes into its rows), so change
    feeds over mixed tables never confuse stream batch N with segment epoch
    N."""
    s: set[int] = set()
    for k, v in manifest.items():
        if not k.startswith("applied_epochs"):
            continue
        ids = decode_epoch_ranges(v)
        if k == _space_key("stream"):
            ids = {e + STREAM_EPOCH_BASE for e in ids}
        s |= ids
    return s


def _stat_val(v):
    """JSON-safe scalar from a parquet column statistic (None if not)."""
    return v if isinstance(v, (str, int, float)) else None


def _footer_stats_of(
    meta, key_cols: tuple[str, ...], order_col: str
) -> tuple[dict | None, list | None]:
    """Module-level footer-stat extraction so the distributed stats path can
    ship it to executors without capturing the table handle (whose
    SparkSession does not pickle)."""
    idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}

    def col_range(name):
        ci = idx.get(name)
        if ci is None:
            return None
        lo = hi = None
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(ci).statistics
            if st is None or not st.has_min_max:
                return None
            # parquet min/max EXCLUDE nulls: a file holding null key
            # values is not fully described by its range, so it must
            # never be pruned (on either side of an intersect test)
            if st.null_count is None or st.null_count > 0:
                return None
            mn, mx = _stat_val(st.min), _stat_val(st.max)
            if mn is None or mx is None:
                return None
            lo = mn if lo is None or mn < lo else lo
            hi = mx if hi is None or mx > hi else hi
        return None if lo is None else [lo, hi]

    key_stats = {}
    for c in key_cols:
        r = col_range(c)
        if r is None:
            key_stats = None
            break
        key_stats[c] = r
    return key_stats, col_range(order_col)


def _keys_hit_file(keys: list[tuple], key_stats: dict | None,
                   key_cols: tuple[str, ...]) -> bool:
    """True if ANY probed key tuple can lie inside the file's per-column
    [min, max] stats (conservative: missing stats always hit)."""
    if key_stats is None:
        return True
    for key in keys:
        hit = True
        for c, v in zip(key_cols, key):
            if v is None:
                # parquet stats exclude nulls: a null key value can live in
                # ANY file — never prune on it
                continue
            rng = key_stats.get(c)
            if rng is None or rng[0] is None or rng[1] is None:
                continue
            if v < rng[0] or v > rng[1]:
                hit = False
                break
        if hit:
            return True
    return False


def _plan_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df`` in bytes, without a job:
    the files' bytes for a parquet scan (the mirror's change feed), and
    Spark's large default where it cannot tell (an RDD of Python rows) —
    which keeps the wide staging exchange."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _align(tbl: pa.Table, target: pa.Schema) -> pa.Table:
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


def _read_key_rows(path: str, key: dict, target: pa.Schema) -> pa.Table:
    """Rows of one parquet file whose key columns equal ``key`` (null-safe),
    aligned to ``target`` (:func:`_align`). Each key value is cast to the
    column's type IN THE FILE, so the filter compares like with like and
    row-group stats prune."""
    data = ds.dataset(path, format="parquet")
    cond = None
    for c, v in key.items():
        if v is None:
            eq = pc.field(c).is_null()
        else:
            eq = pc.field(c) == pa.scalar(v, target.field(c).type).cast(
                data.schema.field(c).type
            )
        cond = eq if cond is None else cond & eq
    return _align(data.to_table(filter=cond), target)


def _read_aligned(
    path: str, target: pa.Schema, lead: pa.Array | None = None
) -> pa.Table:
    """``target``'s columns of one parquet file, aligned (:func:`_align`).
    With ``lead``, only rows whose first ``target`` column is in ``lead``
    (nulls included when ``lead`` holds one) are read; the values are cast
    to the column's type IN THE FILE so row-group stats prune."""
    data = ds.dataset(path, format="parquet")
    cond = None
    if lead is not None:
        c = target.field(0).name
        cond = pc.field(c).isin(
            lead.drop_null().cast(data.schema.field(c).type)
        )
        if lead.null_count:
            cond = cond | pc.field(c).is_null()
    tbl = data.to_table(
        columns=[c for c in target.names if c in data.schema.names],
        filter=cond,
    )
    return _align(tbl, target)


def _stats_intersect(a: dict | None, b: dict | None) -> bool:
    """Conservative key-range overlap test between two files' per-column
    [min, max] stats. A shared key needs every key column to share a value,
    so disjointness on ANY column proves no shared key; missing stats mean
    "might intersect". Parquet writers may truncate string stats, but
    truncated bounds are still outer bounds, so the test stays conservative.
    """
    if a is None or b is None:
        return True
    for c, (alo, ahi) in a.items():
        rng = b.get(c)
        if rng is None or alo is None or ahi is None:
            continue
        blo, bhi = rng
        if blo is None or bhi is None:
            continue
        if ahi < blo or bhi < alo:
            return False
    return True


def _delta_files_by_bucket(entries: list[dict]) -> dict[str, int]:
    """Per-bucket live MOR delta-file counts over a list of file entries.
    Keys are stringified bucket ids (the rollup is persisted as JSON);
    buckets holding no deltas are absent."""
    out: dict[str, int] = {}
    for e in entries:
        if e.get("kind") == "delta":
            b = str(e["bucket"])
            out[b] = out.get(b, 0) + 1
    return out


class SchemaEvolutionError(ValueError):
    pass


class LayoutDriftError(RuntimeError):
    """The table was rebucketed after this handle attached — a write planned
    under the old bucket scheme would commit corrupt clustering. Re-attach
    (construct a fresh SnapshotTable) and retry. Typed so callers (the
    streaming re-attach path) never match on message prose."""


class StagedRefExistsError(RuntimeError):
    """A write-audit-publish staging name is already taken on this table.
    Staged refs are create-once: publish or abort the existing one first.
    Typed so merge_epochs' optimistic-retry loop never mistakes the name
    collision for a lost commit race (retrying could double-stage)."""


class StalePublishError(RuntimeError):
    """publish_staged found the table advanced past the staged commit's base
    snapshot — the staged file list no longer reflects the current state, so
    a fast-forward publish would silently drop the intervening commits.
    Re-stage against the new base (abort, then merge with ``stage_as``)."""


# Iceberg-compatible safe type promotions (lossless widenings). Old files
# keep their narrow physical type; Spark's parquet reader upcasts on read
# under the widened manifest schema (verified: int32->long, float->double).
_WIDENINGS: dict[tuple[str, str], bool] = {
    ("byte", "short"): True, ("byte", "integer"): True, ("byte", "long"): True,
    ("short", "integer"): True, ("short", "long"): True,
    ("integer", "long"): True,
    ("float", "double"): True,
}


# Column types whose Arrow/Python equality and ordering are Spark's, so the
# driver-side stale filter (SnapshotTable._arrow_fresh_rows) decides exactly
# as the Spark one would. Float and double are left out: Spark orders NaN
# above every value and equal to itself.
_PY_ORDERED_TYPES = (
    T.StringType, T.BinaryType, T.BooleanType, T.ByteType, T.ShortType,
    T.IntegerType, T.LongType, T.DecimalType, T.DateType, T.TimestampType,
)


def _widens_to(a: T.DataType, b: T.DataType) -> bool:
    return (a.typeName(), b.typeName()) in _WIDENINGS


def _merge_schemas(
    old: T.StructType,
    new: T.StructType,
    frozen: tuple[str, ...] = (),
) -> T.StructType:
    """Additive schema union: old column order preserved, new columns
    appended, lossless type WIDENING allowed (int->long, float->double —
    Iceberg's safe promotions; the widened type wins in either direction).
    A lossy type change or implicit drop raises. ``frozen`` columns (the
    bucketing KEYS) may not change type AT ALL: xxhash64 hashes int32 and
    int64 of the same value differently, so widening a key would re-bucket
    new rows under a different scheme than the table's files and duplicate
    keys across live files."""
    old_by_name = {f.name: f for f in old.fields}
    fields = list(old.fields)
    for f in new.fields:
        prev = old_by_name.get(f.name)
        if prev is None:
            fields.append(T.StructField(f.name, f.dataType, True))
        elif prev.dataType != f.dataType:
            if f.name in frozen:
                raise SchemaEvolutionError(
                    f"key column {f.name!r}: type change {prev.dataType} -> "
                    f"{f.dataType} would change its hash bucketing"
                )
            if _widens_to(prev.dataType, f.dataType):
                i = next(j for j, g in enumerate(fields) if g.name == f.name)
                fields[i] = T.StructField(f.name, f.dataType, True)
            elif _widens_to(f.dataType, prev.dataType):
                pass  # incoming narrower: keep the established wider type
            else:
                raise SchemaEvolutionError(
                    f"column {f.name!r}: type change {prev.dataType} -> "
                    f"{f.dataType} is not a safe widening"
                )
    return T.StructType(fields)


class SnapshotTable:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        *,
        key_cols: tuple[str, ...] = ("repo", "path"),
        bucket_cols: tuple[str, ...] | None = None,
        order_col: str = "commit",
        n_buckets: int = 32,
        target_file_rows: int | None = None,
        max_files_per_bucket: int | None = None,
        manifest_groups: int = 32,
        manifest_inline_files: int = 2048,
        merge_mode: str | None = None,
        fold_broadcast_rows: int | None = None,
        compact_after_commit: str | None = None,
        rewrite_probe: str | None = None,
    ) -> None:
        """``target_file_rows`` caps rows per data file (maxRecordsPerFile on
        the bucketed, key-sorted write), so each bucket holds several files
        covering narrow key ranges — the unit of MERGE copy-on-write becomes
        the FILE, not the bucket (Iceberg file-group granularity).
        ``max_files_per_bucket`` bounds fragmentation: a merge that would
        leave more live files than this in a bucket compacts the whole bucket
        instead.

        ``merge_mode``: ``"cow"`` rewrites the files a delta's keys
        can touch (copy-on-write — best for read-heavy tables and clustered
        deltas); ``"mor"`` (merge-on-read — Iceberg's equality-delete MERGE
        analog) instead promotes the staged delta as small DELTA files after
        dropping write-stale rows (judged on the driver with Arrow, at no
        Spark job, for a sparse delta), folding them into the base on read
        via a per-key anti-join. A scattered hot-key delta then writes O(delta
        rows) bytes instead of O(delta keys x target_file_rows); buckets
        whose live delta files exceed ``max_files_per_bucket // 2`` are
        folded back into base files at merge time, and ``compact()`` folds
        everything lazily. Differential-tested: MOR == COW final state.
        ``"auto"`` chooses per BUCKET per commit from the delta's shape,
        already known pre-commit from staged footers + file stats: a bucket
        whose COW rewrite would touch more than ``auto_mor_factor`` x the
        staged rows takes the MOR path (write amplification bounded), a
        proportionate delta (bulk load, backfill, clustered burst) takes
        COW (no read debt), and fragmentation/delta-cap hits fold as usual
        — so one commit can mix modes across buckets.
        Differential-tested: AUTO == MOR == COW final state.
        ``"auto"`` is the default for NEW tables (round-4 bench: auto
        matches best-of-both on clustered AND scattered shapes). Existing
        tables keep their persisted policy; tables created before the
        policy was persisted stay ``"cow"`` (the default they were written
        under) until explicitly retuned.

        Manifest scaling: up to ``manifest_inline_files`` file entries live
        inline in the manifest JSON; past that, entries split into
        ``manifest_groups`` immutable per-bucket-range GROUP files
        (Iceberg's manifest-list design). A commit then loads and rewrites
        only the groups its delta touches and carries the rest by
        reference, so per-commit manifest IO is O(touched groups), not
        O(total files) — at 100 TB (~10^5-10^6 files) the inline form would
        rewrite tens of MB of JSON per commit."""
        self.spark = spark
        # read()/lookup() hand Spark every live file as an explicit root
        # path, and Spark's distributed listing job then defaults to
        # parallelPartitionDiscovery.parallelism = 10,000 tasks — pure
        # scheduler overhead on any cluster smaller than that (measured
        # 26 s -> 8 s for a read of a 12,345-file table at local[32]).
        # Size it to the cluster; the 10,000 cap restores Spark's default
        # on clusters big enough to want it.
        # broadcast guard for the MOR fold (rows, exact from the manifest):
        # ~100 B of key per row puts 1M rows ≈ 100 MB on the driver and
        # every executor — past this the fold degrades to one shuffle
        # rather than OOM (see _fold). Persisted write policy like the
        # file-sizing knobs, so ops tooling (cli status) sees the same
        # guard the table's own reads use.
        self.fold_broadcast_rows = fold_broadcast_rows
        # merge_mode="auto" threshold: a bucket takes the MOR path when its
        # COW rewrite would move more than this many existing rows per
        # staged delta row. 4x keeps proportionate writes (bootstrap,
        # backfill, clustered bursts) on COW while scattered hot-key deltas
        # — the measured 3.4x COW penalty shape — land as delta files.
        self.auto_mor_factor = 4.0
        self.root = Path(root)
        self.key_cols = tuple(key_cols)
        # PREFIX bucketing (Iceberg's bucket(N, col) transform on a column
        # subset): rows are placed by hash of the first len(bucket_cols)
        # key columns while uniqueness/latest-wins stays on the FULL key.
        # The point is inverted-index-shaped tables — e.g. a near-dup band
        # index keyed (band, repo, path) but bucketed by band alone, so a
        # probe for one band's members reads ONE bucket (and, because the
        # within-bucket sort leads with the bucket cols, usually one file)
        # instead of scattering across all of them. Must be a PREFIX of
        # key_cols: the cluster-order sort leads with the key columns in
        # order, so only a prefix gets tight per-file [min,max] ranges —
        # an arbitrary subset would bucket correctly but prune poorly.
        # Layout INVARIANT like key_cols/n_buckets (manifest wins on attach).
        self.bucket_cols = tuple(bucket_cols) if bucket_cols is not None else None
        if self.bucket_cols is not None and (
            not self.bucket_cols
            or self.bucket_cols != self.key_cols[: len(self.bucket_cols)]
        ):
            raise ValueError(
                f"bucket_cols {self.bucket_cols!r} must be a non-empty "
                f"prefix of key_cols {self.key_cols!r}"
            )
        self.order_col = order_col
        self.n_buckets = n_buckets
        self.target_file_rows = target_file_rows
        self.max_files_per_bucket = max_files_per_bucket
        self.manifest_groups = manifest_groups
        self.manifest_inline_files = manifest_inline_files
        # rollup memo for PRE-rollup legacy group refs (no delta_rows /
        # delta_files_by_bucket in the ref): group files are uuid-named and
        # immutable, so the path is a safe cache key. Without it, a
        # long-lived writer with compact_after_commit="auto" (which calls
        # compaction_advice after EVERY commit) would re-read every cold
        # legacy group file per commit — O(all legacy groups) JSON reads
        # that no commit ever rewrites away.
        self._legacy_rollup_memo: dict[str, tuple[int, dict[str, int]]] = {}
        if merge_mode not in (None, "cow", "mor", "auto"):
            raise ValueError(f"unknown merge_mode {merge_mode!r}")
        if compact_after_commit not in (None, "off", "auto"):
            raise ValueError(
                f"unknown compact_after_commit {compact_after_commit!r}"
            )
        if rewrite_probe not in (None, "off", "auto"):
            raise ValueError(f"unknown rewrite_probe {rewrite_probe!r}")
        # "auto": before a COW rewrite (or MOR fold) large enough to matter,
        # refine the stats-based rewrite set with ONE exact probe job — a
        # key-column-only scan of the candidate files semi-joined against
        # the delta's distinct keys. Per-file [min, max] envelopes have two
        # systematic false-positive sources this removes: gaps (a key inside
        # the range but absent from the file) and per-column tuple
        # decomposition (repo matches one row, path a different one). False
        # positives cost full-width rewrites; the probe trades them for a
        # columnar key scan. Sound by construction: it reads the files'
        # ACTUAL keys, so it can only ever drop true non-matches. Pure
        # write-policy knob (persisted, mutable), never a layout invariant.
        self.rewrite_probe = rewrite_probe
        # opt-in post-commit maintenance policy ("auto"): after a commit,
        # when the snapshot's live MOR delta rows exceed HALF the fold
        # broadcast guard (the same level `cli status` flags), fold them
        # back into base files — so a long-running auto/MOR-mode table
        # amortizes compaction into its write path and never degrades to
        # the shuffle fold. Persisted write policy like merge_mode.
        self.compact_after_commit = compact_after_commit
        # None = adopt the table's persisted write policy (default "auto"
        # for new tables, "cow" for pre-policy legacy tables);
        # an EXPLICIT value wins — merge_mode is a mutable write-policy knob
        # (Iceberg: ALTER ... write.merge.mode), not a layout invariant
        self.merge_mode = merge_mode
        (self.root / MANIFEST_DIR).mkdir(parents=True, exist_ok=True)
        (self.root / DATA_DIR).mkdir(parents=True, exist_ok=True)
        # Attaching to an EXISTING table adopts its persisted layout — the
        # constructor args are initial values for table creation only. A
        # mismatched n_buckets/key_cols would otherwise silently bucket new
        # writes (and compactions, and point lookups) under a different
        # scheme than the manifest's files.
        m = self.manifest()
        if m is not None:
            self.n_buckets = m.get("n_buckets", self.n_buckets)
            self.key_cols = tuple(m.get("key_cols", self.key_cols))
            # layout invariant: the persisted value wins (None in legacy
            # manifests = full-key bucketing, the pre-feature behavior)
            mb = m.get("bucket_cols")
            self.bucket_cols = tuple(mb) if mb else None
            self.order_col = m.get("order_col", self.order_col)
            # file-sizing knobs are MUTABLE write policy like merge_mode
            # (Iceberg: write.target-file-size-bytes), not layout: None
            # adopts the persisted value, an explicit value wins and is
            # persisted by the next commit — so an existing table CAN be
            # retuned (e.g. bigger files for a bulk backfill)
            if self.max_files_per_bucket is None:
                self.max_files_per_bucket = m.get("max_files_per_bucket")
            if self.target_file_rows is None:
                self.target_file_rows = m.get("target_file_rows")
            if self.merge_mode is None:
                # migration rule: persisted policy wins; a pre-policy
                # legacy table (no merge_mode in its manifest) stays on
                # the "cow" default it was written under
                self.merge_mode = m.get("merge_mode") or "cow"
            if self.fold_broadcast_rows is None:
                self.fold_broadcast_rows = m.get("fold_broadcast_rows")
            if self.compact_after_commit is None:
                self.compact_after_commit = m.get("compact_after_commit")
            if self.rewrite_probe is None:
                self.rewrite_probe = m.get("rewrite_probe")
        self.merge_mode = self.merge_mode or "auto"
        self.compact_after_commit = self.compact_after_commit or "off"
        # default ON: the probe only fires past rewrite_probe_min_files
        # candidates, so steady-state sparse commits keep zero extra jobs;
        # legacy tables adopt it safely (optimization, not layout)
        self.rewrite_probe = self.rewrite_probe or "auto"
        self.target_file_rows = self.target_file_rows or 1_000_000
        self.max_files_per_bucket = self.max_files_per_bucket or 16
        self.fold_broadcast_rows = self.fold_broadcast_rows or 1_000_000
        # staged-footer stats go executor-side past this many files per
        # commit (see _stage_bucketed); below it a driver thread pool wins
        self.stats_distributed_files = 16384

    @property
    def mor_delta_cap(self) -> int:
        """Max live MOR delta files per bucket before the bucket folds back
        into base files at merge time. Single source of truth — the merge
        path, the default compaction slack, and cli status's debt report
        must all agree, or the ops suggestion silently diverges from the
        engine's actual fold trigger."""
        return max(2, self.max_files_per_bucket // 2)

    def _bucket_file_allowance(self, bucket_rows: int) -> int:
        """Live-file budget for a bucket holding ``bucket_rows`` rows.

        ``max_files_per_bucket`` alone would make a bucket that LEGITIMATELY
        needs more than that many target-size files (rows > limit *
        target_file_rows, plausible at 100 TB under default n_buckets) fail
        fsck forever and force a whole-bucket rewrite on EVERY merge,
        degrading file-level COW back to bucket granularity. The budget is
        therefore the minimum file count the rows require plus the configured
        slack — compaction and fsck trigger on FRAGMENTATION (files >>
        rows/target_file_rows), never on sheer size."""
        needed = -(-max(int(bucket_rows), 0) // max(self.target_file_rows, 1))
        return needed + self.max_files_per_bucket

    # ---- manifest plumbing ---------------------------------------------------

    def current_version(self) -> int | None:
        versions = [
            int(p.stem[1:])
            for p in (self.root / MANIFEST_DIR).glob("v*.json")
            if p.stem[1:].isdigit()
        ]
        return max(versions) if versions else None

    def versions(self) -> list[int]:
        return sorted(
            int(p.stem[1:])
            for p in (self.root / MANIFEST_DIR).glob("v*.json")
            if p.stem[1:].isdigit()
        )

    def manifest(self, version: int | None = None) -> dict[str, Any] | None:
        v = self.current_version() if version is None else version
        if v is None:
            return None
        path = self.root / MANIFEST_DIR / f"v{v:012d}.json"
        if not path.exists():
            raise FileNotFoundError(f"snapshot v{v} of {self.root} does not exist")
        with open(path) as fh:
            return json.load(fh)

    def exists(self) -> bool:
        return self.current_version() is not None

    def version_as_of(self, ts: float) -> int:
        """Newest RETAINED snapshot committed at or before ``ts`` (epoch
        seconds) — Iceberg's ``TIMESTAMP AS OF`` resolution, completing the
        time-travel face next to version-pinned :meth:`read`. Commit
        timestamps are stamped inside the single linearizable
        manifest-publish sequence, so ``committed_at`` is monotone across
        versions (modulo wall-clock jumps, which Iceberg tolerates the same
        way); the walk is newest-first and returns the first qualifying
        snapshot. Raises ``FileNotFoundError`` when every retained snapshot
        is newer than ``ts``: that history has expired (or the table did
        not exist yet), and resolving to a LATER snapshot would silently
        misreport what the table held at ``ts``."""
        for v in reversed(self.versions()):
            try:
                m = self.manifest(v)
            except FileNotFoundError:
                continue  # expired between the listing and the read
            ca = m.get("committed_at")
            if ca is not None and ca <= ts:
                return v
        raise FileNotFoundError(
            f"no retained snapshot of {self.root} is as old as ts={ts}; "
            "that history has expired or predates the table"
        )

    # ---- file-entry storage: inline list or grouped manifest files -----------

    GROUPS_DIR = "groups"

    def _group_of(self, bucket: int, n_groups: int) -> int:
        return bucket * n_groups // self.n_buckets

    def _load_group(self, ref: dict) -> list[dict]:
        with open(ref["path"]) as fh:
            return json.load(fh)

    def files(self, version: int | None = None) -> list[dict[str, Any]]:
        """All live file entries of a snapshot (inline or via groups)."""
        return self._files_of(self.manifest(version))

    def _files_of(self, m: dict[str, Any] | None) -> list[dict[str, Any]]:
        if m is None:
            return []
        if "file_groups" in m:
            out: list[dict] = []
            for g in m["file_groups"]:
                out.extend(self._load_group(g))
            return out
        return m.get("files", [])

    def live_delta_rows(self, m: dict[str, Any] | None = None) -> int:
        """Total rows in live MOR delta files — the table's accumulated
        fold-on-read debt. See :meth:`compaction_advice`."""
        return self.compaction_advice(m)["delta_rows"]

    def max_bucket_delta_files(self, m: dict[str, Any] | None = None) -> int:
        """Live delta files in the WORST bucket — the per-bucket fold depth
        a MOR read pays there. See :meth:`compaction_advice`."""
        return self.compaction_advice(m)["max_delta_files_per_bucket"]

    def compaction_advice(self, m: dict[str, Any] | None = None) -> dict:
        """One O(groups) pass over the manifest rollups producing the
        table's MOR debt report AND the compaction trigger decision — the
        single source of truth shared by the post-commit auto-compaction
        hook and ``cli status``, so the two sites cannot drift. On a
        grouped manifest this reads only the group refs' ``rows`` /
        ``bytes`` / ``n_files`` / ``delta_rows`` / ``delta_files_by_bucket``
        rollups (a pre-rollup legacy ref is loaded once per Table instance
        via the rollup memo; it is rewritten with rollups on its next
        touch) — never the group files themselves,
        so ``status`` on a 100k-file table costs one manifest read.

        ``suggested_compact`` fires when live delta ROWS exceed half the
        broadcast-fold guard (the read plan is approaching the degraded
        shuffle fold) or some bucket sits AT the per-bucket delta-file cap
        (committed snapshots never exceed it — the merge path folds any
        bucket that would — so AT the cap means the next delta commit to
        it pays the fold inline)."""
        if m is None:
            m = self.manifest()
        per_bucket: dict[str, int] = {}
        delta_rows = files = rows = nbytes = 0
        if m is not None and "file_groups" in m:
            for g in m["file_groups"]:
                dr = g.get("delta_rows")
                fb = g.get("delta_files_by_bucket")
                if dr is None or fb is None:
                    cached = self._legacy_rollup_memo.get(g["path"])
                    if cached is None:
                        ent = self._load_group(g)
                        cached = (
                            sum(
                                f["rows"] for f in ent
                                if f.get("kind") == "delta"
                            ),
                            _delta_files_by_bucket(ent),
                        )
                        self._legacy_rollup_memo[g["path"]] = cached
                    dr, fb = cached
                delta_rows += dr
                for b, n in fb.items():
                    per_bucket[b] = per_bucket.get(b, 0) + n
                files += g["n_files"]
                rows += g["rows"]
                nbytes += g["bytes"]
        elif m is not None:
            ent = m.get("files", [])
            per_bucket = _delta_files_by_bucket(ent)
            delta_rows = sum(
                f["rows"] for f in ent if f.get("kind") == "delta"
            )
            files = len(ent)
            rows = sum(f["rows"] for f in ent)
            nbytes = sum(f["bytes"] for f in ent)
        delta_files = sum(per_bucket.values())
        max_per_bucket = max(per_bucket.values(), default=0)
        fold_path = (
            None if not delta_files
            else "shuffle" if delta_rows > self.fold_broadcast_rows
            else "broadcast"
        )
        return {
            "files": files,
            "rows": rows,
            "bytes": nbytes,
            "delta_files": delta_files,
            "delta_rows": delta_rows,
            "delta_buckets": len(per_bucket),
            "max_delta_files_per_bucket": max_per_bucket,
            "fold_path": fold_path,
            "suggested_compact": bool(delta_files) and (
                delta_rows > self.fold_broadcast_rows // 2
                or max_per_bucket >= self.mor_delta_cap
            ),
        }

    def _write_group(self, group_id: int, entries: list[dict]) -> dict:
        d = self.root / MANIFEST_DIR / self.GROUPS_DIR
        d.mkdir(parents=True, exist_ok=True)
        path = d / f"g{group_id:04d}-{uuid.uuid4().hex}.json"
        with open(path, "w") as fh:
            json.dump(entries, fh)
            fh.flush()
            os.fsync(fh.fileno())
        return {
            "path": str(path),
            "group_id": group_id,
            "n_files": len(entries),
            "rows": sum(e["rows"] for e in entries),
            "bytes": sum(e["bytes"] for e in entries),
            # per-group MOR debt, so live_delta_rows() stays O(groups)
            # on a grouped manifest instead of loading every group file
            "delta_rows": sum(
                e["rows"] for e in entries if e.get("kind") == "delta"
            ),
            # exact per-bucket delta-file counts (only buckets that hold
            # deltas appear), so max_bucket_delta_files() stays O(groups)
            # and is correct even if a bucket's entries ever span two refs
            "delta_files_by_bucket": _delta_files_by_bucket(entries),
        }

    def _attach_files(
        self,
        manifest: dict[str, Any],
        entries: list[dict],
        *,
        carried_group_refs: list[dict] | None = None,
        prev: dict[str, Any] | None = None,
    ) -> None:
        """Store ``entries`` (plus untouched carried group refs) on the
        manifest — inline while small, grouped past the threshold. Once a
        table goes grouped it stays grouped (the carried refs are never
        re-inlined: that would force a full load per commit)."""
        carried_group_refs = carried_group_refs or []
        n_groups = (prev or {}).get("manifest_n_groups", self.manifest_groups)
        total = len(entries) + sum(g["n_files"] for g in carried_group_refs)
        if not carried_group_refs and total <= self.manifest_inline_files:
            manifest["files"] = entries
            return
        by_group: dict[int, list] = {}
        for e in entries:
            by_group.setdefault(self._group_of(e["bucket"], n_groups), []).append(e)
        refs = list(carried_group_refs)
        for gid, ge in sorted(by_group.items()):
            refs.append(self._write_group(gid, ge))
        manifest["file_groups"] = sorted(refs, key=lambda g: (g["group_id"], g["path"]))
        manifest["manifest_n_groups"] = n_groups

    def applied_epochs(self, space: str = "batch") -> set[int]:
        """Applied commit ids for one id SPACE. Batch replay keys on segment
        epoch numbers (``batch``, the default); streaming keys on micro-batch
        ids (``stream``). The spaces are tracked separately in the manifest so
        mixing the two drivers on one table can never mistake stream batch 0
        for segment epoch 0 and silently skip data."""
        m = self.manifest()
        return decode_epoch_ranges(m.get(_space_key(space))) if m else set()

    def schema(self) -> T.StructType | None:
        m = self.manifest()
        return T.StructType.fromJson(m["schema"]) if m else None

    def _commit_manifest(self, manifest: dict[str, Any], base_version: int | None = None) -> int:
        """Atomically publish a manifest as the next version.

        write tmp -> fsync -> hard-link to the final name -> unlink tmp.
        The target version is pinned to ``base_version + 1`` (the snapshot the
        writer planned against); if a concurrent writer committed first, the
        link raises FileExistsError and the caller must re-plan — Iceberg's
        optimistic-concurrency swap.
        """
        if base_version is None:
            base_version = self.current_version() or 0
        version = base_version + 1
        manifest["version"] = version
        manifest["committed_at"] = time.time()
        final = self.root / MANIFEST_DIR / f"v{version:012d}.json"
        tmp = self.root / MANIFEST_DIR / f".tmp-{uuid.uuid4().hex}.json"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)  # atomic create-if-absent
        finally:
            os.unlink(tmp)
        return version

    def _write_staged_manifest(
        self, manifest: dict[str, Any], name: str, *,
        base_version: int, epochs: list[int],
    ) -> None:
        """Park a fully-built manifest as WAP ref ``name`` instead of
        publishing it. Same write-fsync-link discipline as
        :meth:`_commit_manifest`; the create-once link makes double-staging
        under one name impossible (:class:`StagedRefExistsError` — a typed
        error so the optimistic-retry loop never re-runs the merge for what
        is a naming conflict, not a lost race)."""
        manifest["staged_as"] = name
        manifest["staged_uuid"] = uuid.uuid4().hex
        manifest["base_version"] = base_version
        manifest["staged_epochs"] = sorted(epochs)
        manifest["committed_at"] = time.time()
        final = self._staged_path(name)
        tmp = self.root / MANIFEST_DIR / f".tmp-{uuid.uuid4().hex}.json"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise StagedRefExistsError(
                f"staged ref {name!r} already exists on {self.root}; "
                "publish or abort it first"
            ) from None
        finally:
            os.unlink(tmp)

    # ---- read ----------------------------------------------------------------

    @staticmethod
    def _split_kinds(entries: list[dict]) -> tuple[list[dict], list[dict]]:
        """(base_files, delta_files). Entries without a ``kind`` are base —
        pre-MOR manifests stay readable unchanged."""
        base = [f for f in entries if f.get("kind") != "delta"]
        deltas = [f for f in entries if f.get("kind") == "delta"]
        return base, deltas

    def _latest_delta_rows(self, delta_df: DataFrame) -> DataFrame:
        """One row per key across live delta files (max ``order_col`` wins).

        Write-time stale filtering guarantees that for any key, a later
        delta commit carries a strictly greater order value, so max-order IS
        the latest — no per-file sequence tiebreak needed. max_by is a
        partial aggregate (map-side combine), and deltas are small by
        construction."""
        payload = [c for c in delta_df.columns if c not in self.key_cols]
        agged = delta_df.groupBy(*[F.col(k) for k in self.key_cols]).agg(
            F.max_by(F.struct(*payload), F.col(self.order_col)).alias("_w")
        )
        return agged.select(
            *self.key_cols, *[F.col(f"_w.{c}").alias(c) for c in payload]
        )

    def _fold(
        self, base_df: DataFrame, delta_df: DataFrame,
        delta_rows: int | None = None,
    ) -> DataFrame:
        """Merge-on-read fold: per key, a delta row supersedes the base row.

        The delta side collapses to latest-per-key (small); base rows whose
        key appears there are dropped via a BROADCAST null-safe anti-join —
        the 100-TB base side is scanned ONCE with no shuffle; only the tiny
        delta side moves. Null-safe (<=>) because keys may be null and a
        plain anti-join would let a stale null-key base row survive.

        ``delta_rows`` (exact, from manifest entries) guards the broadcast:
        past ``fold_broadcast_rows`` live delta rows (a compaction-overdue
        table) an explicit broadcast of the key set would OOM the driver
        and every executor, so the fold falls back to ONE latest-wins
        shuffle over base ∪ delta — write-time stale filtering guarantees a
        live delta row is strictly newer than its base row, so max-order
        arbitration is exact. Slower than the broadcast path but bounded;
        ``compact()`` restores the fast path."""
        if delta_rows is not None and delta_rows > self.fold_broadcast_rows:
            # the RAW delta goes into the union: pre-collapsing it first
            # would be a second full shuffle of exactly the oversized side
            return self._latest_delta_rows(
                base_df.unionByName(delta_df.select(*base_df.columns))
            )
        latest = self._latest_delta_rows(delta_df)
        keys_only = F.broadcast(
            latest.select(*[F.col(k).alias(f"_d_{k}") for k in self.key_cols])
        )
        cond = None
        for k in self.key_cols:
            c = base_df[k].eqNullSafe(F.col(f"_d_{k}"))
            cond = c if cond is None else (cond & c)
        kept_base = base_df.join(keys_only, cond, "left_anti")
        return kept_base.unionByName(latest.select(*base_df.columns))

    def read(
        self, version: int | None = None, *, as_of_ts: float | None = None,
        include_deleted: bool = False
    ) -> DataFrame:
        """Table state at ``version`` (default: current) — snapshot isolation
        gives time travel for free, like Iceberg's VERSION AS OF. Old files
        missing newly-added columns read as null (explicit manifest schema
        drives the scan). Live MOR delta files are folded in (latest per key
        wins) via a broadcast anti-join — one base scan, no base shuffle.
        Tombstoned keys (CDC deletes) are hidden unless ``include_deleted``.
        ``as_of_ts`` (epoch seconds) is TIMESTAMP AS OF: the snapshot is
        resolved via :meth:`version_as_of`; mutually exclusive with
        ``version``.
        """
        if as_of_ts is not None:
            if version is not None:
                raise ValueError("pass version or as_of_ts, not both")
            version = self.version_as_of(as_of_ts)
        m = self.manifest(version)
        if m is None:
            raise FileNotFoundError(f"table {self.root} has no committed snapshot")
        return self._read_snapshot(m, include_deleted=include_deleted)

    def _read_snapshot(
        self, m: dict[str, Any], *, include_deleted: bool = False
    ) -> DataFrame:
        """The :meth:`read` body over an already-loaded manifest — shared
        with :meth:`read_staged` so audit reads fold MOR deltas and hide
        tombstones EXACTLY like a published read would."""
        schema = T.StructType.fromJson(m["schema"])
        base, deltas = self._split_kinds(self._files_of(m))
        if not base and not deltas:
            return self.spark.createDataFrame([], schema)
        df = self._read_files(base, schema)
        if deltas:
            df = self._fold(
                df, self._read_files(deltas, schema),
                delta_rows=sum(f.get("rows") or 0 for f in deltas),
            )
        if not include_deleted and TOMBSTONE_COL in schema.fieldNames():
            # filter AFTER the fold: a tombstone must first win latest-wins
            # (shadowing the stale base row), THEN hide the key
            df = df.where(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)))
        return df

    def candidate_files(self, key: tuple) -> list[dict[str, Any]]:
        """Live files that can contain ``key``: its hash bucket's entries
        narrowed by per-file min/max stats — the P8 'stats replace indexes'
        path. The bucket is computed on the driver with the writer's
        xxhash64 (:mod:`.buckethash`), each value hashed AT the table's key
        column type — xxhash64(int32) != xxhash64(int64) of the same value
        — so the search launches no Spark job. With a grouped manifest
        only the bucket's own group file is parsed, so driver IO stays
        O(group), not O(table). The manifest is loaded once."""
        m = self.manifest()
        if m is None:
            return []
        vals = self._coerce_key(T.StructType.fromJson(m["schema"]), key)
        return [] if vals is None else self._key_candidates(m, vals)

    def _coerce_key(self, schema: T.StructType, key: tuple) -> tuple | None:
        """``key`` with each value in its key column's domain (a Python int
        for a bigint column, ...); None when a value is out of its column
        type's range, so no row can hold the key."""
        types = {f.name: f.dataType for f in schema.fields}
        try:
            return tuple(
                buckethash.coerce(v, types[c])
                for c, v in zip(self.key_cols, key)
            )
        except ValueError:
            return None

    def _key_candidates(
        self, m: dict[str, Any], vals: tuple
    ) -> list[dict[str, Any]]:
        """:meth:`candidate_files` for an already-coerced key."""
        types = {
            f.name: f.dataType
            for f in T.StructType.fromJson(m["schema"]).fields
        }
        # placement hash covers only the bucket columns (the full key when
        # prefix bucketing is off) — a prefix-bucketed table places every
        # (band, *) key in band's bucket, and the lookup must follow suit.
        # Bucket count from the MANIFEST, not the handle: a long-lived
        # reader attached before a rebucket() must probe under the layout
        # the files were actually written with, or lookups silently miss
        pcols = self.placement_cols
        b = buckethash.bucket_of(
            vals[: len(pcols)], [types[c] for c in pcols],
            m.get("n_buckets", self.n_buckets),
        )
        return [
            f
            for f in self._bucket_entries(b, m)
            if _keys_hit_file([vals], f.get("key_stats"), self.key_cols)
        ]

    def _bucket_entries(
        self, bucket: int, m: dict[str, Any] | None = None
    ) -> list[dict[str, Any]]:
        """File entries of ONE bucket — parses a single group file when the
        manifest is grouped."""
        if m is None:
            m = self.manifest()
        if m is None:
            return []
        if "file_groups" in m:
            n_groups = m.get("manifest_n_groups", self.manifest_groups)
            gid = self._group_of(bucket, n_groups)
            entries: list[dict] = []
            for g in m["file_groups"]:
                if g["group_id"] == gid:
                    entries.extend(self._load_group(g))
            return [f for f in entries if f["bucket"] == bucket]
        return [f for f in m.get("files", []) if f["bucket"] == bucket]

    def lookup(self, *key_values, candidates: list[dict] | None = None) -> DataFrame:
        """Point read of one key with no Spark job. The candidate files
        (typically ONE) are read on the driver with Arrow under a null-safe
        key equality, which row-group stats prune on, and each is aligned
        to the manifest schema: a column the file predates reads as null,
        a narrower type widens. The max-``order_col`` row wins, so a live
        MOR delta row supersedes its stale base row, and a tombstoned
        winner hides the key. The result is a local DataFrame:
        ``collect()`` and ``first()`` on it launch no job. Pass
        ``candidates`` (from :meth:`candidate_files`) to avoid recomputing
        them."""
        key = tuple(key_values)
        if len(key) != len(self.key_cols):
            raise ValueError(f"expected values for {self.key_cols}")
        m = self.manifest()
        if m is None:
            raise FileNotFoundError(f"table {self.root} has no committed snapshot")
        schema = T.StructType.fromJson(m["schema"])
        target = to_arrow_schema(schema)
        vals = self._coerce_key(schema, key)
        if vals is None:
            files = []
        else:
            files = (candidates if candidates is not None
                     else self._key_candidates(m, vals))
        parts = [
            _read_key_rows(f["path"], dict(zip(self.key_cols, vals)), target)
            for f in files
        ]
        # combine_chunks: createDataFrame drops the rows that follow an
        # empty leading chunk (PySpark 4.1), and most candidates are empty
        tbl = (pa.concat_tables(parts) if parts
               else target.empty_table()).combine_chunks()
        if tbl.num_rows > 1:
            # write-time stale filtering makes a live delta row strictly
            # newer than its base row, so the max order is the latest
            order = tbl.column(self.order_col).to_pylist()
            tbl = tbl.take([max(
                range(len(order)),
                key=lambda i: (order[i] is not None, order[i]),
            )])
        if (TOMBSTONE_COL in tbl.column_names and tbl.num_rows
                and tbl.column(TOMBSTONE_COL)[0].as_py()):
            tbl = tbl.slice(0, 0)
        return self.spark.createDataFrame(tbl, schema=schema)

    def prefix_candidates(self, prefixes: list[tuple]) -> list[dict]:
        """Live files that can hold rows whose placement columns equal ANY
        of the probed prefix tuples — the bulk face of
        :meth:`candidate_files` for prefix-bucketed tables (an inverted
        index probing hundreds of band keys per epoch wants one candidate
        search and one read, not hundreds of point lookups).

        Each distinct prefix is hashed to its bucket on the driver (same
        xxhash64-at-column-type discipline as candidate_files, no Spark
        job); files of the hit buckets are then stats-pruned per prefix on
        the placement columns. Cost: O(probed buckets' file entries), never
        O(table).
        """
        m = self.manifest()
        if m is None or not prefixes:
            return []
        pcols = self.placement_cols
        n_buckets = m.get("n_buckets", self.n_buckets)
        types = {
            f.name: f.dataType
            for f in T.StructType.fromJson(m["schema"]).fields
        }
        ptypes = [types[c] for c in pcols]
        by_bucket: dict[int, list[tuple]] = {}
        for p in _sorted_prefixes(prefixes, len(pcols)):
            try:
                vals = tuple(
                    buckethash.coerce(v, t) for v, t in zip(p, ptypes)
                )
            except ValueError:
                continue  # out of the column type's range: no row holds it
            by_bucket.setdefault(
                buckethash.bucket_of(vals, ptypes, n_buckets), []
            ).append(vals)
        out: list[dict] = []
        seen: set[str] = set()
        for b, pfx in sorted(by_bucket.items()):
            for f in self._bucket_entries(b, m):
                if f["path"] in seen:
                    continue
                if _keys_hit_file(pfx, f.get("key_stats"), pcols):
                    seen.add(f["path"])
                    out.append(f)
        return out

    def scan_prefixes(self, prefixes: list[tuple]) -> DataFrame:
        """Bulk point-read on the placement columns: all live rows whose
        placement-column values equal any probed prefix tuple. Candidate
        files come from :meth:`prefix_candidates`; the exact filter is a
        broadcast null-safe semi-join (an IN-list of tuples does not push
        down as one); MOR deltas fold and tombstones drop exactly as in
        :meth:`lookup`."""
        m = self.manifest()
        if m is None:
            raise FileNotFoundError(f"table {self.root} has no committed snapshot")
        schema = self.schema()
        if not prefixes:
            return self.spark.createDataFrame([], schema)
        pcols = self.placement_cols
        files = self.prefix_candidates(prefixes)
        base, deltas = self._split_kinds(files)
        df = self._read_files(files, schema)
        by_name = {f.name: f for f in schema.fields}
        pschema = T.StructType([by_name[c] for c in pcols])
        uniq = _sorted_prefixes(prefixes, len(pcols))
        probe = F.broadcast(
            self.spark.createDataFrame(uniq, pschema).dropDuplicates(
                list(pcols)
            )
        )
        cond = None
        for c in pcols:
            eq = df[c].eqNullSafe(probe[c])
            cond = eq if cond is None else cond & eq
        df = df.join(probe, cond, "left_semi")
        if deltas:
            cols = df.columns
            df = self._latest_delta_rows(df).select(*cols)
        if TOMBSTONE_COL in df.columns:
            df = df.where(~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)))
        return df

    def changes_between(self, v_from: int | None, v_to: int | None = None) -> DataFrame:
        """Change feed: rows applied after snapshot ``v_from`` up to ``v_to``
        (defaults: table start -> current). The CDC-out face of the engine
        (Iceberg changelog scan / Delta CDF analog).

        Cost is O(changed data), not O(table): only files NEW in ``v_to``
        relative to ``v_from`` are read (manifest diff), filtered to rows
        whose ``epoch`` provenance lies in the applied-epoch delta — carried
        rows rewritten into merged bucket files are excluded by that filter.
        The diff itself is O(changed manifest GROUPS) too — carried group
        refs are skipped unopened (see :meth:`_diff_new_files`), so polling
        the feed on a 10^6-file table does not re-read its manifest tree.
        """
        m_to = self.manifest(v_to)
        if m_to is None:
            raise FileNotFoundError(f"table {self.root} has no committed snapshot")
        schema = T.StructType.fromJson(m_to["schema"])
        if v_from is None:
            m_from = None
            old_epochs: set[int] = set()
        else:
            m_from = self.manifest(v_from)
            old_epochs = _all_applied_epochs(m_from)
        new_files = self._diff_new_files(m_from, m_to)
        delta_epochs = _all_applied_epochs(m_to) - old_epochs
        df = self._read_files(new_files, schema)
        if "epoch" in df.columns:
            # Filter by the RANGE encoding, not a per-id IN-list: at the
            # nominal 10^6+ epochs a wide version range would otherwise bake
            # hundreds of thousands of literals into the plan and blow up
            # driver planning. O(#gaps) BETWEEN clauses instead.
            ranges = encode_epoch_ranges(delta_epochs)
            cond = F.lit(False)
            for lo, hi in ranges:
                cond = cond | F.col("epoch").between(F.lit(lo), F.lit(hi))
            df = df.where(cond)
        return df

    def _diff_new_files(
        self, m_from: dict[str, Any] | None, m_to: dict[str, Any]
    ) -> list[dict]:
        """Manifest diff for the change feed: file entries present in
        ``m_to`` but not in ``m_from``, loading only CHANGED manifest
        groups. A group ref carried verbatim between the two snapshots
        (same path) holds only files both sides already share — skip it
        without reading the group file. A file's group id is a pure
        function of (bucket, manifest_n_groups, n_buckets), so when both
        layout knobs match, the old-side paths needed to exclude carried
        files rewritten INTO a changed group can only live in the old
        groups with those same ids — the diff therefore reads O(changed
        groups) group files, not O(table): at the nominal scale a feed
        between adjacent snapshots of a 10^6-file table opens a handful of
        JSON files. Falls back to the full-listing diff across a rebucket
        or regroup boundary (group ids reshuffle) and for inline
        manifests (already O(manifest))."""
        if m_from is None:
            return self._files_of(m_to)
        same_layout = (
            "file_groups" in m_from
            and "file_groups" in m_to
            and m_from.get("manifest_n_groups") == m_to.get("manifest_n_groups")
            and m_from.get("n_buckets") == m_to.get("n_buckets")
            and all("group_id" in g for g in m_from["file_groups"])
            and all("group_id" in g for g in m_to["file_groups"])
        )
        if not same_layout:
            old_paths = {f["path"] for f in self._files_of(m_from)}
            return [
                f for f in self._files_of(m_to)
                if f["path"] not in old_paths
            ]
        carried = {g["path"] for g in m_from["file_groups"]}
        changed = [g for g in m_to["file_groups"] if g["path"] not in carried]
        gids = {g["group_id"] for g in changed}
        old_paths = {
            f["path"]
            for g in m_from["file_groups"]
            if g["group_id"] in gids
            for f in self._load_group(g)
        }
        return [
            f
            for g in changed
            for f in self._load_group(g)
            if f["path"] not in old_paths
        ]

    def _read_files(self, files: list[dict], schema: T.StructType) -> DataFrame:
        if not files:
            return self.spark.createDataFrame([], schema)
        # Explicit-file-list reads trigger Spark's distributed listing job,
        # which defaults to parallelPartitionDiscovery.parallelism = 10,000
        # TASKS regardless of cluster size — pure scheduler overhead below
        # that scale (measured 26 s -> 8 s for a 12,345-file read at
        # local[32]). The listing runs eagerly inside the .parquet() call,
        # so the override is scoped here (set, read, restore): other
        # workloads in the shared session keep their own value, and the
        # width tracks the CURRENT defaultParallelism (dynamic allocation).
        key = "spark.sql.sources.parallelPartitionDiscovery.parallelism"
        par = max(1, self.spark.sparkContext.defaultParallelism)
        prev = self.spark.conf.get(key, None)
        self.spark.conf.set(key, str(min(10_000, max(64, 4 * par))))
        try:
            return self.spark.read.schema(schema).parquet(
                *[f["path"] for f in files]
            )
        finally:
            if prev is not None:
                self.spark.conf.set(key, prev)
            else:
                self.spark.conf.unset(key)

    # ---- maintenance ---------------------------------------------------------

    def history(self) -> list[dict[str, Any]]:
        """One entry per snapshot: version, committed_at, epochs, files, rows."""
        out = []
        for v in self.versions():
            m = self.manifest(v)
            out.append(
                {
                    "version": v,
                    "committed_at": m.get("committed_at"),
                    "applied_epochs": m.get("applied_epochs", []),
                    "files": (
                        sum(g["n_files"] for g in m["file_groups"])
                        if "file_groups" in m
                        else len(m.get("files", []))
                    ),
                    "rows": (
                        sum(g["rows"] for g in m["file_groups"])
                        if "file_groups" in m
                        else sum(f.get("rows", 0) for f in m.get("files", []))
                    ),
                    "summary": m.get("summary", {}),
                }
            )
        return out

    def expire_snapshots(
        self, retain_last: int = 3, *, older_than_s: float | None = None
    ) -> list[int]:
        """Drop manifest versions older than the newest ``retain_last``
        (Iceberg's expire_snapshots). Data files they reference become
        orphans reclaimable by ``vacuum``. Returns expired versions.

        ``older_than_s`` additionally REQUIRES a version's commit timestamp
        to be at least this old before it may expire (Iceberg's
        ``older_than``): retention policies are usually time-based ("keep a
        week of history for time travel"), and count-based expiry alone
        would silently shorten the window on a busy table (10^4 commits/day
        at steady state). The newest snapshot never expires."""
        versions = self.versions()
        expired = versions[:-retain_last] if retain_last > 0 else versions[:-1]
        # tagged snapshots are pinned: a tag is an explicit promise that
        # this exact state stays readable (repro/audit), which count- or
        # time-based retention must not quietly break
        tagged = set(self.tags().values())
        if tagged:
            expired = [v for v in expired if v not in tagged]
        if older_than_s is not None:
            cutoff = time.time() - older_than_s
            keep = []
            for v in expired:
                ts = self.manifest(v).get("committed_at")
                if ts is not None and ts > cutoff:
                    continue  # too young for the time-based policy
                keep.append(v)
            expired = keep
        for v in expired:
            (self.root / MANIFEST_DIR / f"v{v:012d}.json").unlink(missing_ok=True)
        return expired

    def vacuum(self, older_than_s: float = 3600.0) -> dict[str, Any]:
        """Delete data files referenced by NO retained snapshot: old versions'
        rewritten buckets and crash orphans (written but never committed).

        Only unreferenced files OLDER than ``older_than_s`` are removed
        (Iceberg remove_orphan_files ``older_than``): a concurrent in-flight
        merge promotes its files into data/ BEFORE the manifest swap, so a
        young unreferenced file may be a just-promoted file whose commit is
        about to land — deleting it would corrupt that writer's snapshot.
        Referenced-set membership compares resolved absolute paths, not
        basenames, so a future layout change can't make the comparison
        silently inexact."""
        referenced: set[str] = set()
        referenced_groups: set[str] = set()
        manifests = [self.manifest(v) for v in self.versions()]
        # unpublished WAP refs are roots too: their files must survive until
        # the staged commit is published or aborted, however long the audit
        # takes — the grace window alone cannot protect a slow audit
        for n in self.staged_refs():
            try:
                manifests.append(self.staged_manifest(n))
            except FileNotFoundError:
                continue  # published/aborted between the glob and the read
        for mv in manifests:
            for g in mv.get("file_groups", []):
                referenced_groups.add(os.path.realpath(g["path"]))
            for f in self._files_of(mv):
                referenced.add(os.path.realpath(f["path"]))
        removed, freed, skipped_young = 0, 0, 0
        now = time.time()

        def _mtime(p):
            # a concurrent writer may unlink its own staging/losing files
            # between our glob and stat — a vanished path is simply no longer
            # our problem, never an error
            try:
                st = p.stat()
                return st.st_mtime, st.st_size
            except FileNotFoundError:
                return None, 0

        def _probe(p):
            # stat + age-gate one candidate; returns (path-to-delete, size)
            # or a young/vanished marker. Pure function of the fs, safe to
            # overlap.
            if os.path.realpath(p) in referenced:
                return None
            mt, size = _mtime(p)
            if mt is None:
                return None
            if now - mt < older_than_s:
                return ("young", 0)
            return (p, size)

        # stat + unlink overlap (same rationale as _promote_all: on an
        # object store each is a metadata RPC, and a vacuum after a big
        # compaction can face 10^5 orphans)
        from concurrent.futures import ThreadPoolExecutor

        candidates = list((self.root / DATA_DIR).glob("*.parquet"))
        with ThreadPoolExecutor(max_workers=32) as ex:
            probes = [r for r in ex.map(_probe, candidates) if r is not None]
            doomed = [(p, s) for p, s in probes if p != "young"]
            skipped_young += sum(1 for p, _ in probes if p == "young")
            list(ex.map(lambda ps: ps[0].unlink(missing_ok=True), doomed))
        removed += len(doomed)
        freed += sum(s for _, s in doomed)
        # orphaned manifest-group files (losing commit attempts, expired
        # versions' groups) — same referenced-set + grace rules
        groups_removed = 0
        for p in (self.root / MANIFEST_DIR / self.GROUPS_DIR).glob("g*.json"):
            if os.path.realpath(p) in referenced_groups:
                continue
            mt, _ = _mtime(p)
            if mt is None:
                continue
            if now - mt < older_than_s:
                skipped_young += 1
                continue
            p.unlink(missing_ok=True)
            groups_removed += 1
        # staging dirs abandoned by a killed writer (same age guard: a live
        # writer's staging is always younger than the grace window)
        import shutil as _shutil

        staging_removed = 0
        for d in self.root.glob("_staging-*"):
            mt, _ = _mtime(d)
            if mt is not None and now - mt > max(older_than_s, 3600.0):
                _shutil.rmtree(d, ignore_errors=True)
                staging_removed += 1
        return {"files_removed": removed, "bytes_freed": freed,
                "files_retained": len(referenced),
                "files_skipped_young": skipped_young,
                "group_files_removed": groups_removed,
                "staging_dirs_removed": staging_removed}

    def rollback(self, version: int) -> dict[str, Any]:
        """Roll the table back to an earlier snapshot (Iceberg
        rollback_to_snapshot): commits a NEW version whose file list, schema
        and applied-epoch spaces are those of ``version``. History is
        preserved — the bad snapshots stay readable until expired — and the
        target's files are still referenced, so vacuum keeps them."""
        m = self.manifest(version)  # raises if the snapshot is gone
        cur = self.current_version()
        new = {k: v for k, v in m.items() if k != "commit_stats"}
        new.update({"summary": {"rollback_of": version}, "parent": cur})
        v = self._commit_manifest(new, base_version=cur)
        # the restored snapshot carries ITS layout (a rollback across a
        # rebucket restores the old bucket count) — re-adopt it so this
        # handle keeps writing under the now-current scheme instead of
        # tripping the layout-drift guard
        self.n_buckets = m.get("n_buckets", self.n_buckets)
        return {"version": v, "rolled_back_to": version}

    # ---- write-audit-publish (WAP) -------------------------------------------

    def _staged_path(self, name: str):
        if not name or not all(c.isalnum() or c in "._-" for c in name):
            raise ValueError(
                f"staged ref name {name!r} must be non-empty [A-Za-z0-9._-]"
            )
        return self.root / MANIFEST_DIR / f"staged-{name}.json"

    def staged_refs(self) -> list[str]:
        """Names of unpublished staged commits (WAP refs) on this table."""
        return sorted(
            p.stem[len("staged-"):]
            for p in (self.root / MANIFEST_DIR).glob("staged-*.json")
        )

    def staged_manifest(self, name: str) -> dict[str, Any]:
        path = self._staged_path(name)
        try:
            with open(path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"no staged commit {name!r} on {self.root}"
            ) from None

    def read_staged(self, name: str, *, include_deleted: bool = False) -> DataFrame:
        """Audit read of a staged commit: the state the table WOULD serve if
        ``name`` were published — same MOR fold and tombstone rules as
        :meth:`read`. The published table stays untouched; run the audit
        checks here, then :meth:`publish_staged` or :meth:`abort_staged`."""
        return self._read_snapshot(
            self.staged_manifest(name), include_deleted=include_deleted
        )

    def publish_staged(self, name: str) -> dict[str, Any]:
        """Fast-forward publish of a staged commit (Iceberg's WAP
        cherry-pick, restricted to the conflict-free case): links the staged
        manifest as the next version iff the table still sits at the staged
        commit's base snapshot. An intervening commit raises
        :class:`StalePublishError` — the staged file list is stale and
        publishing it would silently drop that commit; abort and re-stage.

        Crash-idempotent: the staged manifest carries a ``staged_uuid`` that
        survives into the published manifest, so a re-run after a crash
        between the version link and the staged-ref unlink recognizes its
        own publish (uuid match) and finishes the cleanup instead of
        failing."""
        staged = self.staged_manifest(name)
        base = staged.pop("base_version", 0)
        suid = staged.get("staged_uuid")

        def _already_published() -> dict[str, Any] | None:
            m_cur = self.manifest()
            if m_cur is not None and suid and m_cur.get("staged_uuid") == suid:
                self._staged_path(name).unlink(missing_ok=True)
                return {
                    "version": m_cur["version"], "published": name,
                    "already_published": True,
                }
            return None

        cur = self.current_version() or 0
        if cur != base:
            done = _already_published()
            if done:
                return done
            raise StalePublishError(
                f"staged commit {name!r} was built on v{base} but the table "
                f"is at v{cur}; abort and re-stage against the new base"
            )
        staged.pop("staged_as", None)
        epochs = staged.pop("staged_epochs", None)
        summary = staged.setdefault("summary", {})
        summary["published_from"] = name
        try:
            v = self._commit_manifest(staged, base_version=base)
        except FileExistsError:
            done = _already_published()
            if done:
                return done
            raise StalePublishError(
                f"staged commit {name!r} lost the publish race: a concurrent "
                f"commit took v{base + 1}; abort and re-stage"
            ) from None
        self._staged_path(name).unlink(missing_ok=True)
        # publish IS the commit point: the post-commit maintenance hook that
        # a direct merge would have run (compact_after_commit="auto" debt
        # fold) runs here, on the manifest _commit_manifest just finalized
        return self._maybe_compact_after_commit(
            {"version": v, "published": name, "epochs": epochs,
             "_manifest": staged}
        )

    def abort_staged(self, name: str) -> dict[str, Any]:
        """Drop a staged commit without publishing. Its NEW data files
        become unreferenced and fall to :meth:`vacuum` after the grace
        window. ``files_released`` counts only those — files the staged
        manifest CARRIED from its base are still referenced by published
        snapshots and are not reclaimable (counting them would overstate
        freed space by the whole table)."""
        staged = self.staged_manifest(name)
        try:
            # _diff_new_files reads only CHANGED manifest groups — the
            # hand-rolled version paid O(all groups) of BOTH manifests for
            # a count
            base_m = (
                self.manifest(staged["base_version"])
                if staged.get("base_version") else None
            )
            n_files = len(self._diff_new_files(base_m, staged))
        except FileNotFoundError:
            n_files = len(self._files_of(staged))  # base expired: upper bound
        self._staged_path(name).unlink(missing_ok=True)
        return {"aborted": name, "files_released": n_files}

    # ---- snapshot tags -------------------------------------------------------

    def _tag_path(self, name: str):
        if not name or not all(c.isalnum() or c in "._-" for c in name):
            raise ValueError(
                f"tag name {name!r} must be non-empty [A-Za-z0-9._-]"
            )
        return self.root / MANIFEST_DIR / f"tag-{name}.json"

    def tag(self, name: str, version: int | None = None) -> dict[str, Any]:
        """Pin a snapshot under a stable name (Iceberg's tags): ``read(
        version=tag_version(name))`` keeps serving it and
        :meth:`expire_snapshots` will NOT expire it, however old it gets —
        the audit/repro face of time travel ("the corpus we trained on").
        Create-once per name (retag = delete + tag); the tagged version must
        exist at tag time."""
        v = self.current_version() if version is None else version
        if v is None:
            # manifest(None) means "current" and returns None on an empty
            # table instead of raising — without this guard a tag on a
            # never-committed root records {"version": null}, which pins
            # nothing and floats to whatever becomes current
            raise FileNotFoundError(
                f"table {self.root} has no committed snapshot to tag"
            )
        self.manifest(v)  # raises if the snapshot is gone
        final = self._tag_path(name)
        tmp = self.root / MANIFEST_DIR / f".tmp-{uuid.uuid4().hex}.json"
        with open(tmp, "w") as fh:
            json.dump({"version": v, "tagged_at": time.time()}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise StagedRefExistsError(
                f"tag {name!r} already exists on {self.root} "
                f"(at v{self.tag_version(name)}); delete_tag it first"
            ) from None
        finally:
            os.unlink(tmp)
        return {"tag": name, "version": v}

    def tags(self) -> dict[str, int]:
        """All tags as ``{name: version}``."""
        out: dict[str, int] = {}
        for p in (self.root / MANIFEST_DIR).glob("tag-*.json"):
            try:
                with open(p) as fh:
                    out[p.stem[len("tag-"):]] = json.load(fh)["version"]
            except (FileNotFoundError, json.JSONDecodeError, KeyError):
                continue  # deleted mid-scan / torn write: skip, never crash
        return out

    def tag_version(self, name: str) -> int:
        path = self._tag_path(name)
        try:
            with open(path) as fh:
                return json.load(fh)["version"]
        except FileNotFoundError:
            raise FileNotFoundError(
                f"no tag {name!r} on {self.root}"
            ) from None

    def delete_tag(self, name: str) -> dict[str, Any]:
        v = self.tag_version(name)
        self._tag_path(name).unlink(missing_ok=True)
        return {"deleted_tag": name, "was_version": v}

    def compact(
        self, *, above: int | None = None, purge_tombstones: bool = False
    ) -> dict[str, Any]:
        """Rewrite fragmented buckets into fresh key-clustered files
        (Iceberg rewrite_data_files): every bucket holding more than
        ``above`` live files (default max_files_per_bucket // 2) is read
        back and rewritten through the arranged single-shuffle plan.
        Metadata-only with respect to epochs — applied sets are unchanged —
        and snapshot-isolated like any other commit.

        ``purge_tombstones`` physically drops winning delete tombstones from
        the rewritten buckets. Only sound once the upstream can no longer
        re-deliver events older than the tombstones (the tombstone's order is
        what blocks a stale upsert from resurrecting the key) — an operator
        decision, off by default.

        Delta-carrying buckets that are NOT fragmented get a SELECTIVE fold
        (mirroring the merge path's cap-hit fold): only base files whose key
        stats intersect the bucket's delta keys are rewritten; disjoint base
        files are carried untouched. The debt fold therefore costs
        O(intersecting files), not O(files in delta buckets) — at 100 TB a
        scattered 10^3-key delta folds by rewriting ~10^3 files instead of
        every file of every touched bucket. Sound because a key lives in
        exactly ONE base file per bucket (the merge invariant), so merging
        the intersecting set with the deltas cannot strand a second copy in
        a carried file. Whole-bucket rewrite is kept where it is the point:
        fragmentation victims (the rewrite IS the defragmentation) and
        ``purge_tombstones`` (a winning tombstone may sit in any file)."""
        import shutil

        # no-op exits return the SAME shape as a fold run (zeroed counters,
        # current version) so callers racing a concurrent fold — e.g. the
        # post-commit hook when another writer folded the debt first — can
        # index any key without hitting the rare-path-only KeyError
        def _noop(m: dict[str, Any] | None, n_files: int) -> dict[str, Any]:
            return {
                "compacted_buckets": 0,
                "selective_buckets": 0,
                "base_files_skipped": 0,
                "files_before": n_files,
                "files_after": n_files,
                "bytes_written": 0,
                "version": None if m is None else m["version"],
            }

        m = self.manifest()
        if m is None:
            return _noop(m, 0)
        if m.get("n_buckets", self.n_buckets) != self.n_buckets:
            # same layout-drift guard as the merge path: compaction re-stages
            # rows with THIS handle's bucket expr — under a stale width it
            # would commit corrupt clustering that lookups then miss
            raise LayoutDriftError(
                f"table {self.root} was rebucketed to {m['n_buckets']} "
                f"buckets (this handle attached at {self.n_buckets}); "
                "re-attach before compacting"
            )
        all_files = self._files_of(m)
        by_bucket: dict[int, list] = {}
        for f in all_files:
            by_bucket.setdefault(f["bucket"], []).append(f)
        # buckets holding MOR delta files are always folded: compaction is
        # the lazy path that turns accumulated read-side fold work back into
        # clean base files (Iceberg rewrite_data_files on a MOR table)
        delta_buckets = {
            b for b, fl in by_bucket.items()
            if any(f.get("kind") == "delta" for f in fl)
        }
        if above is not None:
            # explicit override: absolute file-count threshold
            victims = {b for b, fl in by_bucket.items() if len(fl) > above}
        else:
            # default trigger is rows-aware: a bucket is a victim when
            # FRAGMENTED (holds more files than its rows require plus slack),
            # not merely large — a bucket legitimately needing many
            # target-size files must not be rewritten on every compact()
            slack = self.mor_delta_cap

            def _needed(fl):
                rows = sum(f["rows"] for f in fl)
                return -(-rows // max(self.target_file_rows, 1))

            victims = {
                b for b, fl in by_bucket.items()
                if len(fl) > max(slack, _needed(fl) + slack)
            }
        # non-fragmented delta buckets fold selectively; fragmented ones
        # (and every bucket under purge_tombstones) rewrite whole
        selective = set() if purge_tombstones else delta_buckets - victims
        victims |= delta_buckets
        if not victims:
            return _noop(m, len(all_files))
        old = []
        carried = [f for f in all_files if f["bucket"] not in victims]
        base_files_skipped = 0
        for b in sorted(victims):
            fl = by_bucket[b]
            if b not in selective:
                old += fl
                continue
            base, deltas = self._split_kinds(fl)
            # same two-tier probe as the merge path: exact per-key
            # containment read driver-side from the tiny delta files when
            # the debt is sparse (scattered keys defeat envelope pruning),
            # envelope overlap past the probe guard
            keys = self._probe_staged_keys(deltas)
            if keys is not None:
                inter = [
                    f for f in base
                    if _keys_hit_file(keys, f.get("key_stats"),
                                      self.key_cols)
                ]
            else:
                inter = [
                    f for f in base
                    if any(_stats_intersect(f.get("key_stats"),
                                            d.get("key_stats"))
                           for d in deltas)
                ]
            inter_paths = {f["path"] for f in inter}
            disjoint = [f for f in base if f["path"] not in inter_paths]
            carried += disjoint
            base_files_skipped += len(disjoint)
            old += inter + deltas
        schema = T.StructType.fromJson(m["schema"])
        merged = self.arranged_updates(
            self._read_files(old, schema),
            size_bytes=sum(f.get("bytes") or 0 for f in old),
        )
        if purge_tombstones and TOMBSTONE_COL in schema.fieldNames():
            merged = merged.where(
                ~F.coalesce(F.col(TOMBSTONE_COL), F.lit(False))
            )
        staging, staged = self._stage_bucketed(merged, arranged=True)
        try:
            new_files = self._promote_all(staged)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        manifest = {
            **{k: v for k, v in m.items()
               if k not in ("version", "committed_at", "files",
                            "file_groups", "commit_stats")},
            "summary": {"compaction": {"buckets": sorted(victims)}},
            "parent": m["version"],
        }
        self._attach_files(manifest, carried + new_files, prev=m)
        version = self._commit_manifest(manifest, base_version=m["version"])
        return {
            "compacted_buckets": len(victims),
            "selective_buckets": len(selective),
            "base_files_skipped": base_files_skipped,
            "files_before": len(all_files),
            "files_after": len(carried) + len(new_files),
            # write volume of the fold itself, so callers amortizing the
            # fold into a commit's cost (post-commit hook, bench rows) can
            # report bytes consistent with the wall time they measured
            "bytes_written": sum(f.get("bytes") or 0 for f in new_files),
            "version": version,
        }

    def rebucket(self, n_buckets: int) -> dict[str, Any]:
        """Re-cluster the WHOLE table under a new bucket count — Iceberg's
        bucket-transform partition evolution (``ALTER TABLE ... REPLACE
        PARTITION FIELD bucket(N, key)``) for this layout.

        ``n_buckets`` is otherwise a frozen layout invariant (merges,
        compaction, staging width and point lookups all derive placement
        from it), which would make the creation-time choice permanent: a
        table bucketed for its first TB is mis-bucketed at 100 TB — huge
        buckets, coarse lookup pruning, capped merge parallelism. This
        rewrites every live row through the same arranged single-shuffle
        plan at the NEW width in one snapshot-isolated commit: applied-epoch
        spaces, schema and row-level provenance carry over; tombstones are
        preserved (they still arbitrate late data); MOR delta files are
        folded into base in passing. Cost: one full-table rewrite — a rare,
        deliberate maintenance action (run it like a compaction window).
        Concurrent writers planned under the old layout are rejected by the
        merge path's layout-drift guard and must re-attach."""
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        import shutil

        m = self.manifest()
        if m is None:
            # nothing committed yet: the new width simply becomes the
            # creation layout
            self.n_buckets = n_buckets
            return {"rebucketed": False, "n_buckets": n_buckets}
        all_files = self._files_of(m)
        schema = T.StructType.fromJson(m["schema"])
        # the PRIOR layout is the manifest's, not this handle's (a stale
        # handle may rebucket too — the rewrite is correct either way, but
        # the audit summary must report the real lineage)
        old_n = m.get("n_buckets", self.n_buckets)
        prev_attached = self.n_buckets
        # raw read of base AND delta files: arranged_updates arbitrates
        # latest-wins per key (live deltas are strictly newer than their
        # base rows by the write-time invariant), folding MOR state for free
        df = self._read_files(all_files, schema)
        self.n_buckets = n_buckets
        try:
            merged = self.arranged_updates(
                df, size_bytes=sum(f.get("bytes") or 0 for f in all_files)
            )
            staging, staged = self._stage_bucketed(merged, arranged=True)
            try:
                new_files = self._promote_all(staged)
            finally:
                shutil.rmtree(staging, ignore_errors=True)
            manifest = {
                **{k: v for k, v in m.items()
                   if k not in ("version", "committed_at", "files",
                                "file_groups", "manifest_n_groups",
                                "n_buckets", "commit_stats")},
                "n_buckets": n_buckets,
                "summary": {"rebucket": {"from": old_n, "to": n_buckets}},
                "parent": m["version"],
            }
            self._attach_files(manifest, new_files)
            version = self._commit_manifest(manifest, base_version=m["version"])
        except BaseException:
            self.n_buckets = prev_attached
            raise
        return {
            "rebucketed": True,
            "from": old_n,
            "to": n_buckets,
            "files_before": len(all_files),
            "files_after": len(new_files),
            "version": version,
        }

    def replace_all(
        self,
        updates: DataFrame,
        epoch_ids: list[int],
        *,
        epoch_space: str = "batch",
        extra_summary: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Commit ``updates`` as the table's ENTIRE new contents — no carry,
        no latest-wins arbitration against incumbents (the INSERT OVERWRITE
        / RTAS analog). The one writer verb that can LOWER a key's order
        value or drop keys outright, which ``merge_epochs``' monotone-order
        arbitration deliberately cannot — for consumers rebuilding from an
        authoritative upstream state (``Mirror`` full resync: a source
        fix-and-replay may re-issue a key under the SAME commit with
        different content, and a purged key must simply vanish, not fight a
        fabricated tombstone). The ``epoch_space`` applied set is RESET to
        exactly ``epoch_ids``; other spaces carry over. Snapshot-isolated:
        prior versions stay readable; a lost commit race re-links on the
        new base (the contents don't depend on it)."""
        import shutil

        schema = T.StructType(
            [f for f in updates.schema.fields if f.name != "_bucket"]
        )
        merged = (
            updates if "_bucket" in updates.columns
            else self.arranged_updates(updates, _plan_bytes(updates))
        )
        staging, staged = self._stage_bucketed(merged, arranged=True)
        try:
            new_files = self._promote_all(staged)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        for _ in range(3):
            m = self.manifest()
            if (
                m is not None
                and m.get("n_buckets", self.n_buckets) != self.n_buckets
            ):
                # same guard as the merge path: a stale handle's replace
                # would otherwise silently REVERT a concurrent rebucket
                # (its manifest records this handle's old bucket count)
                raise LayoutDriftError(
                    f"table {self.root} was rebucketed to "
                    f"{m['n_buckets']} buckets (this handle attached at "
                    f"{self.n_buckets}); re-attach before writing"
                )
            spaces = {
                k: v for k, v in (m or {}).items()
                if k.startswith("applied_epochs")
            }
            spaces[_space_key(epoch_space)] = encode_epoch_ranges(
                set(int(e) for e in epoch_ids)
            )
            manifest = {
                "schema": schema.jsonValue(),
                **spaces,
                "key_cols": list(self.key_cols),
                "bucket_cols": (
                    list(self.bucket_cols) if self.bucket_cols else None
                ),
                "order_col": self.order_col,
                "n_buckets": self.n_buckets,
                "max_files_per_bucket": self.max_files_per_bucket,
                "target_file_rows": self.target_file_rows,
                "merge_mode": self.merge_mode,
                "fold_broadcast_rows": self.fold_broadcast_rows,
                "compact_after_commit": self.compact_after_commit,
                "rewrite_probe": self.rewrite_probe,
                "summary": {**(extra_summary or {}), "replace_all": True},
                "parent": m["version"] if m else None,
            }
            self._attach_files(manifest, new_files)
            try:
                version = self._commit_manifest(
                    manifest, base_version=m["version"] if m else 0
                )
                break
            except FileExistsError:
                continue  # re-link on the new base; contents unchanged
        else:
            raise RuntimeError(
                f"replace_all lost the commit race 3 times on {self.root}"
            )
        return {
            "version": version,
            "replaced": True,
            "epochs": sorted(int(e) for e in epoch_ids),
            "rows_written": sum(f["rows"] for f in new_files),
            "files_after": len(new_files),
        }

    def fsck(self) -> dict[str, Any]:
        """Verify snapshot integrity against the filesystem.

        Checks, per the current manifest: every data file exists and its
        parquet footer row count matches the manifest entry; bucket ids are in
        range (buckets may hold several live files — merge prunes at file
        granularity — but no more than ``max_files_per_bucket``); every
        applied-epoch space grew monotonically across retained snapshots.
        Returns a report; ``ok`` is False on any finding.
        """
        import pyarrow.parquet as _pq

        findings: list[str] = []
        m = self.manifest()
        if m is None:
            return {"ok": True, "findings": ["empty table (no snapshot)"]}
        if "file_groups" in m:
            entries = []
            for g in m["file_groups"]:
                if Path(g["path"]).exists():
                    entries.extend(self._load_group(g))
                else:
                    findings.append(f"missing manifest group {g['path']}")
        else:
            entries = m.get("files", [])
        per_bucket: dict[int, int] = {}
        rows_per_bucket: dict[int, int] = {}
        for f in entries:
            p = Path(f["path"])
            if not p.exists():
                findings.append(f"missing data file {p.name} (bucket {f['bucket']})")
                continue
            rows = _pq.read_metadata(p).num_rows
            if rows != f["rows"]:
                findings.append(
                    f"row drift in {p.name}: manifest {f['rows']} vs footer {rows}"
                )
            if not 0 <= f["bucket"] < m.get("n_buckets", self.n_buckets):
                findings.append(f"bucket id {f['bucket']} out of range in {p.name}")
            per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
            rows_per_bucket[f["bucket"]] = (
                rows_per_bucket.get(f["bucket"], 0) + f.get("rows", 0)
            )
        for b, n in sorted(per_bucket.items()):
            allowed = self._bucket_file_allowance(rows_per_bucket.get(b, 0))
            if n > allowed:
                findings.append(f"bucket {b} has {n} live files (> {allowed})")
        prev: dict[str, set[int]] = {}
        for v in self.versions():
            mv = self.manifest(v)
            if "rollback_of" in (mv.get("summary") or {}):
                # an explicit rollback legitimately shrinks the applied sets
                prev = {}
            for k in [k for k in mv if k.startswith("applied_epochs")]:
                cur = decode_epoch_ranges(mv[k])
                if not prev.get(k, set()) <= cur:
                    findings.append(
                        f"{k} set shrank at v{v}: lost {sorted(prev[k] - cur)}"
                    )
                prev[k] = cur
        return {
            "ok": not findings,
            "findings": findings,
            "files_checked": len(entries),
            "versions_checked": len(self.versions()),
        }

    # ---- write / merge ---------------------------------------------------------

    @property
    def placement_cols(self) -> tuple[str, ...]:
        """Columns whose hash places a row in a bucket (bucket_cols when
        prefix bucketing is configured, the full key otherwise)."""
        return self.bucket_cols or self.key_cols

    def _bucket_expr(self):
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.placement_cols]),
            F.lit(self.n_buckets),
        ).cast("int")

    # deltas with at most this many rows in a bucket get exact per-key
    # containment pruning (driver-side read of the tiny staged file's key
    # columns); larger deltas use range-envelope overlap
    key_probe_limit = 1024

    # rewrite_probe="auto" fires only when the stats-based rewrite set holds
    # at least this many candidate files: below it the probe job's fixed
    # scheduling cost (~one tiny Spark job) outweighs the rewrites it could
    # save, so steady-state sparse commits stay zero-extra-jobs
    rewrite_probe_min_files = 64

    # ... and only when the delta is SPARSE relative to the candidates:
    # with k = delta keys per candidate file, the fraction of candidates a
    # probe can drop is ~e^-k (a file misses only if none of the k keys
    # expected to land in it actually do). Dense commits (bulk replay
    # epochs: thousands of keys per file) have ~zero droppable files, so
    # probing them is a pure key-scan tax on the ingest hot path. At the
    # cap of 2 keys/file the expected savings floor is ~14% of candidate
    # rewrites — comfortably above the probe's cost. Both inputs are known
    # pre-probe from footers (staged rows) and the manifest (file count).
    rewrite_probe_keys_per_file = 2.0

    def _probe_staged_keys(self, sfiles: list[dict]) -> list[tuple] | None:
        """Key tuples of a SPARSE staged delta (None if too large to probe).

        Reading a few KB of key columns from one or two bucket-pure staged
        files is a driver-side pyarrow read — no Spark job — and buys exact
        file pruning for the steady-state CDC case where an epoch touches a
        handful of keys per bucket.
        """
        if sum(f["rows"] for f in sfiles) > self.key_probe_limit:
            return None
        keys: list[tuple] = []
        for f in sfiles:
            try:
                tbl = pq.read_table(f["path"], columns=list(self.key_cols))
            except Exception:
                return None
            cols = [tbl.column(c).to_pylist() for c in self.key_cols]
            keys.extend(zip(*cols))
        return keys

    def _arrow_fresh_rows(
        self, staged: list[dict], live: list[dict], schema: T.StructType
    ) -> int | None:
        """The write-time stale filter's verdict on the driver, with no
        Spark job: how many rows of the ``staged`` files strictly beat the
        newest non-null ``order_col`` of their key in the ``live`` files.
        None when a key or order type compares differently in Python than
        in Spark (:data:`_PY_ORDERED_TYPES`); the caller then runs the
        Spark filter.

        Only the key and order columns are read, on a thread pool, and
        each live file only where its first key column holds a staged
        value, so row-group stats prune. Keys match null-safely (a
        ``None`` in a tuple equals ``None``), as ``eqNullSafe`` does; a
        staged row with a null order, or an order equal to the newest,
        is stale."""
        from concurrent.futures import ThreadPoolExecutor

        by_name = {f.name: f for f in schema.fields}
        cols = [*self.key_cols, self.order_col]
        if not all(
            isinstance(by_name[c].dataType, _PY_ORDERED_TYPES) for c in cols
        ):
            return None
        target = to_arrow_schema(T.StructType([by_name[c] for c in cols]))
        with ThreadPoolExecutor(max_workers=16) as ex:
            new = pa.concat_tables([target.empty_table(), *ex.map(
                lambda f: _read_aligned(f["path"], target), staged
            )])
            lead = new.column(0).combine_chunks().unique()
            old = pa.concat_tables([target.empty_table(), *ex.map(
                lambda f: _read_aligned(f["path"], target, lead), live
            )])
        # Arrow's hash aggregate groups null keys together and its max
        # skips null orders; a key whose orders are all null drops out
        newest = (
            old.group_by(list(self.key_cols), use_threads=False)
            .aggregate([(self.order_col, "max")])
            .filter(pc.is_valid(pc.field(f"{self.order_col}_max")))
        )
        latest = dict(zip(
            zip(*[newest.column(c).to_pylist() for c in self.key_cols]),
            newest.column(f"{self.order_col}_max").to_pylist(),
        ))
        kept = 0
        for *key, order in zip(*[new.column(c).to_pylist() for c in cols]):
            top = latest.get(tuple(key))
            if top is None or (order is not None and order > top):
                kept += 1
        return kept

    def _stale_filter_spark(
        self, staged: list[dict], live: list[dict],
        data_schema: T.StructType, schema: T.StructType,
    ) -> DataFrame:
        """The rows of the ``staged`` files that strictly beat the newest
        live row of their key, as a Spark plan: a column-pruned (keys +
        order) scan of the ``live`` files, semi-joined to the staged keys
        so the max-order aggregate shuffles O(delta keys) rows, then a
        null-safe left join. Same broadcast guard as the read fold: a
        backfill-sized commit mis-routed through MOR degrades to a
        shuffle, not an OOM (the staged row count is exact, from the
        footers)."""
        n_staged = sum(f["rows"] for f in staged)
        kcols = list(self.key_cols)
        staged_df = self._read_files(staged, data_schema)
        existing = self._read_files(live, schema).select(
            *kcols, self.order_col
        )

        def _bc(df: DataFrame) -> DataFrame:
            if n_staged > self.fold_broadcast_rows:
                return df
            return F.broadcast(df)

        skeys = _bc(
            staged_df.select(*[F.col(k).alias(f"_s_{k}") for k in kcols])
        )
        sem = None
        for k in kcols:
            c = existing[k].eqNullSafe(F.col(f"_s_{k}"))
            sem = c if sem is None else (sem & c)
        emax = (
            existing.join(skeys, sem, "left_semi")
            .groupBy(*kcols)
            .agg(F.max(self.order_col).alias("_e_order"))
            .select(
                *[F.col(k).alias(f"_e_{k}") for k in kcols],
                "_e_order",
            )
        )
        jc = None
        for k in kcols:
            c = staged_df[k].eqNullSafe(F.col(f"_e_{k}"))
            jc = c if jc is None else (jc & c)
        return (
            staged_df.join(_bc(emax), jc, "left")
            .where(
                F.col("_e_order").isNull()
                | (staged_df[self.order_col] > F.col("_e_order"))
            )
            .select(*[f.name for f in data_schema.fields])
        )

    def _probe_hit_names(
        self,
        candidates: list[dict],
        keysrc: list[dict],
        schema: T.StructType,
    ) -> set[str] | None:
        """Exact rewrite-set refinement: basenames of candidate files that
        REALLY contain at least one delta key.

        One Spark job: a key-column-only scan of the candidate files (tagged
        with input_file_name) left-semi-joined — null-safely, on the full
        key tuple — against the delta's distinct keys. Per-file [min, max]
        stats over-approximate twice (range gaps; per-column decomposition
        of tuple keys), and every false positive costs a full-width file
        rewrite; the probe trades those for a columnar read of just the key
        columns, which parquet serves without touching payload pages. Sound
        by construction: actual keys are read, so only true non-matches are
        dropped. Returns None on failure — the caller keeps the
        conservative stats-based set.
        """
        if not candidates:
            return set()
        if not keysrc:
            return set()
        by_name = {f.name: f for f in schema.fields}
        kschema = T.StructType([by_name[c] for c in self.key_cols])
        try:
            cand = self._read_files(candidates, kschema).withColumn(
                "_f", F.input_file_name()
            )
            keys = self._read_files(keysrc, kschema).dropDuplicates(
                list(self.key_cols)
            )
            # same broadcast guard as the MOR fold: rows are exact from the
            # staged/delta footers, so a backfill-sized delta degrades to a
            # shuffle instead of OOMing the executors
            if sum(f["rows"] for f in keysrc) <= self.fold_broadcast_rows:
                keys = F.broadcast(keys)
            cond = None
            for k in self.key_cols:
                c = cand[k].eqNullSafe(keys[k])
                cond = c if cond is None else cond & c
            rows = (
                cand.join(keys, cond, "left_semi")
                .select("_f").distinct().collect()
            )
        except Exception:
            return None
        from urllib.parse import unquote, urlparse

        # input_file_name yields a (possibly percent-encoded) file: URI;
        # our data files are uuid-hex named, so basenames identify them.
        # A (vanishing) basename collision only ever ADDS a file to the
        # hit set — the refinement stays sound.
        return {
            os.path.basename(unquote(urlparse(r["_f"]).path)) for r in rows
        }

    def _footer_stats(self, meta) -> tuple[dict | None, list | None]:
        """(key_stats, order_stats) from a parquet footer's row-group stats.

        key_stats: ``{key_col: [min, max]}`` — drives file-level merge
        pruning. order_stats: ``[min, max]`` of the order column — exact
        per-file LSN range for zero-job lineage. Missing/truncation-unsafe
        stats yield None (callers treat None as "unknown", never prune on it).
        """
        return _footer_stats_of(meta, self.key_cols, self.order_col)

    def _staging_width(self, size_bytes: int | None) -> int:
        """Reducer count for the bucket-staging exchange.

        4 x n_buckets gives uniform reducer waves on a big batch (see
        arranged_updates) but is pure scheduler overhead on a small one —
        a KB-sized steady-state CDC delta would pay ~1,000 near-empty
        tasks per commit. Callers that know the batch's input size (the
        pipeline from its segment listing, the merge/compaction paths from
        manifest byte counts, merge_epochs and replace_all otherwise from
        the optimizer's estimate) pass it here: one reducer per ~256 KB of
        input, floored at the cluster's parallelism and capped at the
        wide default. Unknown size keeps the wide default.
        """
        wide = 4 * self.n_buckets
        if not size_bytes or size_bytes <= 0:
            return wide
        par = max(1, self.spark.sparkContext.defaultParallelism)
        # cap LAST: reducers beyond 4 x n_buckets are empty by construction
        # (only n_buckets distinct _bucket values exist), so on a cluster
        # whose parallelism exceeds the wide default the cap must still win
        return min(wide, max(par, -(-size_bytes // (256 << 10))))

    def arranged_updates(
        self, df: DataFrame, size_bytes: int | None = None
    ) -> DataFrame:
        """Fused dedupe + bucket arrangement in ONE payload shuffle.

        The window (partitioned on ``_bucket``, ordered by key columns then
        ``order_col`` DESC) induces a single hash exchange on the bucket; the
        keep-first-per-key lag filter is latest-wins dedupe; and the window's
        sort order (_bucket, keys, order desc) is exactly what the
        dynamic-partition writer needs, so :meth:`_stage_bucketed` with
        ``arranged=True`` adds NO further exchange or sort. Compared to
        ``latest_by_key`` + staging (two payload shuffles), the steady-state
        ingest moves every payload byte through the cluster once.

        Trade-off: a mega-key with millions of duplicate events lands in one
        partition (no map-side combine), so heavy-duplicate skew should use
        the ``maxby``/``salted`` strategies instead — the pipeline's ``auto``
        probe makes that call. Callers may add derived columns (sha256) AFTER
        this plan; they compute on winners only, in the same stage.
        """
        from pyspark.sql import Window

        key_struct = F.struct(*[F.col(k) for k in self.key_cols])
        w = Window.partitionBy("_bucket").orderBy(
            *[F.col(k) for k in self.key_cols], F.col(self.order_col).desc()
        )
        payload = [c for c in df.columns if c not in self.key_cols]
        return (
            df.withColumn("_bucket", self._bucket_expr())
            # EXPLICIT wide exchange (4x buckets) that the window reuses
            # (hashpartitioning on _bucket satisfies its ClusteredDistribution
            # — no second shuffle). At the default shuffle_partitions ~= a
            # few x cores, hashing n_buckets DISTINCT bucket values into that
            # few reducers leaves task sizes varying by whole-bucket
            # multiples: measured 79% core utilization on the big reduce
            # stage (the wave tail is a reducer that drew 3-4 buckets).
            # 4 x n_buckets bins give ~1 bucket per non-empty reducer —
            # uniform waves at every core count, which is exactly the N->4N
            # scaling criterion's bottleneck. Bucket-purity per task (and so
            # per file) is untouched: a bucket still lands in exactly one
            # reducer. Small batches narrow the exchange via _staging_width.
            .repartition(self._staging_width(size_bytes), "_bucket")
            .withColumn("_prevk", F.lag(key_struct).over(w))
            .where(F.col("_prevk").isNull() | (F.col("_prevk") != key_struct))
            # keys-first layout, matching the latest_by_key strategies, so
            # the physical dedupe choice never changes the table schema
            .select(*self.key_cols, *payload, "_bucket")
        )

    def _stage_bucketed(
        self, df: DataFrame, *, arranged: bool = False,
        size_bytes: int | None = None,
    ) -> tuple[Path, list[dict[str, Any]]]:
        """Materialize df ONCE as bucket-pure, key-sorted parquet in a staging
        dir, split into files of at most ``target_file_rows`` rows.

        One shuffle, partitioned on the bucket column, so every output file
        holds exactly one bucket; within a bucket the key-sorted write plus
        maxRecordsPerFile yields several files each covering a NARROW
        contiguous key range — the min/max footer stats recorded here let
        merges rewrite only the files a delta's keys can actually touch.
        The bucket set is discovered from the staging dirs instead of a
        second evaluation of the (expensive) upstream plan.
        """
        staging = self.root / f"_staging-{uuid.uuid4().hex}"
        if not arranged:
            # cluster-order on write (P7). _bucket MUST lead the sort: the
            # dynamic-partition writer requires rows ordered by partition
            # columns and otherwise inserts its own (unstable) sort on
            # _bucket alone, which would scramble the key clustering and
            # widen every file's key range to the whole domain.
            df = (
                df.withColumn("_bucket", self._bucket_expr())
                # 4x buckets for uniform reducer waves (see arranged_updates);
                # a bucket still maps to exactly one task, so files stay
                # bucket-pure and per-bucket file counts are unchanged
                .repartition(self._staging_width(size_bytes), "_bucket")
                .sortWithinPartitions("_bucket", *self.key_cols)
            )
        # arranged=True: df comes from arranged_updates — already bucketed,
        # partitioned and (_bucket, keys)-sorted by the window; writing it
        # directly adds zero exchanges.
        (
            df.write.mode("overwrite")
            .option("maxRecordsPerFile", self.target_file_rows)
            .partitionBy("_bucket")
            .parquet(str(staging))
        )
        parts: list[tuple[int, Path]] = []
        for bdir in sorted(staging.glob("_bucket=*")):
            bucket = int(bdir.name.split("=")[1])
            for part in sorted(bdir.glob("*.parquet")):
                parts.append((bucket, part))

        def stat_one(item):
            bucket, part = item
            meta = pq.read_metadata(part)
            key_stats, order_stats = self._footer_stats(meta)
            return {
                "path": str(part),
                "bucket": bucket,
                "rows": meta.num_rows,
                "bytes": part.stat().st_size,
                "key_stats": key_stats,
                "order_stats": order_stats,
            }

        if len(parts) > self.stats_distributed_files:
            # bulk-load commits (bootstrap/backfill/rebucket) can stage
            # 10^5-10^6 files; pyarrow footer parsing is GIL-bound, so a
            # driver thread pool flatlines at ~0.4 ms/file no matter how
            # many threads (measured 16 == 48 == 96 workers) — minutes of
            # serial driver time at scale. Past the threshold the footers
            # are read executor-side instead (they live on shared storage
            # on a real cluster), one Arrow batch of (bucket, path) per
            # task; stats come back JSON-encoded (the manifest stores them
            # as JSON anyway, so the round-trip is lossless by
            # construction).
            infos = self._stat_staged_distributed(parts)
        else:
            # steady-state commits stage few files; a driver thread pool
            # beats a Spark job's scheduling overhead
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=16) as ex:
                infos = list(ex.map(stat_one, parts))
        return staging, infos

    def _stat_staged_distributed(
        self, parts: list[tuple[int, Path]]
    ) -> list[dict[str, Any]]:
        """Footer stats for a large staged file set, read on the executors."""
        key_cols, order_col = self.key_cols, self.order_col

        def read_footers(batches):
            import json as _json
            import os as _os

            import pandas as _pd
            import pyarrow.parquet as _pq

            for pdf in batches:
                out = {"bucket": [], "path": [], "rows": [], "bytes": [],
                       "key_stats": [], "order_stats": []}
                for bucket, path in zip(pdf["bucket"], pdf["path"]):
                    meta = _pq.read_metadata(path)
                    ks, os_ = _footer_stats_of(meta, key_cols, order_col)
                    out["bucket"].append(bucket)
                    out["path"].append(path)
                    out["rows"].append(meta.num_rows)
                    out["bytes"].append(_os.stat(path).st_size)
                    out["key_stats"].append(_json.dumps(ks))
                    out["order_stats"].append(_json.dumps(os_))
                yield _pd.DataFrame(out)

        par = max(1, self.spark.sparkContext.defaultParallelism)
        src = self.spark.createDataFrame(
            [(b, str(p)) for b, p in parts], "bucket int, path string"
        ).repartition(min(4 * par, max(par, len(parts) // 2048)))
        rows = src.mapInPandas(
            read_footers,
            "bucket int, path string, rows long, bytes long, "
            "key_stats string, order_stats string",
        ).collect()
        return [
            {
                "path": r["path"],
                "bucket": r["bucket"],
                "rows": r["rows"],
                "bytes": r["bytes"],
                "key_stats": json.loads(r["key_stats"]),
                "order_stats": json.loads(r["order_stats"]),
            }
            for r in rows
        ]

    def _promote(self, info: dict[str, Any]) -> dict[str, Any]:
        """Move a staged file into data/ (rename-only; no rewrite)."""
        dest = self.root / DATA_DIR / f"{uuid.uuid4().hex}.parquet"
        os.replace(info["path"], dest)
        return {**info, "path": str(dest)}

    def _promote_all(self, staged: list[dict[str, Any]]) -> list[dict[str, Any]]:
        """Promote many staged files; order-preserving.

        Renames are independent metadata ops, so they overlap: on local fs
        the syscall loop is merely worth hiding, but on an object-store- or
        HDFS-backed deployment each rename is a ~10-50 ms RPC and a
        bulk-load commit promoting 10^5 files serially would spend tens of
        minutes in this loop. Small commits skip the pool."""
        if len(staged) <= 64:
            return [self._promote(f) for f in staged]
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=32) as ex:
            return list(ex.map(self._promote, staged))


    def merge_epoch(
        self,
        updates: DataFrame,
        epoch_id: int,
        *,
        extra_summary: dict[str, Any] | None = None,
        assume_deduped: bool = False,
        epoch_space: str = "batch",
        merge_mode: str | None = None,
    ) -> dict[str, Any]:
        """Idempotent keyed upsert of one epoch (MERGE INTO semantics).

        Latest ``order_col`` wins against rows already in the table. Unless
        ``assume_deduped`` is set, updates are deduped to one row per key
        first — callers whose plan already guarantees it (the pipeline's
        dedupe stage) pass True to skip the redundant shuffle. Returns commit
        stats; a replay of a committed epoch returns ``{"skipped": True}``
        without touching data.
        """
        return self.merge_epochs(
            updates, [epoch_id], extra_summary=extra_summary,
            assume_deduped=assume_deduped, epoch_space=epoch_space,
            merge_mode=merge_mode,
        )

    def delete_epochs(
        self,
        keys: DataFrame,
        epoch_ids: list[int],
        *,
        epoch_space: str = "batch",
        merge_mode: str | None = None,
    ) -> dict[str, Any]:
        """CDC DELETE: apply tombstones for ``keys`` (a DataFrame carrying
        the key columns plus ``order_col`` — the delete's commit/LSN, which
        must arbitrate against upserts like any change event).

        Same idempotent exactly-once merge as upserts; the tombstone wins
        latest-wins against any older row and loses to a newer upsert, so
        out-of-order re-deliveries can neither resurrect a deleted key nor
        delete a newer version. Deleted keys vanish from ``read()``/
        ``lookup()`` but remain visible (flagged) in the change feed."""
        extra = [c for c in keys.columns
                 if c not in self.key_cols and c != self.order_col]
        tomb = keys.drop(*extra).withColumn(TOMBSTONE_COL, F.lit(True))
        schema = self.schema() if self.exists() else None
        if (
            schema is not None
            and "epoch" in schema.fieldNames()
            and "epoch" not in tomb.columns
        ):
            # the table carries per-row epoch provenance (pipeline tables do);
            # a NULL-epoch tombstone would be dropped by the change feed's
            # epoch-range filter — stamp it like any other change row. The
            # stamp must be an epoch the commit will actually APPLY: on a
            # partial replay (some of epoch_ids already applied) a row
            # stamped with an applied id falls outside changes_between's
            # new-epoch ranges and the delete becomes invisible to CDC-out
            # consumers. The column is added here only for schema shape;
            # the VALUE is resolved inside the commit path (stamp_epoch)
            # from the same manifest snapshot _merge_epochs_once reads —
            # a pre-read here would race a concurrent commit applying one
            # of epoch_ids in the window between the reads.
            tomb = tomb.withColumn(
                "epoch",
                F.lit(int(epoch_ids[-1])).cast(schema["epoch"].dataType),
            )
            return self.merge_epochs(
                tomb, epoch_ids, epoch_space=epoch_space,
                merge_mode=merge_mode, extra_summary={"deletes": True},
                stamp_epoch=True,
            )
        return self.merge_epochs(
            tomb, epoch_ids, epoch_space=epoch_space, merge_mode=merge_mode,
            extra_summary={"deletes": True},
        )

    def merge_epochs(
        self,
        updates: DataFrame,
        epoch_ids: list[int],
        *,
        extra_summary: dict[str, Any] | None = None,
        max_retries: int = 3,
        assume_deduped: bool = False,
        epoch_space: str = "batch",
        merge_mode: str | None = None,
        size_hint: int | None = None,
        stamp_epoch: bool = False,
        stage_as: str | None = None,
    ) -> dict[str, Any]:
        """Idempotent keyed upsert of one or more epochs in a single commit.

        ``stage_as``: write-audit-publish. The merge runs in full — data
        files land in data/, the manifest is built — but instead of
        publishing it as the next version, the manifest is parked as staged
        ref ``stage_as`` (create-once; :class:`StagedRefExistsError` if
        taken). The table keeps serving its current snapshot; audit the
        staged state via :meth:`read_staged`, then :meth:`publish_staged`
        (fast-forward, conflict-checked) or :meth:`abort_staged`. The
        post-commit compaction hook never fires for a staged merge.

        ``stamp_epoch``: overwrite the rows' ``epoch`` column with the last
        epoch id this commit actually applies, resolved from the SAME
        manifest snapshot the commit reads (and re-resolved on every
        lost-race retry) — used by :meth:`delete_epochs` so tombstone
        provenance can never cite an epoch a concurrent commit applied
        first.

        ``size_hint``: input bytes of the batch, when the caller knows it
        (the pipeline's segment listing does) — sizes the staging exchange
        so a KB-sized delta does not pay a 4 x n_buckets-task shuffle
        (:meth:`_staging_width`). Default: the optimizer's size estimate of
        ``updates`` (:func:`_plan_bytes`).

        ``merge_mode`` overrides the table's write policy for THIS commit
        (``"cow"`` rewrite / ``"mor"`` delta files folded on read) — e.g. a
        bulk backfill on a MOR table wants COW, a scattered hot-key patch on
        a COW table wants MOR. Default: the table's configured mode.

        The multi-epoch form backs catch-up/bootstrap replay: N pending
        segments deduped together and applied in ONE snapshot commit — one
        table rewrite instead of N (SURVEY §2.9: epoch = set of binlog
        segments). All epoch ids land atomically in the manifest's
        applied-epoch set, so a crash mid-catch-up replays cleanly.

        Concurrent writers: if another writer swaps the manifest first, the
        atomic link raises and this merge RE-PLANS against the new snapshot
        (Iceberg's optimistic-concurrency loop). A competing writer that
        applied the same epochs turns the retry into a skip; files written by
        the losing attempt become orphans for ``vacuum``.
        """
        if size_hint is None:
            size_hint = _plan_bytes(updates)
        if not assume_deduped and "_bucket" not in updates.columns:
            # Safe-by-default: the invariant "one row per key per file, key
            # sets disjoint across a bucket's files" is what makes file-level
            # COW correct — enforce it here unless the caller's plan already
            # guarantees it. The fused arranged plan dedupes and bucket-
            # arranges in the same single shuffle the staging write needs.
            updates = self.arranged_updates(updates, size_bytes=size_hint)
        if stage_as is not None:
            # validate the name AND fail a taken ref in milliseconds, before
            # the merge runs: without this, a re-run after a staged-but-
            # crashed replay re-executes the whole clean/dedupe/merge job
            # (hours at scale), promotes a second orphan file set, and only
            # THEN hits the authoritative os.link conflict
            if self._staged_path(stage_as).exists():
                raise StagedRefExistsError(
                    f"staged ref {stage_as!r} already exists on {self.root}; "
                    "publish or abort it first"
                )
        last_err: Exception | None = None
        for _ in range(max_retries):
            try:
                out = self._merge_epochs_once(
                    updates, epoch_ids, extra_summary, epoch_space,
                    merge_mode or self.merge_mode, size_hint=size_hint,
                    stamp_epoch=stamp_epoch, stage_as=stage_as,
                )
                break
            except FileExistsError as err:
                last_err = err  # manifest swap lost; re-plan from new snapshot
        else:
            raise RuntimeError(
                f"merge of epochs {epoch_ids} lost the commit race "
                f"{max_retries} times; giving up"
            ) from last_err
        if out.get("staged"):
            out.pop("_manifest", None)
            return out  # unpublished: no post-commit maintenance to run
        return self._maybe_compact_after_commit(out)

    def _maybe_compact_after_commit(self, commit: dict[str, Any]) -> dict[str, Any]:
        """Post-commit maintenance hook (``compact_after_commit="auto"``):
        fold accumulated MOR debt back into base files in a follow-up
        snapshot-isolated commit when the just-committed snapshot crosses
        either of ``cli status``'s ``suggested_compact`` arms — live delta
        ROWS exceed half the broadcast-fold guard, or some bucket sits AT
        the per-bucket delta-file cap (the next delta commit to it would
        pay the fold inline). An auto-policy table therefore never reaches
        the degraded shuffle-fold read path and never parks at the cap;
        the fold cost is amortized over the cheap MOR commits that
        accumulated the debt. The no-op path is free: both checks run on
        the manifest the merge just built (threaded via ``_manifest``) —
        no disk re-read, no Spark job, no group loads."""
        m = commit.pop("_manifest", None)
        if self.compact_after_commit != "auto" or commit.get("skipped"):
            return commit
        advice = self.compaction_advice(m)
        if not advice["suggested_compact"]:
            return commit
        debt = advice["delta_rows"]
        try:
            folded = self.compact()
        except Exception as err:  # noqa: BLE001 — best-effort by contract
            # The MERGE already committed — the fold is best-effort
            # maintenance and must NEVER turn a successful commit into a
            # failure (a streaming foreachBatch would otherwise kill the
            # query, and a batch caller would re-run a whole replay, for
            # an epoch that landed). Expected shapes: FileExistsError (a
            # concurrent writer won the fold's manifest swap; its own hook
            # sees the debt), LayoutDriftError (a rebucket landed in the
            # window — it folds deltas itself); but a transient Spark
            # failure inside compact() must be swallowed for the same
            # reason. Either way the debt is still counted by
            # live_delta_rows, so the NEXT commit retries the fold.
            return {**commit, "post_compact_skipped": type(err).__name__}
        return {
            **commit,
            "post_compact": {**folded, "delta_rows_before": debt},
        }

    def _merge_epochs_once(
        self,
        updates: DataFrame,
        epoch_ids: list[int],
        extra_summary: dict[str, Any] | None,
        epoch_space: str,
        mode: str = "cow",
        size_hint: int | None = None,
        stamp_epoch: bool = False,
        stage_as: str | None = None,
    ) -> dict[str, Any]:
        # ONE manifest read: applied epochs, schema, file entries and the
        # commit's base_version all derive from the same snapshot. Two reads
        # would be a TOCTOU — a concurrent commit landing between them could
        # shrink the applied-epoch set (overwritten from the stale read)
        # without tripping the os.link conflict, re-delivering its rows.
        m = self.manifest()
        if m is not None and m.get("n_buckets", self.n_buckets) != self.n_buckets:
            # a rebucket() landed after this handle attached: its arranged
            # plan would place rows under the OLD bucket scheme — corrupt
            # clustering, wrong lookups. Fail loudly; the caller re-attaches.
            raise LayoutDriftError(
                f"table {self.root} was rebucketed to {m['n_buckets']} "
                f"buckets (this handle attached at {self.n_buckets}); "
                "re-attach before writing"
            )
        applied = (
            decode_epoch_ranges(m.get(_space_key(epoch_space))) if m else set()
        )
        new_ids = [e for e in epoch_ids if e not in applied]
        if not new_ids:
            return {"skipped": True, "epochs": sorted(epoch_ids)}
        if stamp_epoch and "epoch" in updates.columns:
            # provenance stamp resolved from THIS snapshot's applied set —
            # always an epoch this commit applies, so changes_between's
            # new-epoch ranges are guaranteed to cover the row
            updates = updates.withColumn(
                "epoch",
                F.lit(int(new_ids[-1])).cast(
                    updates.schema["epoch"].dataType
                ),
            )

        # Every commit-id space from the current snapshot carries over; only
        # this merge's own space gains epochs.
        spaces = {k: v for k, v in (m or {}).items()
                  if k.startswith("applied_epochs")}
        spaces[_space_key(epoch_space)] = encode_epoch_ranges(
            applied | set(new_ids)
        )

        arranged = "_bucket" in updates.columns
        data_schema = (
            updates.drop("_bucket").schema if arranged else updates.schema
        )
        if m is not None:
            old_schema = T.StructType.fromJson(m["schema"])
            merged_schema = _merge_schemas(
                old_schema, data_schema, frozen=self.key_cols
            )
        else:
            merged_schema = data_schema

        # Stage the updates ONCE (the only evaluation of the upstream plan);
        # the touched-file set and per-file key/LSN stats fall out of the
        # staging layout + parquet footers for free.
        import shutil
        from collections import defaultdict

        staging, staged = self._stage_bucketed(
            updates, arranged=arranged, size_bytes=size_hint
        )
        try:
            staged_by_bucket: dict[int, list] = defaultdict(list)
            for f in staged:
                staged_by_bucket[f["bucket"]].append(f)
            # Old entries: with a GROUPED manifest only the groups covering
            # touched buckets are parsed; the rest carry over by reference,
            # untouched and unread — per-commit manifest IO is O(touched
            # groups), not O(total files).
            carried_group_refs: list[dict] | None = None
            old_entries: list[dict] = []
            if m is not None and "file_groups" in m:
                n_groups = m.get("manifest_n_groups", self.manifest_groups)
                touched_gids = {
                    self._group_of(b, n_groups) for b in staged_by_bucket
                }
                carried_group_refs = []
                for g in m["file_groups"]:
                    if g["group_id"] in touched_gids:
                        old_entries.extend(self._load_group(g))
                    else:
                        carried_group_refs.append(g)
            elif m is not None:
                old_entries = m.get("files", [])
            old_by_bucket: dict[int, list] = defaultdict(list)
            for f in old_entries:
                old_by_bucket[f["bucket"]].append(f)

            carried: list[dict] = []
            rewrite_old: list[dict] = []
            rewrite_staged: list[dict] = []
            promote_staged: list[dict] = []
            files_pruned = 0
            for b, olds in old_by_bucket.items():
                if b not in staged_by_bucket:
                    carried += olds
            # pre-read all sparse-delta key probes on a thread pool: the
            # per-bucket loop would otherwise serialize hundreds of tiny
            # staged-file reads on the driver for a scattered delta
            from concurrent.futures import ThreadPoolExecutor

            probe_buckets = sorted(staged_by_bucket)
            with ThreadPoolExecutor(max_workers=16) as ex:
                probed = dict(
                    zip(
                        probe_buckets,
                        ex.map(
                            lambda b: self._probe_staged_keys(
                                staged_by_bucket[b]
                            ),
                            probe_buckets,
                        ),
                    )
                )
            def _hit(files, keys, sref):
                # File-level pruning: an existing file whose key range can't
                # contain any delta key is untouched — a scattered-key delta
                # touches O(delta keys) files, not O(bucket). A SPARSE
                # per-bucket delta (the steady-state CDC shape) gets exact
                # per-key containment: its few keys are read driver-side from
                # the tiny staged file, because the staged file's min/max
                # ENVELOPE spans the whole domain when keys are scattered and
                # would defeat range-vs-range pruning. Large per-bucket
                # deltas fall back to envelope overlap (they touch most files
                # anyway). Files without stats (legacy manifests) are
                # conservatively treated as intersecting.
                if keys is not None:
                    return [
                        f for f in files
                        if _keys_hit_file(keys, f.get("key_stats"),
                                          self.key_cols)
                    ]
                return [
                    f for f in files
                    if any(_stats_intersect(f.get("key_stats"),
                                            s.get("key_stats")) for s in sref)
                ]

            mor_cap = self.mor_delta_cap
            mor_delta_raw: list[dict] = []   # staged files -> delta promote
            stale_check: list[dict] = []     # live files defining existing orders
            folded_buckets: list[int] = []
            auto_modes: dict[str, int] = {"cow": 0, "mor": 0}
            # deferred per-bucket rewrite decisions (probe-refined post-loop)
            pending: list[dict] = []
            files_probe_pruned = 0
            for b, sfiles in sorted(staged_by_bucket.items()):
                olds = old_by_bucket.get(b, [])
                base_olds, live_deltas = self._split_kinds(olds)
                rows_b = sum(f["rows"] for f in olds) + sum(
                    f["rows"] for f in sfiles
                )
                # fragmentation cap (rows-aware: a bucket that NEEDS many
                # target-size files is not fragmented): compact the bucket
                frag = (
                    len(olds) + len(sfiles)
                    > self._bucket_file_allowance(rows_b)
                )
                delta_keys = probed.get(b)
                eff = mode
                if mode == "auto":
                    # Per-bucket COW/MOR choice, decided entirely from
                    # pre-commit metadata (staged footers + manifest file
                    # stats — zero extra Spark jobs): MOR when the COW
                    # rewrite would move auto_mor_factor x more existing
                    # rows than the delta carries (the scattered-update
                    # shape where COW's write amplification bites), COW
                    # when the write is proportionate (bootstrap, backfill,
                    # clustered burst) or the keys are disjoint (plain
                    # promote either way, so take the debt-free mode).
                    # Fragmentation and the per-bucket delta cap fold as in
                    # the explicit modes.
                    if frag or not olds:
                        eff = "cow"
                    elif len(live_deltas) + len(sfiles) > mor_cap:
                        eff = "mor"  # cap hit -> the MOR fold cleans the bucket
                    else:
                        inter_est = _hit(base_olds, delta_keys, sfiles)
                        if not inter_est and not live_deltas:
                            eff = "cow"
                        else:
                            staged_rows_b = sum(f["rows"] for f in sfiles)
                            rewrite_rows = sum(
                                f["rows"] for f in inter_est
                            ) + sum(f["rows"] for f in live_deltas)
                            eff = (
                                "mor"
                                if rewrite_rows > self.auto_mor_factor
                                * max(1, staged_rows_b)
                                else "cow"
                            )
                    auto_modes[eff] += 1
                if (
                    eff == "mor"
                    and not frag
                    and len(live_deltas) + len(sfiles) <= mor_cap
                ):
                    inter = _hit(base_olds, delta_keys, sfiles)
                    if not inter and not live_deltas:
                        # disjoint new keys: staged output IS final base —
                        # rename, no conflicts possible, no fold needed
                        carried += olds
                        files_pruned += len(base_olds)
                        promote_staged += sfiles
                    else:
                        # MERGE-ON-READ: base files (even the intersecting
                        # ones) and live deltas all stay — write amplification
                        # is O(delta rows). Intersecting files feed the
                        # write-time stale filter so a late/duplicate delta
                        # row can never shadow a newer table row.
                        carried += olds
                        files_pruned += len(base_olds) - len(inter)
                        stale_check += inter + live_deltas
                        mor_delta_raw += sfiles
                    continue
                # Each arm below splits its rewrite set into `base_inter`
                # (stats-matched base files — droppable if an exact key
                # probe proves no delta key lives in them) and `forced`
                # (files that must rewrite regardless: live deltas being
                # folded, or everything under a frag compaction). Decisions
                # are DEFERRED into `pending` so one post-loop probe job can
                # refine every bucket at once.
                if eff == "mor":
                    # FOLD: the bucket hit its delta cap (or is fragmented) —
                    # merge its intersecting base files + live deltas + the
                    # staged delta back into clean base files
                    folded_buckets.append(b)
                    if frag:
                        base_inter: list[dict] = []
                        forced = base_olds + live_deltas
                    else:
                        probe_all = self._probe_staged_keys(
                            sfiles + live_deltas
                        )
                        base_inter = _hit(base_olds, probe_all,
                                          sfiles + live_deltas)
                        forced = list(live_deltas)
                elif frag:
                    base_inter, forced = [], list(olds)
                elif live_deltas:
                    # COW commit on a bucket that carries MOR deltas from
                    # earlier commits: folding a delta into the rewrite
                    # requires rewriting EVERY base file containing a delta
                    # key — probing with only the INCOMING keys can sweep a
                    # delta into the rewrite (its range overlaps an incoming
                    # key) while carrying an untouched base file that holds
                    # the same key, leaving TWO base rows for one key
                    # (found by the lifecycle fuzz, seed 303). The staged
                    # files' keys were already probed into probed[b] — only
                    # the live deltas need a driver-side read here.
                    if delta_keys is not None:
                        dkeys = self._probe_staged_keys(live_deltas)
                        probe_all = (
                            delta_keys + dkeys if dkeys is not None else None
                        )
                    else:
                        probe_all = None
                    base_inter = _hit(
                        base_olds, probe_all, sfiles + live_deltas
                    )
                    forced = list(live_deltas)
                else:
                    base_inter = _hit(olds, delta_keys, sfiles)
                    forced = []
                pending.append({
                    "olds": olds,
                    "sfiles": sfiles,
                    "base_inter": base_inter,
                    "forced": forced,
                    # keys that define "file must rewrite": the staged delta
                    # plus any live deltas folding into this rewrite
                    "keysrc": sfiles + live_deltas,
                })

            # key tuples are bucket-pure (same key -> same bucket), so one
            # global probe refines every bucket safely — a bucket's keys
            # cannot name another bucket's files — and only buckets that
            # actually hold droppable candidates need their keys scanned
            probe_pending = [p for p in pending if p["base_inter"]]
            probe_cand = sum(len(p["base_inter"]) for p in probe_pending)
            probe_keys = sum(
                f["rows"] for p in probe_pending for f in p["keysrc"]
            )
            if (
                self.rewrite_probe == "auto"
                and probe_cand >= self.rewrite_probe_min_files
                and probe_keys
                <= self.rewrite_probe_keys_per_file * probe_cand
            ):
                hits = self._probe_hit_names(
                    [f for p in probe_pending for f in p["base_inter"]],
                    [f for p in probe_pending for f in p["keysrc"]],
                    merged_schema,
                )
                if hits is not None:
                    for p in probe_pending:
                        kept = [
                            f for f in p["base_inter"]
                            if os.path.basename(f["path"]) in hits
                        ]
                        files_probe_pruned += len(p["base_inter"]) - len(kept)
                        p["base_inter"] = kept
            for p in pending:
                inter = p["base_inter"] + p["forced"]
                inter_paths = {f["path"] for f in inter}
                disjoint = [
                    f for f in p["olds"] if f["path"] not in inter_paths
                ]
                carried += disjoint
                files_pruned += len(disjoint)
                if inter:
                    rewrite_old += inter
                    rewrite_staged += p["sfiles"]
                else:
                    # no existing file can share a key: staged output IS
                    # final — rename, no rewrite
                    promote_staged += p["sfiles"]

            staged_lineage = [
                {
                    "bucket": f["bucket"],
                    "rows": f["rows"],
                    "bytes": f["bytes"],
                    "min_lsn": (f.get("order_stats") or [None, None])[0],
                    "max_lsn": (f.get("order_stats") or [None, None])[1],
                }
                for f in staged
            ]
            new_files = self._promote_all(promote_staged)
            stale_dropped = 0
            if mor_delta_raw:
                # WRITE-TIME STALE FILTER: drop staged rows that do not
                # strictly beat the newest live row (base or prior delta) of
                # their key. This makes delta files self-sufficient — for any
                # key, later files always carry strictly greater order — so
                # the read-side fold is a plain broadcast anti-join with no
                # per-file sequencing. Cost: a read of the key and order
                # columns of exactly the files the delta's keys can touch.
                # A sparse delta (the steady-state CDC commit) is judged on
                # the driver with Arrow, at no Spark job, within the limits
                # the engine already trusts the driver with: key_probe_limit
                # staged rows (as in _probe_staged_keys) and
                # fold_broadcast_rows live rows (the broadcast guard). The
                # verdict is all-fresh (promote) or all-stale (metadata-only
                # commit) in the common case; only a mix (a cross-epoch late
                # re-delivery) needs a filtered copy written, and that, like
                # any larger delta, runs on Spark.
                seq = (m["version"] + 1) if m else 1
                n_staged = sum(f["rows"] for f in mor_delta_raw)
                n_kept = None
                if (
                    n_staged <= self.key_probe_limit
                    and sum(f["rows"] for f in stale_check)
                    <= self.fold_broadcast_rows
                ):
                    n_kept = self._arrow_fresh_rows(
                        mor_delta_raw, stale_check, merged_schema
                    )
                if n_kept is None or 0 < n_kept < n_staged:
                    kept = self._stale_filter_spark(
                        mor_delta_raw, stale_check, data_schema,
                        merged_schema,
                    )
                    if n_kept is None:
                        n_kept = kept.count()
                stale_dropped = n_staged - n_kept
                if n_kept == n_staged:
                    # the common CDC case (every delta row is fresh): the
                    # staged files ARE the delta files — rename, no rewrite
                    new_files += [
                        {**p, "kind": "delta", "seq": seq}
                        for p in self._promote_all(mor_delta_raw)
                    ]
                elif n_kept > 0:
                    staging3, staged3 = self._stage_bucketed(
                        kept,
                        size_bytes=sum(
                            f.get("bytes") or 0 for f in mor_delta_raw
                        ),
                    )
                    try:
                        new_files += [
                            {**p, "kind": "delta", "seq": seq}
                            for p in self._promote_all(staged3)
                        ]
                    finally:
                        shutil.rmtree(staging3, ignore_errors=True)
                # n_kept == 0: the whole delta was stale — metadata-only
                # commit (the epochs are still recorded as applied)
            if rewrite_staged:
                # Re-merge via the same fused plan: one shuffle over exactly
                # the touched files' rows + delta, latest-wins inside the
                # window, already write-arranged. (A staged row and a table
                # row with the SAME order value are identical re-deliveries;
                # either winning is correct, as with max_by.)
                existing = self._read_files(rewrite_old, merged_schema)
                incoming = self._read_files(rewrite_staged, merged_schema)
                merged = self.arranged_updates(
                    existing.unionByName(incoming, allowMissingColumns=True),
                    size_bytes=sum(
                        f.get("bytes") or 0
                        for f in rewrite_old + rewrite_staged
                    ),
                )
                staging2, staged2 = self._stage_bucketed(merged, arranged=True)
                try:
                    new_files += self._promote_all(staged2)
                finally:
                    shutil.rmtree(staging2, ignore_errors=True)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

        manifest = {
            "schema": merged_schema.jsonValue(),
            **spaces,
            "key_cols": list(self.key_cols),
            "bucket_cols": list(self.bucket_cols) if self.bucket_cols else None,
            "order_col": self.order_col,
            "n_buckets": self.n_buckets,
            "max_files_per_bucket": self.max_files_per_bucket,
            "target_file_rows": self.target_file_rows,
            "merge_mode": self.merge_mode,
            "fold_broadcast_rows": self.fold_broadcast_rows,
            "compact_after_commit": self.compact_after_commit,
            "rewrite_probe": self.rewrite_probe,
            "summary": extra_summary or {},
            # per-commit write-amplification record (tiny, fixed-size): lets
            # ops tooling (cli status) see a sustained scattered-delta
            # pattern on a COW table and recommend merge_mode=auto without
            # replaying history
            "commit_stats": {
                "mode": mode,
                "staged_rows": sum(f["rows"] for f in staged),
                "rewritten_rows": sum(
                    f.get("rows") or 0 for f in rewrite_old
                ),
                "files_rewritten": len(rewrite_old),
                "files_probe_pruned": files_probe_pruned,
                "delta_files": sum(
                    1 for f in new_files if f.get("kind") == "delta"
                ),
            },
            "parent": m["version"] if m else None,
        }
        self._attach_files(
            manifest, carried + new_files,
            carried_group_refs=carried_group_refs, prev=m,
        )
        if stage_as is not None:
            version = None
            self._write_staged_manifest(
                manifest, stage_as,
                base_version=m["version"] if m else 0, epochs=new_ids,
            )
        else:
            version = self._commit_manifest(
                manifest, base_version=m["version"] if m else 0
            )
        return {
            **({"staged": stage_as} if stage_as is not None else {}),
            "skipped": False,
            "epochs": new_ids,
            "version": version,
            # the just-committed manifest, threaded to the post-commit hook
            # so its debt check never re-reads from disk what this commit
            # just built; popped before the dict reaches the caller
            "_manifest": manifest,
            "mode": mode,
            **({"auto_modes": auto_modes} if mode == "auto" else {}),
            "delta_files": sum(
                1 for f in new_files if f.get("kind") == "delta"
            ),
            "stale_rows_dropped": stale_dropped,
            "folded_buckets": folded_buckets,
            "rewritten_buckets": sorted(staged_by_bucket),
            "carried_files": len(carried)
            + (sum(g["n_files"] for g in carried_group_refs)
               if carried_group_refs else 0),
            "files_rewritten": len(rewrite_old),
            "files_pruned": files_pruned,
            "files_probe_pruned": files_probe_pruned,
            "rows_written": sum(f["rows"] for f in new_files),
            "new_files": new_files,
            "staged_rows": sum(f["rows"] for f in staged),
            "staged_lineage": staged_lineage,
        }
