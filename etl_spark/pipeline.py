"""The end-to-end CDC replay pipeline: tail -> clean -> dedupe -> upsert.

Spark restatement of the reference's incremental-ingest lifecycle
(SURVEY §3.2; create_duckdb_points.py:225-275):

    discover segments            (S1)   sources.discover_segments
    -> skip applied epochs       (F5)   manifest applied-epoch set
    -> read + clean              (F1-F7) cleaning: JVM exprs, or Arrow
    -> dedupe latest-per-key     (W1)   operators.dedupe.latest_by_key
    -> derive sha256 on winners  (U)    post-dedupe: hash survivors only
    -> MERGE into snapshot table (J2/K3) lake.SnapshotTable.merge_epochs
    -> lineage from written files (S4/K3) checkpoint.CheckpointLog

Hot-path discipline (measured, 8M events; the Arrow tier on a 4-core box):
- **Two tiers, chosen by size.** A batch whose segment bytes are under
  :data:`SCAN_SPLIT_FLOOR` (8 MiB) runs its Spark half on the driver: the
  segments are read with pyarrow, the clean rules' Arrow rendering
  (``cleaning.clean_events_arrow``) and a sort-based latest-per-key run in
  memory, sha256 comes from hashlib, and ``merge_epochs`` stages the
  winners with the Arrow writer. At that size Spark's fixed cost per job
  is most of the work: on perfbench's ``sparse_upsert`` (300-event
  commits, 4 cores) the median commit fell from 0.89 s to 0.16 s, and a
  7.6 MiB batch still commits 7-15% faster than on Spark. Larger batches
  run on Spark as below.
  Both tiers take the output schema from the Spark plan, so the table
  cannot tell which tier wrote it.
- **One materialization per batch.** The merge write is the only action that
  evaluates the full rows; lineage is computed afterwards from the (small)
  files that write produced, and the optional input count is read from
  the segments' parquet footers. An earlier design persisted the deduped
  frame and ran count/lineage/merge against the cache — the cache build
  materialized every payload byte once more and was ~10x slower at 32
  cores.
- **Hash after dedupe.** content_sha256 runs on the winners (|keys| rows),
  not the raw stream (|events| rows) — at 1% update ratios that is 100x less
  hashing, and the result is identical because sha is a pure derivation.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from etl_spark.checkpoint import CheckpointLog
from etl_spark.cleaning import (  # noqa: F401 (COMMIT_RE: public here)
    COMMIT_RE,
    clean_events,
    clean_events_arrow,
)
from etl_spark.functions.content import content_sha256, sha256_hex
from etl_spark.lake import arrow_exec
from etl_spark.lake.table import SnapshotTable
from etl_spark.metrics import MetricsSink
from etl_spark.operators.dedupe import (
    choose_dedupe_strategy,
    latest_by_key,
    latest_by_key_salted,
    latest_by_key_window,
)
from etl_spark.sources.segments import Segment, pending_segments

# Segment bytes of a batch below which splitting its scan finer gains
# nothing: the floor of _read_segments' split size, and the size under
# which _apply_batch runs the batch's Spark half on the driver (the Arrow
# ingest tier) — at that size Spark's fixed per-job cost is most of the
# work. Timed on 4 cores, the Arrow tier is faster up to ~15 MiB and ties
# Spark near 30 MiB; only the Spark tier gains from more cores, so the
# cut sits below the crossover.
SCAN_SPLIT_FLOOR = 8 << 20


def derive_content_columns(df: DataFrame) -> DataFrame:
    """Vectorized content derivations (input_hint's sha256 invariant).

    Applied to deduped winners so the hash cost scales with |keys|, not
    |events| (generalizes the reference's EPOCH(ts) derived column, F6).
    """
    return df.withColumn("content_sha256", content_sha256("content")).withColumn(
        "content_bytes", F.octet_length("content").cast("long")
    )


def derive_content_arrow(tbl: pa.Table) -> pa.Table:
    """:func:`derive_content_columns` on the driver: hashlib sha256 and
    the UTF-8 byte length of ``content``, appended in the same order."""
    sha = pa.array(
        [sha256_hex(v) for v in tbl.column("content").to_pylist()], pa.string()
    )
    return tbl.append_column("content_sha256", sha).append_column(
        "content_bytes", pc.binary_length(tbl.column("content")).cast(pa.int64())
    )


def _segment_files(seg: Segment) -> list[Path]:
    """The files Spark reads for a segment: its non-hidden files."""
    return sorted(
        p for p in Path(seg.path).iterdir()
        if p.is_file() and not p.name.startswith(("_", "."))
    )


def _segment_bytes(segments: list[Segment]) -> int:
    """Bytes of the batch's segment files, from the driver-side listing."""
    return sum(p.stat().st_size for s in segments for p in _segment_files(s))


@dataclass
class EpochStats:
    epoch: int
    events_read: int = 0
    events_applied: int = 0
    seconds: float = 0.0
    skipped: bool = False
    commit: dict[str, Any] = field(default_factory=dict)
    extra: dict[str, Any] = field(default_factory=dict)

    def as_dict(self) -> dict[str, Any]:
        return {
            "epoch": self.epoch,
            "events_read": self.events_read,
            "events_applied": self.events_applied,
            "seconds": round(self.seconds, 3),
            "events_per_sec": round(self.events_read / self.seconds, 1)
            if self.seconds > 0
            else None,
            "skipped": self.skipped,
            **self.extra,
        }


def _footer_rows(df: DataFrame) -> int:
    """Rows in the parquet files ``df`` scans (``inputFiles()``: Spark's
    own listing, hidden files already excluded), summed from their
    footers — ``df.count()`` with no Spark job."""
    from urllib.parse import unquote, urlparse

    return sum(
        pq.read_metadata(unquote(urlparse(f).path)).num_rows
        for f in df.inputFiles()
    )


class IngestPipeline:
    # a batch whose segment bytes are under this runs on the Arrow tier
    # (see _apply_batch); tests force a tier by setting it on the handle
    arrow_tier_bytes = SCAN_SPLIT_FLOOR

    def __init__(
        self,
        spark: SparkSession,
        table_root: str,
        *,
        key_cols: tuple[str, ...] = ("repo", "path"),
        order_col: str = "commit",
        n_buckets: int = 32,
        target_file_rows: int = 1_000_000,
        max_files_per_bucket: int = 16,
        count_input: bool = True,
        dedupe_strategy: str = "fused",
        maintain_rollup: bool = False,
        maintain_clean_corpus: bool = False,
        maintain_dedup_index: bool = False,
        merge_mode: str | None = None,
        compact_after_commit: str | None = None,
        rewrite_probe: str | None = None,
    ) -> None:
        """``dedupe_strategy``: ``fused`` (default; dedupe + bucket
        arrangement in ONE payload shuffle — the window over the write
        bucket, SnapshotTable.arranged_updates — so the staging write adds
        no further exchange), ``maxby`` (map-side partial agg, skew-immune —
        a mega-key costs O(partitions)), ``window`` (full shuffle + per-key
        sort), ``salted`` (explicit two-phase reduce for known mega-key
        skew, SURVEY P3), or ``auto`` (sampled skew probe picks fused vs
        salted). All strategies are differential-tested equal.
        """
        self.spark = spark
        self.table = SnapshotTable(
            spark, table_root, key_cols=key_cols, order_col=order_col,
            n_buckets=n_buckets, target_file_rows=target_file_rows,
            max_files_per_bucket=max_files_per_bucket, merge_mode=merge_mode,
            compact_after_commit=compact_after_commit,
            rewrite_probe=rewrite_probe,
        )
        self.log = CheckpointLog(spark, f"{table_root}/_checkpoint")
        self.metrics = MetricsSink(table_root)
        self.count_input = count_input
        self.rollup = None
        if maintain_rollup:
            from etl_spark.derived import RepoRollup

            self.rollup = RepoRollup(
                spark, self.table, f"{table_root}/_rollup",
                n_buckets=max(4, n_buckets // 4),
            )
        self.clean_corpus = None
        if maintain_clean_corpus:
            from etl_spark.derived import CleanCorpus

            self.clean_corpus = CleanCorpus(
                spark, self.table, f"{table_root}/_clean",
                n_buckets=max(4, n_buckets // 4),
            )
        self.dedup_index = None
        if maintain_dedup_index:
            from etl_spark.derived import DedupIndex

            self.dedup_index = DedupIndex(
                spark, self.table, f"{table_root}/_dedup",
                n_buckets=max(4, n_buckets // 4), detect_pairs=True,
            )
        if dedupe_strategy not in ("fused", "maxby", "window", "salted", "auto"):
            raise ValueError(f"unknown dedupe_strategy {dedupe_strategy!r}")
        self._dedupe_strategy = dedupe_strategy
        # the Arrow tier's output schema per input schema (JSON)
        self._arrow_schemas: dict[str, T.StructType] = {}

    def dedupe_plan(
        self, cleaned: DataFrame, strategy: str | None = None
    ) -> tuple[str, DataFrame]:
        """Latest-per-key winners under the configured strategy.

        ``fused`` returns the bucket-arranged single-shuffle plan (the merge
        detects the ``_bucket`` column and skips its own arrangement);
        ``auto`` runs a sampled skew probe (SURVEY P3) and picks ``salted``
        for mega-key streams (fused has no map-side combine, so a single
        key with millions of duplicates would straggle one reducer) and
        ``fused`` otherwise. ``strategy`` overrides the configured one.
        """
        strategy = strategy or self._dedupe_strategy
        if strategy == "auto":
            strategy = choose_dedupe_strategy(cleaned, self.table.key_cols)
            if strategy == "maxby":
                strategy = "fused"
        if strategy == "fused":
            return strategy, self.table.arranged_updates(
                cleaned, size_bytes=getattr(self, "_batch_bytes", None)
            )
        fn = {
            "maxby": latest_by_key,
            "window": latest_by_key_window,
            "salted": latest_by_key_salted,
        }[strategy]
        return strategy, fn(
            cleaned, keys=self.table.key_cols, order_col=self.table.order_col
        )

    # ---- shared batch core ---------------------------------------------------

    def _read_segments(
        self, segments: list[Segment], total: int
    ) -> DataFrame:
        """Read segment dirs with basePath so the ``epoch`` partition column
        survives — it flows through dedupe into per-epoch lineage and into the
        table as row-level provenance. mergeSchema: a catch-up batch may span
        the binlog position where an additive column first appears; without
        footer merging Spark samples one file's schema and silently drops the
        new column for the whole batch.

        Scan splits are RIGHT-SIZED to the batch: the default 128 MB
        maxPartitionBytes gives a medium catch-up batch (say 1.2 GB) only ~10
        scan tasks — on 8+ cores that is two ragged waves and the map stage
        runs half-idle, which measurably caps N->4N scaling. Segment bytes
        are already known from the driver-side listing (``total``, from
        :func:`_segment_bytes`: O(#segment files), the pending delta only —
        never the table), so the split size is set to keep at least ~4
        waves-worth of tasks per core, floored at 8 MB so tiny batches
        don't fragment into per-row tasks."""
        par = max(1, self.spark.sparkContext.defaultParallelism)
        # floor 8 MB: a mid-size batch on a wide cluster is floor-bound
        # (measured: ~1.5 GB catch-up at 32 cores under the old 16 MB floor
        # -> 87 scan tasks = 2.7 ragged waves; 8 MB gives ~4+ uniform waves)
        split = min(128 << 20, max(SCAN_SPLIT_FLOOR, total // (4 * par)))
        # session conf is global: stash the previous split size so
        # _apply_batch can restore it once the batch is materialized —
        # otherwise a KB-sized delta leaves an 8 MB split behind for every
        # FULL-table scan that follows (rollup maintenance, driver queries)
        self._prev_split = self.spark.conf.get(
            "spark.sql.files.maxPartitionBytes", None
        )
        self.spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        base = os.path.dirname(segments[0].path)
        return (
            self.spark.read.option("basePath", base)
            .option("mergeSchema", "true")
            .parquet(*[s.path for s in segments])
        )

    def _arrow_out_schema(
        self, in_schema: T.StructType, strategy: str
    ) -> T.StructType:
        """The schema the Spark plan (clean, dedupe under ``strategy``,
        derive) gives a batch of ``in_schema``, found by analysing that
        plan over an empty frame — no Spark job — and kept per input
        schema. The Arrow tier casts its rows to it, so the manifest
        schema, nullability included, has one definition on both tiers."""
        key = f"{strategy}:{in_schema.json()}"
        if key not in self._arrow_schemas:
            empty = self.spark.createDataFrame([], in_schema)
            _, winners = self.dedupe_plan(clean_events(empty), strategy)
            self._arrow_schemas[key] = (
                derive_content_columns(winners).drop("_bucket").schema
            )
        return self._arrow_schemas[key]

    def _read_arrow(
        self, segments: list[Segment]
    ) -> tuple[pa.Table, int] | None:
        """The batch's winners as Spark would stage them, computed on the
        driver: ``(winners, events read)``, or None when
        the segments hold a type the Arrow tier does not render (the Spark
        tier then runs). Segment files are read with pyarrow and their
        schemas unified additively, as ``mergeSchema`` does; ``epoch``
        comes from the segment, typed as Spark's partition inference
        types it."""
        parts = [
            (s.epoch, pq.read_table(p)) for s in segments
            for p in _segment_files(s)
        ]
        try:
            unified = pa.unify_schemas([t.schema for _, t in parts])
        except (pa.ArrowInvalid, pa.ArrowTypeError):
            return None
        if "epoch" in unified.names:
            return None
        etype = pa.int32() if all(
            -(1 << 31) <= s.epoch < (1 << 31) for s in segments
        ) else pa.int64()
        unified = unified.append(pa.field("epoch", etype))
        try:
            in_schema = T.StructType([
                T.StructField(f.name, f.dataType, True)
                for f in from_arrow_schema(unified)
            ])
        except (TypeError, NotImplementedError):
            return None
        if not arrow_exec.writable(in_schema, self.table.placement_cols):
            return None
        raw = pa.concat_tables([
            arrow_exec.align(
                t.append_column("epoch", pa.array([e] * t.num_rows, etype)),
                unified,
            )
            for e, t in parts
        ])
        # the Spark plan's output schema under the configured strategy
        # (``auto`` picks by data, so ask ``fused``): the rows are deduped
        # by arrow_exec.latest_per_key either way
        out = self._arrow_out_schema(
            in_schema,
            "fused" if self._dedupe_strategy == "auto"
            else self._dedupe_strategy,
        )
        winners = derive_content_arrow(arrow_exec.latest_per_key(
            clean_events_arrow(raw), self.table.key_cols, self.table.order_col
        ))
        return (
            arrow_exec.align(winners.select(out.names), to_arrow_schema(out)),
            raw.num_rows,
        )

    def _apply_batch(
        self, segments: list[Segment], *, mode: str,
        stage_as: str | None = None,
    ) -> EpochStats:
        """Clean + dedupe + merge one batch of segments in a single commit.

        A batch whose segment bytes are under ``arrow_tier_bytes`` takes
        the Arrow tier: read, clean, dedupe and derive run on the driver
        (:meth:`_read_arrow`) and ``merge_epochs`` stages the winners with
        the Arrow writer, so a sparse commit launches no Spark job. Larger
        batches, and batches holding a type the Arrow tier does not
        render, take the Spark tier."""
        t0 = time.time()
        stats = EpochStats(epoch=segments[-1].epoch)
        epochs = [s.epoch for s in segments]
        # remembered so dedupe_plan / merge can right-size their staging
        # exchange the same way _read_segments right-sizes the scan splits
        self._batch_bytes = _segment_bytes(segments)
        arrow = (
            self._read_arrow(segments)
            if self._batch_bytes < self.arrow_tier_bytes else None
        )
        raw = None
        if arrow is not None:
            winners, events_read = arrow
            commit = self.table.merge_epochs(
                winners, epochs,
                extra_summary={"segments": len(segments), "mode": mode,
                               "dedupe": "arrow", "tier": "arrow"},
                assume_deduped=True, stage_as=stage_as,
            )
        else:
            raw = self._read_segments(segments, self._batch_bytes)
            try:
                strategy, winners = self.dedupe_plan(clean_events(raw))
                # content derivations AFTER dedupe: sha cost scales with
                # |keys|, and under the fused plan they stay in the
                # post-shuffle stage
                commit = self.table.merge_epochs(
                    derive_content_columns(winners), epochs,
                    extra_summary={"segments": len(segments), "mode": mode,
                                   "dedupe": strategy, "tier": "spark"},
                    assume_deduped=True,  # one row per key by the plan
                    size_hint=self._batch_bytes,
                    stage_as=stage_as,
                )
            finally:
                # the merge is the batch's one materialization — restore
                # the session-wide split size before anything scans the
                # FULL table (rollup maintenance below, driver queries
                # after). In a finally so a failed merge (LayoutDriftError,
                # exhausted lost-commit retries) cannot leak an 8 MB split
                # into the shared session.
                prev_split = getattr(self, "_prev_split", None)
                if prev_split is not None:
                    self.spark.conf.set(
                        "spark.sql.files.maxPartitionBytes", prev_split
                    )
                else:
                    self.spark.conf.unset("spark.sql.files.maxPartitionBytes")
        stats.extra["tier"] = "spark" if arrow is None else "arrow"
        stats.commit = commit
        if commit.get("staged"):
            # unpublished WAP commit: nothing is visible yet, so lineage and
            # derived maintenance must NOT run — after publish_staged, the
            # next replay()'s healers cover both (_backfill_log rebuilds
            # lineage from row-level provenance; each maintainer's
            # catch_up() re-derives the published epochs' keys)
            stats.events_applied = commit.get("staged_rows") or 0
            stats.extra["staged"] = commit["staged"]
            stats.seconds = time.time() - t0
            return stats
        if not commit.get("skipped"):
            self._log_lineage(commit)
            if self.clean_corpus is not None:
                # stage-2 derived table: clean corpus maintained for exactly
                # the commit-touched keys (row-local, O(commit footprint))
                self.clean_corpus.update_for_commit(commit)
            if self.rollup is not None:
                # stage-2 derived table: per-repo rollup maintained for
                # exactly the repos this commit touched (SURVEY §3.3 / P2)
                self.rollup.update_for_commit(commit)
            if self.dedup_index is not None:
                # stage-2 derived table: near-dup LSH index maintained for
                # exactly the commit's docs; per-epoch new-pair report under
                # _dedup/pairs/asof=<version>
                idx_stats = self.dedup_index.update_for_commit(commit)
                if "new_pairs" in idx_stats:
                    stats.extra["near_dup_pairs"] = idx_stats["new_pairs"]
            # applied count falls out of the merge's staged-file footers —
            # no extra Spark job
            stats.events_applied = commit.get("staged_rows") or 0
            if self.count_input:
                stats.events_read = (
                    events_read if raw is None else _footer_rows(raw)
                )
        stats.seconds = time.time() - t0
        if not commit.get("skipped"):
            self.metrics.emit(
                {
                    "mode": mode,
                    "epochs": commit["epochs"],
                    "version": commit.get("version"),
                    "rows_written": commit.get("rows_written"),
                    "buckets_rewritten": len(commit.get("rewritten_buckets", [])),
                    "events_read": stats.events_read or None,
                    "events_applied": stats.events_applied or None,
                    "seconds": round(stats.seconds, 3),
                    "events_per_sec": round(stats.events_read / stats.seconds, 1)
                    if stats.events_read and stats.seconds > 0
                    else None,
                }
            )
        return stats

    def _log_lineage(
        self, commit: dict[str, Any], provenance_offset: int = 0
    ) -> None:
        """Per-(epoch, bucket) lineage for the updates this commit applied.

        Single-epoch commits (the steady-state CDC path and every streaming
        micro-batch) need ZERO extra Spark jobs: per-bucket row counts and
        exact LSN ranges come from the staged files' parquet footers, already
        read by the merge. ``bytes`` on this path is the staged files'
        on-disk size. Multi-epoch catch-up commits fall back to reading back
        the written files (one small, column-pruned job amortized over the
        whole batch), which splits lineage per source epoch.
        """
        epochs = commit.get("epochs") or []
        staged = commit.get("staged_lineage")
        if len(epochs) == 1 and staged is not None and all(
            r["min_lsn"] is not None and r["max_lsn"] is not None
            for r in staged
        ):
            import pandas as pd

            agg: dict[int, list] = {}
            for r in staged:
                a = agg.setdefault(r["bucket"], [None, None, 0, 0])
                if a[0] is None or r["min_lsn"] < a[0]:
                    a[0] = r["min_lsn"]
                if a[1] is None or r["max_lsn"] > a[1]:
                    a[1] = r["max_lsn"]
                a[2] += r["rows"]
                a[3] += r["bytes"]
            ts = time.time()
            pdf = pd.DataFrame(
                [
                    {"epoch": epochs[0], "bucket": b, "min_lsn": a[0],
                     "max_lsn": a[1], "row_count": a[2], "bytes": a[3],
                     "committed_at": ts}
                    for b, a in sorted(agg.items())
                ],
                columns=["epoch", "bucket", "min_lsn", "max_lsn",
                         "row_count", "bytes", "committed_at"],
            )
            if pdf.empty:
                self.log.mark_empty(epochs[0])
            else:
                self.log._write_pandas(pdf, epochs[0])
            return

        new_files = commit.get("new_files") or []
        if new_files:
            schema = self.table.schema()
            df = self.table._read_files(new_files, schema)
            # streaming rows carry provenance epoch = offset + batch id; the
            # log partitions stay keyed by the raw commit ids
            prov = [int(e) + provenance_offset for e in epochs]
            applied = df.where(F.col("epoch").isin(prov))
            if provenance_offset:
                applied = applied.withColumn(
                    "epoch", F.col("epoch") - F.lit(provenance_offset)
                )
            lineage = self.log.lineage_rows_multi(
                applied, self.table._bucket_expr()
            )
            pdf = lineage.toPandas()
            self.log.append_pandas(pdf)
            logged = set(int(e) for e in pdf["epoch"].unique()) if len(pdf) else set()
        else:
            logged = set()
        # epochs whose rows were all superseded within the batch still get a
        # zero-row marker so logged_epochs converges
        for e in epochs:
            if int(e) not in logged:
                self.log.mark_empty(int(e))

    # ---- public API ----------------------------------------------------------

    def apply_epoch(self, segment: Segment) -> EpochStats:
        """Apply one binlog segment exactly once (steady-state CDC path)."""
        if segment.epoch in self.table.applied_epochs():
            stats = EpochStats(epoch=segment.epoch, skipped=True)
            # Heal a crash between manifest commit and log append.
            if segment.epoch not in self.log.logged_epochs():
                self._backfill_log(segment.epoch)
            return stats
        return self._apply_batch([segment], mode="incremental")

    def _backfill_log(self, epoch: int, provenance_offset: int = 0) -> None:
        """Rebuild lineage for a committed epoch from the table's own rows
        (row-level epoch provenance makes the log fully derivable). An epoch
        whose rows were ALL superseded yields zero rows — write the zero-row
        marker partition anyway, or every later replay would re-run this
        full-table scan trying to heal the same epoch forever.

        ``provenance_offset`` heals streaming commits: their rows carry
        provenance ``offset + batch_id`` while the stream log stays keyed by
        the raw batch id (same contract as ``_log_lineage``)."""
        applied = self.table.read().where(
            F.col("epoch") == epoch + provenance_offset
        )
        if provenance_offset:
            applied = applied.withColumn(
                "epoch", F.col("epoch") - F.lit(provenance_offset)
            )
        lineage = self.log.lineage_rows_multi(applied, self.table._bucket_expr())
        pdf = lineage.toPandas()
        if pdf.empty:
            self.log.mark_empty(epoch)
        else:
            self.log.append_pandas(pdf)

    def replay(
        self,
        stream_root: str,
        *,
        max_epoch: int | None = None,
        mode: str = "incremental",
        stage_as: str | None = None,
    ) -> list[EpochStats]:
        """Resume-safe full replay: apply every pending segment in LSN order.

        ``mode="incremental"`` applies one segment per snapshot commit (the
        steady-state CDC path). ``mode="catchup"`` dedupes ALL pending
        segments together and applies them in ONE commit — the bootstrap /
        backlog path: one table rewrite instead of N. Both modes are
        differential-tested to yield identical final state.

        ``stage_as``: write-audit-publish — the (single) commit is parked as
        a staged ref instead of publishing (see
        :meth:`SnapshotTable.merge_epochs`); requires ``mode="catchup"``
        because incremental mode would stage each pending epoch against the
        SAME base snapshot (later epochs couldn't see earlier staged ones).
        Lineage and derived maintenance are deferred to the first replay
        after ``publish_staged`` (their crash healers cover exactly this
        shape: a committed epoch with no lineage/derived update).
        """
        if stage_as is not None and mode != "catchup":
            raise ValueError(
                "stage_as requires mode='catchup': incremental staging "
                "would build every epoch on the same base snapshot"
            )
        # Heal crash-between-manifest-and-log: backfill lineage for epochs the
        # table committed but the log never recorded.
        applied = self.table.applied_epochs()
        logged = self.log.logged_epochs()
        for epoch in sorted(applied - logged):
            self._backfill_log(epoch)
        # Heal crash-between-fact-commit-and-derived-update: pending-segment
        # discovery runs off the FACT epochs, so a commit whose derived
        # update died is never re-presented — each maintainer checks its
        # own epoch watermark (manifest reads only when synced) and
        # re-derives exactly the missed commits' keys if not. Also
        # bootstraps a maintainer newly enabled on a table with history.
        for maint in (self.clean_corpus, self.rollup, self.dedup_index):
            if maint is not None:
                maint.catch_up()
        pending = pending_segments(
            stream_root, applied, max_epoch=max_epoch
        )
        if not pending:
            return []
        if mode == "catchup":
            return [
                self._apply_batch(pending, mode="catchup", stage_as=stage_as)
            ]
        return [self._apply_batch([seg], mode="incremental") for seg in pending]
