"""Table-to-table CDC replication — the consumer face of the change feed.

``Mirror`` keeps a downstream :class:`SnapshotTable` in sync with a source
table by polling ``changes_between`` — the lakehouse analog of a replica
tailing a primary's binlog, generalizing the reference's staged-consumer
pattern (each stage incrementally consumes the previous stage's new rows,
SURVEY §3.3) to cross-table replication:

- **Incremental sync** reads only the feed between the consumer's recorded
  source version and the source head — O(changed data) when the source
  carries per-row ``epoch`` provenance (every pipeline table does): the
  feed's epoch filter excludes rows merely REWRITTEN into new files, so a
  source compaction costs the mirror nothing. On a table WITHOUT the
  provenance column the feed degrades to file granularity — still correct
  by latest-wins idempotence, but a source compaction re-ships every
  rewritten file's rows. Tombstones flow through unchanged (a delete on
  the source deletes on the mirror via the same latest-wins arbitration);
  the ``epoch`` provenance itself is RE-STAMPED into the mirror's own id
  domain (the synced source version — see ``_stamp_provenance``), so the
  replica's own change feed stays exact for chained consumers.
- **Exactly-once** rides the destination table's applied-epoch machinery in
  a dedicated ``mirror`` id space: epoch ids ARE source snapshot versions,
  so a crashed/re-run sync is a metadata no-op and the consumer offset
  needs no side store.
- **Self-healing**: a source rollback (applied-epoch shrink or a retained
  ``rollback_of`` marker inside the sync window) or an expired consumer
  watermark (the feed base's manifest is gone) degrades to a FULL resync —
  the mirror is REPLACED with the source's current state
  (``SnapshotTable.replace_all``), never merged: a fix-and-replay can
  re-issue a key under the same order value with different content, and a
  purged key must simply vanish — both beyond what latest-wins
  arbitration can express. A rollback whose marker expired before the
  next sync poll and whose re-replay re-applied the same epoch ids is
  healed only by the shrink check; the operational rule: poll at least
  as often as snapshot retention.

Scale: the incremental path moves exactly the feed (one arranged shuffle on
the destination's key space); the resync path is one full source read — the
same cost as bootstrapping any replica.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from etl_spark.lake.table import SnapshotTable, _all_applied_epochs

MIRROR_SPACE = "mirror"


class Mirror:
    """Replicate ``src`` into a SnapshotTable at ``dst_root``.

    The destination adopts the source's key/order columns; its bucket count
    is independent (a mirror may be laid out for a different read pattern).
    """

    def __init__(
        self,
        spark: SparkSession,
        src: SnapshotTable,
        dst_root: str,
        n_buckets: int | None = None,
    ) -> None:
        self.spark = spark
        self.src = src
        self.dst = SnapshotTable(
            spark, dst_root, key_cols=src.key_cols, order_col=src.order_col,
            n_buckets=n_buckets or src.n_buckets,
        )

    def synced_version(self) -> int | None:
        """Newest source snapshot version this mirror has applied (the
        consumer offset — lives in the destination manifest's ``mirror``
        epoch space, no side store)."""
        applied = self.dst.applied_epochs(MIRROR_SPACE)
        return max(applied) if applied else None

    # -- internals -------------------------------------------------------

    def _needs_resync(self, v_from: int, v_to: int) -> str | None:
        """Why the incremental feed can't be trusted, or None if it can."""
        try:
            m_from = self.src.manifest(v_from)
        except FileNotFoundError:
            return "watermark_expired"
        m_to = self.src.manifest(v_to)
        if _all_applied_epochs(m_from) - _all_applied_epochs(m_to):
            return "applied_set_shrank"  # rolled back, not (fully) re-applied
        for v in range(v_from + 1, v_to + 1):
            try:
                s = (self.src.manifest(v) or {}).get("summary") or {}
            except FileNotFoundError:
                continue  # expired intermediate: endpoint checks only
            if "rollback_of" in s:
                # a rollback + re-replay can re-apply the SAME epoch ids
                # with DIFFERENT rows (the fix-and-replay pattern); the
                # feed's epoch filter would hide the fix
                return "rollback_in_window"
        return None

    def _full_resync(self, v_to: int, epoch_ids: list[int],
                     reason: str) -> dict[str, Any]:
        """Rebuild the mirror AS the source's current state via
        ``replace_all`` — never a merge. A merge's monotone-order
        arbitration cannot express what a resync must: a source
        fix-and-replay may re-issue a key under the SAME order value with
        different content (latest-wins would keep the stale replica row),
        and a key the source purged entirely must simply vanish (a
        fabricated higher-order tombstone would out-arbitrate the key's
        legitimate reappearance). Replacement has neither problem, and the
        mirror-space applied set resets to exactly the synced range."""
        cur = self._stamp_provenance(
            self.src.read(v_to, include_deleted=True), v_to
        )
        out = self.dst.replace_all(
            cur, epoch_ids, epoch_space=MIRROR_SPACE,
            extra_summary={
                "mirror_of": str(self.src.root),
                "mirror_src_version": v_to,
                "full_resync": reason,
            },
        )
        return {**out, "full_resync": reason}

    # -- the one public verb ---------------------------------------------

    def _check_source_identity(self) -> None:
        """A replica permanently records which source it mirrors
        (``mirror_of`` in every sync commit's summary); syncing it from a
        DIFFERENT source must fail loudly — depending on the two tables'
        version numbers it would otherwise either wedge as a forever
        ``up_to_date`` or latest-wins-contaminate the replica with foreign
        rows, both silent."""
        if not self.dst.exists():
            return
        for v in reversed(self.dst.versions()):
            try:
                s = (self.dst.manifest(v) or {}).get("summary") or {}
            except FileNotFoundError:
                continue
            rec = s.get("mirror_of")
            if rec is None:
                continue
            if rec != str(self.src.root):
                raise ValueError(
                    f"table {self.dst.root} mirrors {rec!r}, not "
                    f"{str(self.src.root)!r}; refusing to cross-sync"
                )
            return

    def _stamp_provenance(self, rows, v_to: int):
        """Re-stamp the ``epoch`` provenance column (when the source has
        one) with the LAST mirror-space applied id of this sync (the source
        snapshot version). A table's CDC-out contract requires every row's
        epoch provenance to lie inside its own applied-id sets — the same
        invariant ``delete_epochs`` preserves for tombstones. The source's
        epoch values live in the SOURCE's id domain; carrying them verbatim
        would make the replica's own change feed drop or garble rows for
        any downstream consumer chained off the mirror."""
        if "epoch" not in rows.columns:
            return rows
        dtype = dict(rows.dtypes)["epoch"]
        return rows.withColumn("epoch", F.lit(int(v_to)).cast(dtype))

    def sync(self) -> dict[str, Any]:
        """One replication round: apply everything the source committed
        since the last sync. Idempotent; safe to run on any schedule."""
        self._check_source_identity()
        v_to = self.src.current_version()
        if v_to is None:
            return {"skipped": True, "reason": "source_empty"}
        v_from = self.synced_version()
        if v_from is not None and v_from >= v_to:
            return {"skipped": True, "reason": "up_to_date",
                    "synced_version": v_from}
        epoch_ids = list(range((v_from or 0) + 1, v_to + 1))
        if v_from is None:
            if self.dst.current_version() is not None:
                # a bootstrap REPLACES the destination: into a table this
                # mirror never synced (a mistyped --dst naming a live
                # table) it would silently overwrite unrelated rows
                raise ValueError(
                    f"table {self.dst.root} already has snapshots but no "
                    "mirror sync; refusing to bootstrap a mirror over it"
                )
            return self._full_resync(v_to, epoch_ids, "bootstrap")
        reason = self._needs_resync(v_from, v_to)
        if reason is not None:
            return self._full_resync(v_to, epoch_ids, reason)
        feed = self._stamp_provenance(
            self.src.changes_between(v_from, v_to), v_to
        )
        out = self.dst.merge_epochs(
            feed, epoch_ids, epoch_space=MIRROR_SPACE,
            extra_summary={
                "mirror_of": str(self.src.root),
                "mirror_src_version": v_to,
            },
        )
        return {**out, "synced_from": v_from, "synced_to": v_to}

    def verify(self) -> dict[str, Any]:
        """Cheap divergence probe: row counts + per-column commit watermark
        equality between source head and mirror. Zero false alarms mid-sync
        is NOT guaranteed (the source may commit while this reads); use
        after a sync in a quiet window."""
        s = self.src.read()
        d = self.dst.read()
        oc = self.src.order_col
        s_n, s_max = s.agg(
            F.count(F.lit(1)), F.max(oc)
        ).first()
        d_n, d_max = d.agg(
            F.count(F.lit(1)), F.max(oc)
        ).first()
        return {
            "rows_match": s_n == d_n,
            "watermark_match": s_max == d_max,
            "src_rows": s_n, "dst_rows": d_n,
            "src_watermark": s_max, "dst_watermark": d_max,
        }
