"""Mirror (table-to-table CDC replication): incremental sync equivalence,
exactly-once offsets, delete propagation, rollback/expiry self-healing."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from etl_spark.lake.table import SnapshotTable
from etl_spark.replicate import Mirror


def _tbl(spark, root, **kw):
    return SnapshotTable(spark, root, n_buckets=4, **kw)


def _df(spark, rows):
    return spark.createDataFrame(rows, ["repo", "path", "commit", "content"])


def _state(t, cols=None):
    df = t.read()
    return sorted(map(tuple, (df.select(*cols) if cols else df).collect()))


def _same(mir):
    """Mirror equivalence = equality projected on the SOURCE's columns,
    minus ``epoch``: provenance is re-stamped into the mirror's own id
    domain by design (the CDC-out invariant — see _stamp_provenance), and
    incremental syncs evolve the mirror's schema additively while a full
    resync installs exactly the source's."""
    cols = [c for c in mir.src.read().columns if c != "epoch"]
    return _state(mir.src, cols) == _state(mir.dst, cols)


def test_incremental_sync_tracks_source(spark, tmpdir_path):
    src = _tbl(spark, f"{tmpdir_path}/src")
    src.merge_epoch(_df(spark, [("r", "a", "c000000000001", "v1"),
                                ("r", "b", "c000000000001", "w1")]), 0)
    mir = Mirror(spark, src, f"{tmpdir_path}/dst", n_buckets=2)
    out = mir.sync()
    assert out["full_resync"] == "bootstrap"
    assert _same(mir)
    assert mir.synced_version() == 1
    # idempotent: nothing new -> no-op
    assert mir.sync()["skipped"]
    # two more source commits (update + new key), then ONE sync
    src.merge_epoch(_df(spark, [("r", "a", "c000000000002", "v2")]), 1)
    src.merge_epoch(_df(spark, [("r", "c", "c000000000003", "x1")]), 2)
    out = mir.sync()
    assert "full_resync" not in out and out["synced_from"] == 1
    assert _same(mir)
    assert mir.synced_version() == 3
    probe = mir.verify()
    assert probe["rows_match"] and probe["watermark_match"]


def test_delete_propagates(spark, tmpdir_path):
    src = _tbl(spark, f"{tmpdir_path}/src")
    src.merge_epoch(_df(spark, [("r", "a", "c000000000001", "v1"),
                                ("r", "b", "c000000000001", "w1")]), 0)
    mir = Mirror(spark, src, f"{tmpdir_path}/dst")
    mir.sync()
    src.delete_epochs(
        spark.createDataFrame([("r", "a", "c000000000009")],
                              "repo string, path string, commit string"),
        [1],
    )
    out = mir.sync()
    assert "full_resync" not in out
    assert _same(mir)
    assert {r.path for r in mir.dst.read().collect()} == {"b"}
    # the tombstone itself replicated (visible with include_deleted)
    hidden = mir.dst.read(include_deleted=True).where(
        F.col("_deleted")).collect()
    assert [(r.repo, r.path) for r in hidden] == [("r", "a")]


def test_rollback_triggers_full_resync(spark, tmpdir_path):
    src = _tbl(spark, f"{tmpdir_path}/src")
    src.merge_epoch(_df(spark, [("r", "a", "c000000000001", "v1")]), 0)
    src.merge_epoch(_df(spark, [("r", "a", "c000000000002", "v2")]), 1)
    mir = Mirror(spark, src, f"{tmpdir_path}/dst")
    mir.sync()
    src.rollback(1)  # undo epoch 1: the mirror's v2 row is now wrong
    # fix-and-replay epoch 1 with DIFFERENT content under a fresh commit
    src.merge_epoch(_df(spark, [("r", "a", "c000000000003", "v2fix")]), 1)
    out = mir.sync()
    assert out["full_resync"] in ("applied_set_shrank", "rollback_in_window")
    assert _same(mir)
    assert {r.content for r in mir.dst.read().collect()} == {"v2fix"}


def test_expired_watermark_and_purged_tombstone(spark, tmpdir_path):
    """Source expired past the consumer offset AND purged a tombstone the
    mirror still holds a live row for: the resync REPLACES the mirror with
    the source state, so the gone key simply vanishes — and can cleanly
    reappear later under any order value (no synthetic tombstone to
    out-arbitrate)."""
    src = _tbl(spark, f"{tmpdir_path}/src", target_file_rows=4)
    src.merge_epoch(_df(spark, [("r", "a", "c000000000001", "v1"),
                                ("r", "b", "c000000000001", "w1")]), 0)
    mir = Mirror(spark, src, f"{tmpdir_path}/dst")
    mir.sync()
    src.delete_epochs(
        spark.createDataFrame([("r", "b", "c000000000002")],
                              "repo string, path string, commit string"),
        [1],
    )
    src.compact(above=0, purge_tombstones=True)
    src.expire_snapshots(retain_last=1)
    out = mir.sync()
    assert out["full_resync"] == "watermark_expired"
    assert _same(mir)
    assert {r.path for r in mir.dst.read().collect()} == {"a"}
    # a purged key REAPPEARING later on the source wins back on the mirror
    src.merge_epoch(_df(spark, [("r", "b", "c000000000007", "w7")]), 9)
    mir.sync()
    assert _same(mir)
    assert {r.path: r.content for r in mir.dst.read().collect()} == {
        "a": "v1", "b": "w7"}


def test_resync_heals_same_order_fix(spark, tmpdir_path):
    """The fix-and-replay shape a MERGE-based resync cannot express: the
    source re-issues a key under the SAME commit value with different
    content after a rollback. replace_all-based resync must serve the fix
    (latest-wins would keep the stale replica row and verify() could not
    even see the divergence — counts and watermarks both match)."""
    src = _tbl(spark, f"{tmpdir_path}/src")
    src.merge_epoch(_df(spark, [("r", "a", "c000000000001", "base")]), 0)
    src.merge_epoch(_df(spark, [("r", "a", "c000000000002", "bad")]), 1)
    mir = Mirror(spark, src, f"{tmpdir_path}/dst")
    mir.sync()
    src.rollback(1)
    src.merge_epoch(_df(spark, [("r", "a", "c000000000002", "fixed")]), 1)
    out = mir.sync()
    assert out["full_resync"] in ("applied_set_shrank", "rollback_in_window")
    assert _same(mir)
    assert [r.content for r in mir.dst.read().collect()] == ["fixed"]


def test_randomized_mirror_differential(spark, tmpdir_path):
    """Random source op sequences (merge/delete/compact/rollback), syncing
    at random points: the mirror must equal the source after every sync."""
    rng = random.Random(4242)
    src = _tbl(spark, f"{tmpdir_path}/src", target_file_rows=8)
    mir = Mirror(spark, src, f"{tmpdir_path}/dst", n_buckets=2)
    keys = [("r%d" % (i % 2), "p%02d" % i) for i in range(10)]
    lsn, epoch = 0, 0
    for step in range(14):
        op = rng.choice(["merge", "merge", "merge", "delete", "compact",
                         "rollback", "sync"])
        if op == "merge" or not src.exists():
            rows = []
            for _ in range(rng.randint(1, 5)):
                repo, path = rng.choice(keys)
                lsn += rng.randint(1, 3)
                rows.append((repo, path, "c%012d" % lsn, "v%d" % lsn))
            src.merge_epoch(_df(spark, rows), epoch)
            epoch += 1
        elif op == "delete":
            repo, path = rng.choice(keys)
            lsn += 1
            src.delete_epochs(
                spark.createDataFrame(
                    [(repo, path, "c%012d" % lsn)],
                    "repo string, path string, commit string"),
                [epoch])
            epoch += 1
        elif op == "compact":
            src.compact(above=0)
        elif op == "rollback":
            vs = src.versions()
            if len(vs) > 1:
                src.rollback(rng.choice(vs[:-1]))
                # post-rollback epochs may re-apply ids; keep ours fresh
                epoch += 1
        elif op == "sync":
            mir.sync()
            assert _same(mir), f"step={step}"
    mir.sync()
    assert _same(mir)


def test_sync_refuses_wrong_source(spark, tmpdir_path):
    """A replica records its source; syncing from another table must fail
    loudly instead of wedging as up_to_date or contaminating the state."""
    a = _tbl(spark, f"{tmpdir_path}/a")
    a.merge_epoch(_df(spark, [("r", "x", "c000000000001", "va")]), 0)
    b = _tbl(spark, f"{tmpdir_path}/b")
    b.merge_epoch(_df(spark, [("r", "y", "c000000000001", "vb")]), 0)
    mir = Mirror(spark, a, f"{tmpdir_path}/dst")
    mir.sync()
    with pytest.raises(ValueError, match="refusing to cross-sync"):
        Mirror(spark, b, f"{tmpdir_path}/dst").sync()
    assert _same(mir)  # untouched


def test_first_sync_refuses_to_bootstrap_over_unrelated_table(
    spark, tmpdir_path
):
    """A first sync into a destination that already holds snapshots but was
    never a mirror (a mistyped --dst naming a live table) must fail, not
    replace that table's rows with the source's."""
    src = _tbl(spark, f"{tmpdir_path}/src")
    src.merge_epoch(_df(spark, [("r", "x", "c000000000001", "vs")]), 0)
    live = _tbl(spark, f"{tmpdir_path}/live")
    live.merge_epoch(_df(spark, [("r", "y", "c000000000001", "vl")]), 0)
    before = _state(live)
    with pytest.raises(ValueError, match="refusing to bootstrap"):
        Mirror(spark, src, f"{tmpdir_path}/live").sync()
    assert live.current_version() == 1
    assert _state(live) == before


def test_chained_feed_from_replica(spark, tmpdir_path):
    """The staged-consumer chain: a consumer polling the REPLICA's change
    feed sees exactly the synced deltas — possible only because mirrored
    rows' epoch provenance is re-stamped into the mirror's applied-id
    domain (source epochs would fall outside it and the feed's epoch-range
    filter would drop or garble rows)."""
    rows = lambda e, n: [  # noqa: E731 — source rows carry epoch provenance
        ("r", f"p{e}_{i}", f"c00000000{e:02d}{i:02d}", "x", e)
        for i in range(n)
    ]
    mk = lambda d: spark.createDataFrame(  # noqa: E731
        d, "repo string, path string, commit string, content string, "
           "epoch long")
    src = _tbl(spark, f"{tmpdir_path}/src")
    src.merge_epoch(mk(rows(0, 3)), 0)
    mir = Mirror(spark, src, f"{tmpdir_path}/dst")
    mir.sync()
    v_replica = mir.dst.current_version()
    src.merge_epoch(mk(rows(1, 2)), 1)
    src.merge_epoch(mk(rows(2, 4)), 2)
    mir.sync()
    feed = mir.dst.changes_between(v_replica)
    assert feed.count() == 6  # exactly the two synced epochs' rows
    assert {r.path for r in feed.collect()} == {
        f"p{e}_{i}" for e, n in ((1, 2), (2, 4)) for i in range(n)
    }
    assert _same(mir)


def test_mirror_cli(spark, tmpdir_path):
    from etl_spark.cli import main as cli_main

    src = _tbl(spark, f"{tmpdir_path}/src")
    src.merge_epoch(_df(spark, [("r", "a", "c000000000001", "v1")]), 0)
    assert cli_main(["mirror", "--src", str(src.root),
                     "--dst", f"{tmpdir_path}/dst", "--verify"]) == 0
    assert cli_main(["mirror", "--src", f"{tmpdir_path}/nope",
                     "--dst", f"{tmpdir_path}/d2"]) == 1
    d = SnapshotTable(spark, f"{tmpdir_path}/dst")
    assert d.read().count() == 1
