"""Write-audit-publish: staged commits, audit reads, fast-forward publish,
conflict detection, vacuum protection, pipeline integration + healers."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from etl_spark.lake.table import (
    MANIFEST_DIR,
    SnapshotTable,
    StagedRefExistsError,
    StalePublishError,
)


def _tbl(spark, root, **kw):
    return SnapshotTable(spark, root, n_buckets=4, **kw)


def _df(spark, rows):
    return spark.createDataFrame(rows, ["repo", "path", "commit", "content"])


def test_stage_audit_publish_roundtrip(spark, tmpdir_path):
    t = _tbl(spark, tmpdir_path)
    t.merge_epoch(_df(spark, [("r", "a", "c000000000001", "v1"),
                              ("r", "b", "c000000000001", "w1")]), 0)
    out = t.merge_epochs(
        _df(spark, [("r", "a", "c000000000002", "v2"),
                    ("r", "c", "c000000000002", "x1")]),
        [1], stage_as="audit1",
    )
    assert out["staged"] == "audit1" and out["version"] is None
    assert "_manifest" not in out
    # the published table is untouched: still v1, epoch 1 not applied
    assert t.current_version() == 1
    assert t.applied_epochs() == {0}
    assert {r.path: r.content for r in t.read().collect()} == {
        "a": "v1", "b": "w1"}
    assert t.staged_refs() == ["audit1"]
    # audit read serves the WOULD-BE state
    staged_state = {r.path: r.content for r in t.read_staged("audit1").collect()}
    assert staged_state == {"a": "v2", "b": "w1", "c": "x1"}
    pub = t.publish_staged("audit1")
    assert pub["version"] == 2 and pub["epochs"] == [1]
    assert t.staged_refs() == []
    assert t.applied_epochs() == {0, 1}
    assert {r.path: r.content for r in t.read().collect()} == staged_state
    assert t.manifest()["summary"]["published_from"] == "audit1"
    # published epochs are idempotent like any other commit
    again = t.merge_epochs(
        _df(spark, [("r", "a", "c000000000099", "dup")]), [1])
    assert again["skipped"]


def test_staged_name_collision_and_validation(spark, tmpdir_path):
    t = _tbl(spark, tmpdir_path)
    t.merge_epochs(_df(spark, [("r", "a", "c1", "v")]), [0], stage_as="n1")
    with pytest.raises(StagedRefExistsError):
        t.merge_epochs(_df(spark, [("r", "b", "c1", "v")]), [1], stage_as="n1")
    with pytest.raises(ValueError):
        t.merge_epochs(_df(spark, [("r", "b", "c1", "v")]), [1],
                       stage_as="../evil")


def test_stale_publish_then_abort_and_vacuum(spark, tmpdir_path):
    t = _tbl(spark, tmpdir_path)
    t.merge_epoch(_df(spark, [("r", "a", "c000000000001", "v1")]), 0)
    t.merge_epochs(_df(spark, [("r", "a", "c000000000002", "v2")]),
                   [1], stage_as="late")
    # an intervening commit moves the base: publish must refuse
    t.merge_epoch(_df(spark, [("r", "a", "c000000000003", "v3")]), 2)
    with pytest.raises(StalePublishError):
        t.publish_staged("late")
    # while staged, vacuum must NOT reclaim the staged files
    before = t.vacuum(older_than_s=0)
    assert before["files_removed"] == 0
    ab = t.abort_staged("late")
    assert ab["aborted"] == "late" and ab["files_released"] >= 1
    after = t.vacuum(older_than_s=0)
    assert after["files_removed"] >= 1
    # the published table is intact; the staged epoch was never applied
    assert {r.content for r in t.read().collect()} == {"v3"}
    assert t.applied_epochs() == {0, 2}
    assert t.fsck()["ok"]


def test_publish_crash_idempotence(spark, tmpdir_path):
    """A crash between the version link and the staged-ref unlink leaves the
    ref behind; the re-run must recognize its own publish (uuid match) and
    finish cleanup instead of failing."""
    t = _tbl(spark, tmpdir_path)
    t.merge_epoch(_df(spark, [("r", "a", "c1", "v1")]), 0)
    t.merge_epochs(_df(spark, [("r", "b", "c1", "w1")]), [1], stage_as="x")
    sf = Path(tmpdir_path) / MANIFEST_DIR / "staged-x.json"
    saved = sf.read_bytes()
    v = t.publish_staged("x")["version"]
    sf.write_bytes(saved)  # simulate the crash window
    again = t.publish_staged("x")
    assert again["already_published"] and again["version"] == v
    assert not sf.exists()
    assert t.applied_epochs() == {0, 1}


def test_publish_crash_idempotence_after_a_later_commit(spark, tmpdir_path):
    """The crash window again, but another commit lands before the re-run:
    the publish is no longer the head snapshot, and the re-run must still
    find it among the retained snapshots instead of raising
    StalePublishError for a commit that is already live."""
    t = _tbl(spark, tmpdir_path)
    t.merge_epoch(_df(spark, [("r", "a", "c1", "v1")]), 0)
    t.merge_epochs(_df(spark, [("r", "b", "c1", "w1")]), [1], stage_as="x")
    sf = Path(tmpdir_path) / MANIFEST_DIR / "staged-x.json"
    saved = sf.read_bytes()
    v = t.publish_staged("x")["version"]
    sf.write_bytes(saved)  # simulate the crash window
    t.merge_epoch(_df(spark, [("r", "c", "c1", "x1")]), 2)
    assert t.current_version() == v + 1
    again = t.publish_staged("x")
    assert again["already_published"] and again["version"] == v
    assert not sf.exists()
    assert t.applied_epochs() == {0, 1, 2}
    # a ref that was never published still fails as stale
    t.merge_epochs(_df(spark, [("r", "d", "c1", "y1")]), [3], stage_as="y")
    t.merge_epoch(_df(spark, [("r", "e", "c1", "z1")]), 4)
    with pytest.raises(StalePublishError):
        t.publish_staged("y")


def test_pipeline_stage_replay_and_healers(spark, tmpdir_path):
    """replay(stage_as=...) on a fresh table: nothing is published until
    publish_staged; afterwards the next replay heals lineage and is a no-op
    on epochs; final state matches a plain replay."""
    from etl_spark.datagen import change_stream, write_segments
    from etl_spark.pipeline import IngestPipeline

    stream = f"{tmpdir_path}/stream"
    write_segments(
        change_stream(spark, 600, n_repos=5, paths_per_repo=10,
                      events_per_epoch=200, dup_pct=5),
        stream,
    )
    pipe = IngestPipeline(spark, f"{tmpdir_path}/t", n_buckets=4)
    with pytest.raises(ValueError):
        pipe.replay(stream, stage_as="boot", mode="incremental")
    stats = pipe.replay(stream, stage_as="boot", mode="catchup")
    assert stats[0].extra["staged"] == "boot"
    t = pipe.table
    assert not t.exists()  # first-ever commit stayed staged
    assert t.read_staged("boot").count() > 0
    assert t.publish_staged("boot")["version"] == 1
    # control: plain replay into a second table must equal the published one
    ctl = IngestPipeline(spark, f"{tmpdir_path}/ctl", n_buckets=4)
    ctl.replay(stream, mode="catchup")
    got = sorted(map(tuple, t.read().collect()))
    want = sorted(map(tuple, ctl.table.read().collect()))
    assert got == want
    # the healing replay backfills lineage without re-applying epochs
    heal = pipe.replay(stream)
    assert heal == []
    assert pipe.log.logged_epochs() == t.applied_epochs()


def test_wap_cli_surface(spark, tmpdir_path):
    from etl_spark.cli import main as cli_main
    from etl_spark.datagen import change_stream, write_segments

    stream = f"{tmpdir_path}/stream"
    write_segments(
        change_stream(spark, 300, n_repos=3, paths_per_repo=10,
                      events_per_epoch=150, dup_pct=0),
        stream,
    )
    root = f"{tmpdir_path}/t"
    assert cli_main(["replay", "--stream", stream, "--table", root,
                     "--buckets", "4", "--mode", "catchup",
                     "--stage-as", "rc1"]) == 0
    assert cli_main(["wap", "--table", root]) == 0
    assert cli_main(["wap", "--table", root, "--audit", "rc1"]) == 0
    assert cli_main(["wap", "--table", root, "--publish", "rc1"]) == 0
    assert cli_main(["wap", "--table", root, "--publish", "rc1"]) == 1
    t = SnapshotTable(spark, root)
    assert t.current_version() == 1 and t.read().count() > 0
