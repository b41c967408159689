"""End-to-end replay correctness: engine vs independent DuckDB oracle.

The replay-equivalence golden test (SURVEY §5.2) plus idempotence / crash /
resume / schema-evolution tests (§5.3, §5.4). The per-row content_sha256
equality here is the correctness gate named in BASELINE.json's input_hint.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

from etl_spark.datagen import change_stream, write_segments
from etl_spark.pipeline import IngestPipeline
from etl_spark.sources.segments import discover_segments
from tests.helpers import assert_frames_equal, oracle_final_state

N_EVENTS = 6000
N_EPOCHS = 3


@pytest.fixture(scope="module")
def stream(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("stream") / "changes")
    df = change_stream(
        spark,
        N_EVENTS,
        n_repos=25,
        paths_per_repo=60,
        events_per_epoch=N_EVENTS // N_EPOCHS,
        dup_pct=8,
        with_metadata_from_epoch=2,
    )
    write_segments(df, root)
    return root


@pytest.fixture()
def replayed(spark, stream, tmpdir_path):
    pipe = IngestPipeline(spark, f"{tmpdir_path}/table", n_buckets=8)
    stats = pipe.replay(stream)
    return pipe, stats


def test_full_replay_matches_oracle(replayed, stream):
    pipe, stats = replayed
    assert [s.epoch for s in stats] == list(range(N_EPOCHS))
    assert all(not s.skipped for s in stats)
    got = pipe.table.read().drop("epoch").toPandas()
    want = oracle_final_state(stream, with_metadata=True)
    assert_frames_equal(got, want)


def test_reapply_is_noop(replayed, stream):
    pipe, _ = replayed
    v_before = pipe.table.current_version()
    seg0 = discover_segments(stream)[0]
    s = pipe.apply_epoch(seg0)
    assert s.skipped
    assert pipe.table.current_version() == v_before
    again = pipe.replay(stream)
    assert again == []


def test_resume_partial_then_full(spark, stream, tmpdir_path, replayed):
    full_pipe, _ = replayed
    pipe = IngestPipeline(spark, f"{tmpdir_path}/table2", n_buckets=8)
    first = pipe.replay(stream, max_epoch=0)
    assert [s.epoch for s in first] == [0]
    rest = pipe.replay(stream)
    assert [s.epoch for s in rest] == [1, 2]
    assert_frames_equal(
        pipe.table.read().toPandas(), full_pipe.table.read().toPandas()
    )


def test_out_of_order_segments(spark, stream, tmpdir_path, replayed):
    full_pipe, _ = replayed
    pipe = IngestPipeline(spark, f"{tmpdir_path}/table3", n_buckets=8)
    segs = discover_segments(stream)
    for seg in [segs[2], segs[0], segs[1]]:
        pipe.apply_epoch(seg)
    assert_frames_equal(
        pipe.table.read().toPandas(), full_pipe.table.read().toPandas()
    )


def test_crash_between_manifest_and_log_heals(replayed, stream):
    pipe, _ = replayed
    # simulate: manifest committed but lineage log row lost
    log_dir = Path(pipe.log.root) / "epoch=1"
    shutil.rmtree(log_dir)
    assert 1 not in pipe.log.logged_epochs()
    pipe.replay(stream)  # heal pass backfills without re-applying data
    assert 1 in pipe.log.logged_epochs()
    assert pipe.log.read().where("epoch = 1").count() > 0


def test_orphan_data_files_ignored(replayed):
    pipe, _ = replayed
    n_before = pipe.table.read().count()
    # simulate crash after data write, before manifest link: orphan file
    files = list(Path(pipe.table.root, "data").glob("*.parquet"))
    shutil.copy(files[0], Path(pipe.table.root, "data", "orphan.parquet"))
    assert pipe.table.read().count() == n_before


def test_schema_evolution_additive(replayed):
    pipe, _ = replayed
    final = pipe.table.read()
    assert "metadata" in final.columns
    # keys last touched before epoch 2 read back null metadata
    from pyspark.sql import functions as F

    with_meta = final.where(F.col("metadata").isNotNull())
    without = final.where(F.col("metadata").isNull())
    assert with_meta.count() > 0 and without.count() > 0
    # every non-null metadata row belongs to a commit from epoch >= 2
    bad = with_meta.where(F.col("lsn") < (N_EVENTS // N_EPOCHS) * 2).count()
    assert bad == 0


def test_backfill_converges_for_fully_superseded_epoch(spark, stream, tmpdir_path):
    """An epoch whose rows were ALL superseded by later epochs yields zero
    lineage rows on backfill — the zero-row marker partition must still be
    written so the heal loop converges instead of rescanning forever."""
    import shutil as _sh
    from pathlib import Path as _P

    pipe = IngestPipeline(spark, f"{tmpdir_path}/table", n_buckets=8)
    pipe.replay(stream)
    # wipe epoch 0's lineage AND pretend all its rows were superseded by
    # filtering: simulate via a stream where epoch 0 keys are rewritten later
    _sh.rmtree(_P(pipe.log.root) / "epoch=0")
    # direct backfill of an epoch with no surviving table rows
    pipe._backfill_log(999)  # no rows carry epoch=999
    assert 999 in pipe.log.logged_epochs()
    assert pipe.log.read().where("epoch = 999").count() == 0
    # normal heal still works for epoch 0
    pipe.replay(stream)
    assert 0 in pipe.log.logged_epochs()


def test_lineage_log_covers_all_epochs(replayed):
    pipe, _ = replayed
    log = pipe.log.read().toPandas()
    assert set(log["epoch"]) == set(range(N_EPOCHS))
    assert (log["row_count"] > 0).all()
    assert (log["min_lsn"] <= log["max_lsn"]).all()


def test_events_read_from_footers_equals_raw_count(replayed, stream):
    """``events_read`` is summed from the segment files' parquet footers,
    with no Spark job; it must equal ``count()`` of the same read — on a
    stream with re-deliveries and an additive column from epoch 2, one
    segment at a time and as one catch-up batch spanning the column's
    appearance."""
    from etl_spark.pipeline import _footer_rows

    pipe, stats = replayed
    segs = discover_segments(stream)
    assert [s.events_read for s in stats] == [
        pipe._read_segments([seg]).count() for seg in segs
    ]
    raw = pipe._read_segments(segs)
    try:
        assert "metadata" in raw.columns
        assert _footer_rows(raw) == raw.count() > N_EVENTS
    finally:
        pipe.spark.conf.set(
            "spark.sql.files.maxPartitionBytes", pipe._prev_split or "128m"
        )
