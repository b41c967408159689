"""The MOR write-time stale filter: the driver-side Arrow verdict must equal
the Spark filter's.

A sparse MOR commit (at most ``key_probe_limit`` staged rows, at most
``fold_broadcast_rows`` live rows to check) is judged on the driver with no
Spark job; lowering ``key_probe_limit`` on a handle forces the Spark filter.
The same commits replayed through both must leave identical snapshots
(every version, tombstones included), ``stale_rows_dropped`` and
``delta_files``. A partial verdict (some rows stale, some fresh) still
writes its filtered copy with Spark; all-fresh and all-stale commits must
not touch the Spark filter at all, and a sparse commit's ``merge_epochs``
launches only its staging write's jobs.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import types as T

from etl_spark.lake.table import SnapshotTable

UTC = dt.timezone.utc

_S4 = "repo string, path string, commit string, content string"


def _next_job_id(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _handle(spark, root, force_spark, **kw):
    """A one-bucket MOR table whose Spark stale-filter calls are counted."""
    kw.setdefault("max_files_per_bucket", 64)  # no fold in these streams
    t = SnapshotTable(spark, root, n_buckets=1, merge_mode="mor", **kw)
    if force_spark:
        t.key_probe_limit = 0
    t.spark_filter_calls = 0
    inner = t._stale_filter_spark

    def counted(*a, **k):
        t.spark_filter_calls += 1
        return inner(*a, **k)

    t._stale_filter_spark = counted
    return t


def _snapshots(t):
    return [
        sorted(map(tuple, t.read(v, include_deleted=True).collect()),
               key=repr)  # null keys: a None-safe order
        for v in t.versions()
    ]


def _replay(spark, root, commits, force_spark, **kw):
    """Apply ``commits`` — (kind, rows, schema) with kind "upsert" or
    "delete" — and return the per-commit verdicts, the snapshots and the
    handle."""
    t = _handle(spark, root, force_spark, **kw)
    verdicts = []
    for e, (kind, rows, schema) in enumerate(commits):
        df = spark.createDataFrame(rows, schema)
        calls = t.spark_filter_calls
        out = (t.delete_epochs(df, [e]) if kind == "delete"
               else t.merge_epoch(df, e))
        verdicts.append((out["stale_rows_dropped"], out["delta_files"],
                         t.spark_filter_calls - calls))
    return verdicts, _snapshots(t), t


def _differential(spark, root, commits, **kw):
    arrow, arrow_snaps, _ = _replay(spark, f"{root}/arrow", commits, False, **kw)
    spark_, spark_snaps, _ = _replay(spark, f"{root}/spark", commits, True, **kw)
    assert [v[:2] for v in arrow] == [v[:2] for v in spark_]
    assert arrow_snaps == spark_snaps
    return arrow


def test_arrow_stale_filter_equals_spark_on_nulls_chain_and_tombstones(
    spark, tmpdir_path
):
    base = [
        ("r", f"p{i:02d}", "c000000000005", f"v{i}") for i in range(30)
    ] + [
        (None, "n", "c000000000005", "null-repo"),
        ("r", None, "c000000000005", "null-path"),
        ("r", "z", None, "null-order"),
    ]
    commits = [
        ("upsert", base, _S4),
        # all fresh: the first delta generation, null keys included
        ("upsert", [("r", "p01", "c000000000007", "v1@7"),
                    (None, "n", "c000000000007", "null-repo@7"),
                    ("r", None, "c000000000006", "null-path@6")], _S4),
        # all stale: equal to the delta, equal to the base, older than the
        # delta, and a null order against a non-null one
        ("upsert", [("r", "p01", "c000000000007", "dup"),
                    ("r", "p02", "c000000000005", "dup"),
                    (None, "n", "c000000000006", "late"),
                    ("r", "p03", None, "null-order")], _S4),
        # partial: fresh over the delta chain, a key whose only order is
        # null, a new all-null key and a new key with a null order are
        # kept; an equal order is dropped
        ("upsert", [("r", "p01", "c000000000009", "v1@9"),
                    ("r", "p04", "c000000000005", "dup"),
                    ("r", "z", "c000000000001", "z@1"),
                    (None, None, "c000000000001", "all-null"),
                    ("r", "q", None, "new-null-order")], _S4),
        # tombstones: one fresh (third generation of p01), one stale
        ("delete", [("r", "p01", "c000000000010"),
                    (None, "n", "c000000000002")],
         "repo string, path string, commit string"),
        # a later upsert over the tombstone, and a stale one under it
        ("upsert", [("r", "p01", "c000000000011", "v1@11"),
                    ("r", "p05", "c000000000004", "late")], _S4),
    ]
    verdicts = _differential(spark, tmpdir_path, commits)
    assert [v[:2] for v in verdicts[1:]] == [
        (0, 1), (4, 0), (1, 1), (1, 1), (1, 1),
    ]
    # the Arrow side leaves all-fresh and all-stale commits to no Spark
    # filter and hands only the partial ones on to write their copy
    assert [v[2] for v in verdicts[1:]] == [0, 0, 1, 1, 1]


def test_arrow_stale_filter_equals_spark_across_order_widening(
    spark, tmpdir_path
):
    """An int ``order_col`` widened to bigint by a later commit: old files
    hold int32, new ones int64, and an int32 delta then meets the widened
    manifest schema."""
    narrow = "k string, v int, c string"
    wide = "k string, v bigint, c string"
    commits = [
        ("upsert", [(f"k{i}", 5, "base") for i in range(20)], narrow),
        ("upsert", [("k1", 2**40, "wide"), ("k2", 3, "late")], wide),
        ("upsert", [("k1", 7, "late"), ("k3", 6, "fresh")], narrow),
        ("upsert", [("k2", 4, "late"), ("k3", 6, "dup")], narrow),
    ]
    verdicts = _differential(spark, tmpdir_path, commits, key_cols=("k",),
                             order_col="v")
    assert [v[:2] for v in verdicts[1:]] == [(1, 1), (1, 1), (2, 0)]


def test_arrow_stale_filter_equals_spark_on_timestamp_order(
    spark, tmpdir_path
):
    """Spark writes timestamps as INT96, which Arrow reads as naive
    nanoseconds: the driver must compare them as the manifest's UTC
    microseconds."""
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("c", T.StringType()),
    ])

    def ts(sec, us=0):
        return dt.datetime(2024, 5, 1, 12, 0, sec, us, tzinfo=UTC)

    commits = [
        ("upsert", [(f"k{i}", ts(5, 17), "base") for i in range(20)], schema),
        ("upsert", [("k1", ts(5, 18), "fresh"), ("k2", ts(6), "fresh")],
         schema),
        ("upsert", [("k1", ts(5, 18), "dup"), ("k3", ts(5, 16), "late")],
         schema),
        ("upsert", [("k2", ts(7), "fresh"), ("k4", ts(5, 17), "dup")],
         schema),
    ]
    verdicts = _differential(spark, tmpdir_path, commits, key_cols=("k",),
                             order_col="ts")
    assert [v[:2] for v in verdicts[1:]] == [(0, 1), (2, 0), (1, 1)]


def test_sparse_mor_commit_launches_only_staging_jobs(spark, tmpdir_path):
    """The stale filter of an all-fresh and of an all-stale sparse commit
    runs on the driver: merge_epochs launches exactly the jobs of its one
    staging write."""
    t = SnapshotTable(spark, tmpdir_path, n_buckets=4, merge_mode="mor",
                      max_files_per_bucket=64)
    t.merge_epoch(spark.createDataFrame(
        [("r", f"p{i:03d}", "c000000000005", "x") for i in range(200)], _S4
    ), 0)
    staging = []
    inner = t._stage_bucketed

    def counted(*a, **k):
        before = _next_job_id(spark)
        out = inner(*a, **k)
        staging.append(_next_job_id(spark) - before)
        return out

    t._stage_bucketed = counted
    for e, order in ((1, "c000000000007"), (2, "c000000000006")):
        df = spark.createDataFrame(
            [("r", f"p{i:03d}", order, "y") for i in range(0, 200, 9)], _S4
        )
        staging.clear()
        before = _next_job_id(spark)
        out = t.merge_epoch(df, e)
        total = _next_job_id(spark) - before
        assert len(staging) == 1
        assert total == staging[0]
        assert out["stale_rows_dropped"] == (0 if e == 1 else 23)
