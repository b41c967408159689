"""The Arrow ingest tier: a batch under the tier threshold is read,
cleaned, deduped, derived and staged on the driver, and must give the
table the Spark tier gives it — rows, file layout, applied epochs,
manifest schema and lineage — with no Spark job on a sparse commit."""

from __future__ import annotations

import datetime as dt
import json
import random
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from etl_spark.datagen import change_stream, write_segments
from etl_spark.lake import arrow_exec
from etl_spark.lake.table import SnapshotTable, _footer_stats_of
from etl_spark.pipeline import IngestPipeline
from etl_spark.sources.segments import discover_segments

ARROW, SPARK = 1 << 62, 0  # arrow_tier_bytes that force each tier


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


# ---- the writer --------------------------------------------------------------

_WIDE = T.StructType([
    T.StructField("k", T.StringType()),
    T.StructField("n", T.IntegerType()),
    T.StructField("o", T.StringType()),
    T.StructField("b", T.BinaryType()),
    T.StructField("flag", T.BooleanType()),
    T.StructField("by", T.ByteType()),
    T.StructField("sh", T.ShortType()),
    T.StructField("l", T.LongType()),
    T.StructField("f", T.FloatType()),
    T.StructField("d", T.DoubleType()),
    T.StructField("dt", T.DateType()),
    T.StructField("body", T.StringType()),
])


def _wide_rows(n: int, seed: int) -> list[tuple]:
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        k = None if i % 17 == 0 else "".join(
            rng.choice("abé€") for _ in range(rng.randint(0, 70))
        ) + str(i)
        rows.append((
            k, rng.choice([None, i, -i]), "c%012d" % rng.randint(1, 99),
            None if i % 5 == 0 else bytes([i % 256, 7]),
            rng.choice([None, True, False]), i % 100 - 50, i * 7 - 300,
            rng.choice([None, i << 40]), i / 4.0, rng.random(),
            dt.date(2024, 1, 1) + dt.timedelta(days=i),
            None if i % 3 == 0 else "x" * rng.randint(0, 200),
        ))
    return rows


def test_arrow_written_files_read_back_exactly(spark, tmpdir_path):
    """Files the Arrow writer stages read back under
    ``spark.read.schema(schema)`` as the rows written; every file is
    bucket-pure under Spark's own bucket expression, key-sorted and at
    most ``target_file_rows`` long; and ``_footer_stats_of`` on it
    equals the stats the writer recorded."""
    t = SnapshotTable(spark, tmpdir_path, key_cols=("k", "n"), order_col="o",
                      n_buckets=5, target_file_rows=7)
    rows = _wide_rows(90, seed=3)
    tbl = pa.Table.from_pylist(
        [dict(zip(_WIDE.names, r)) for r in rows],
        schema=to_arrow_schema(_WIDE),
    )
    staging, infos = arrow_exec.stage(t, tbl, _WIDE)
    assert sum(i["rows"] for i in infos) == len(rows)
    back = []
    for info in infos:
        assert 0 < info["rows"] <= 7
        assert Path(info["path"]).parent.name == f"_bucket={info['bucket']}"
        assert _footer_stats_of(
            pq.read_metadata(info["path"]), ("k", "n"), "o"
        ) == (info["key_stats"], info["order_stats"])
        df = spark.read.schema(_WIDE).parquet(info["path"])
        buckets = {r[0] for r in df.select(t._bucket_expr()).collect()}
        assert buckets == {info["bucket"]}
        got = [tuple(r) for r in df.collect()]
        keys = [((r[0] is not None, r[0]), (r[1] is not None, r[1]))
                for r in got]
        assert keys == sorted(keys)  # nulls first, as Spark sorts
        back += got

    def norm(r):
        return tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)

    def order(r):
        return tuple((v is None, str(v)) for v in r)

    assert sorted(map(norm, back), key=order) == sorted(rows, key=order)


def test_bucket_rows_equals_spark_pmod_xxhash64(spark):
    from etl_spark.lake import buckethash

    rows = _wide_rows(300, seed=9)
    df = spark.createDataFrame(rows, _WIDE)
    for cols in (["k"], ["k", "n"], ["l", "flag", "by", "sh", "dt"], ["b"]):
        want = [r[0] for r in df.select(
            F.pmod(F.xxhash64(*cols), F.lit(13)).cast("int")
        ).collect()]
        tbl = pa.Table.from_pylist(
            [dict(zip(_WIDE.names, r)) for r in rows],
            schema=to_arrow_schema(_WIDE),
        )
        got = buckethash.bucket_rows(
            [tbl.column(c) for c in cols], [_WIDE[c].dataType for c in cols], 13
        )
        assert got.tolist() == want, cols


def test_merge_epochs_rejects_a_table_the_writer_cannot_stage(
    spark, tmpdir_path
):
    t = SnapshotTable(spark, tmpdir_path, n_buckets=4)
    tbl = pa.table({
        "repo": ["r"], "path": ["p"], "commit": ["c000000000001"],
        "ts": pa.array([dt.datetime(2024, 1, 1)], pa.timestamp("us", "UTC")),
    })
    with pytest.raises(TypeError, match="pass a DataFrame"):
        t.merge_epochs(tbl, [0])
    assert t.current_version() is None


# ---- the forced-tier differential ----------------------------------------------

@pytest.fixture(scope="module")
def stream(spark, tmp_path_factory):
    """Six datagen epochs (re-deliveries within an epoch, deletes, an
    additive ``metadata`` column from epoch 3), then an epoch holding late
    cross-epoch re-deliveries of epoch-2 rows beside fresh updates — a
    partly stale delta."""
    root = tmp_path_factory.mktemp("arrow_tier") / "stream"
    write_segments(
        change_stream(spark, 3000, n_repos=8, paths_per_repo=30,
                      events_per_epoch=500, dup_pct=8, delete_pct=5,
                      with_metadata_from_epoch=3),
        str(root), files_per_epoch=2,
    )
    segs = discover_segments(str(root))
    late = pq.read_table(next(Path(segs[2].path).glob("*.parquet"))).slice(0, 15)
    fresh = pq.read_table(next(Path(segs[5].path).glob("*.parquet"))).slice(0, 25)
    fresh = fresh.set_column(
        fresh.column_names.index("commit"), "commit",
        pa.array(["c%012d" % (9000 + i) for i in range(fresh.num_rows)]),
    )
    out = root / "epoch=6"
    out.mkdir()
    pq.write_table(late, out / "part-0.parquet")
    pq.write_table(fresh, out / "part-1.parquet")
    return str(root)


def _snapshot(pipe: IngestPipeline) -> dict:
    t = pipe.table
    m = t.manifest()
    lineage = pipe.log.read().drop("bytes", "committed_at")
    return {
        "rows": sorted(
            map(tuple, t.read(include_deleted=True).collect()),
            key=lambda r: tuple((v is None, str(v)) for v in r),
        ),
        "files": sorted(
            (f["bucket"], f.get("kind", "base"), f["rows"],
             json.dumps(f["key_stats"]), json.dumps(f["order_stats"]),
             f.get("seq", 0))
            for f in t.files()
        ),
        "tombstones": t.read(include_deleted=True).where("_deleted").count(),
        "epochs": sorted(t.applied_epochs()),
        "schema": m["schema"],
        "lineage": sorted(map(tuple, lineage.collect())),
    }


def _replay_forced(spark, root: str, stream: str, tier: int, steps, **kw):
    pipe = IngestPipeline(spark, root, n_buckets=4, target_file_rows=64, **kw)
    pipe.arrow_tier_bytes = tier
    stats = []
    for step in steps:
        stats += step(pipe, stream)
    return pipe, stats


def _counts(stats):
    return [
        {k: v for k, v in s.as_dict().items()
         if k not in ("seconds", "events_per_sec", "tier")}
        for s in stats
    ]


def test_forced_tier_differential_incremental_and_catchup(
    spark, tmpdir_path, stream
):
    steps = [
        lambda p, s: p.replay(s, max_epoch=1),
        lambda p, s: p.replay(s, max_epoch=3, mode="catchup"),
        lambda p, s: p.replay(s),
    ]
    got = {}
    for name, tier in (("arrow", ARROW), ("spark", SPARK)):
        pipe, stats = _replay_forced(
            spark, f"{tmpdir_path}/{name}", stream, tier, steps,
            merge_mode="mor", max_files_per_bucket=4,
        )
        assert {s.as_dict()["tier"] for s in stats} == {name}
        # the stream reaches a partly stale MOR delta and a fold
        assert any(0 < s.commit["stale_rows_dropped"] < s.events_applied
                   for s in stats)
        assert any(s.commit["files_rewritten"] for s in stats)
        summaries = [pipe.table.manifest(v)["summary"]
                     for v in pipe.table.versions()]
        assert {s.get("tier") for s in summaries} == {name}
        # the plan that deduped the rows: the Arrow tier's own, or the
        # configured Spark strategy
        assert {s.get("dedupe") for s in summaries} == (
            {"arrow"} if name == "arrow" else {"fused"}
        )
        got[name] = (_snapshot(pipe), _counts(stats))
    assert got["arrow"] == got["spark"]
    snap = got["arrow"][0]
    assert any(f[1] == "delta" for f in snap["files"])
    assert "metadata" in [f["name"] for f in snap["schema"]["fields"]]
    assert snap["tombstones"] > 0


def test_forced_tier_differential_staged_publish(spark, tmpdir_path, stream):
    got = {}
    for name, tier in (("arrow", ARROW), ("spark", SPARK)):
        pipe, stats = _replay_forced(
            spark, f"{tmpdir_path}/{name}", stream, tier,
            [lambda p, s: p.replay(s, mode="catchup", stage_as="rc1")],
        )
        assert not pipe.table.exists()
        pipe.table.publish_staged("rc1")
        pipe.replay(stream)  # no pending epochs: heals lineage only
        got[name] = (_snapshot(pipe), _counts(stats))
    assert got["arrow"] == got["spark"]


# ---- zero jobs -------------------------------------------------------------------

_SEG = pa.schema([("repo", pa.string()), ("path", pa.string()),
                  ("commit", pa.string()), ("lang", pa.string()),
                  ("content", pa.string())])


def _segment(root: Path, epoch: int, rows: list[tuple]) -> None:
    d = root / f"epoch={epoch}"
    d.mkdir(parents=True)
    pq.write_table(pa.Table.from_pylist(
        [dict(zip(_SEG.names, r)) for r in rows], schema=_SEG
    ), d / "part-0.parquet")


def test_sparse_mor_commits_through_replay_launch_no_spark_jobs(
    spark, tmpdir_path
):
    """A plain and a partly stale sparse MOR commit through
    ``IngestPipeline.replay`` launch no Spark job: read, clean, dedupe,
    stale filter, staging, promote, manifest and lineage all run on the
    driver."""
    stream = Path(tmpdir_path) / "stream"
    pipe = IngestPipeline(spark, f"{tmpdir_path}/table", n_buckets=4,
                          merge_mode="mor", max_files_per_bucket=64)
    _segment(stream, 0, [("r", f"p{i:03d}", "c000000000010", "py", "v0")
                         for i in range(200)])
    pipe.replay(str(stream))
    _segment(stream, 1, [("r", f"p{i:03d}", "c000000000020", "py", "v1")
                         for i in range(0, 200, 10)])
    _segment(stream, 2, [("r", f"p{i:03d}", "c000000000015", "py", "late")
                         for i in range(0, 200, 20)]
             + [("r", f"p{i:03d}", "c000000000030", "py", "v2")
                for i in range(5, 200, 20)])
    commits = []
    for epoch in (1, 2):
        before = _jobs(spark)
        (stats,) = pipe.replay(str(stream), max_epoch=epoch)
        assert _jobs(spark) - before == 0, f"epoch {epoch}"
        assert stats.extra["tier"] == "arrow"
        commits.append(stats.commit)
    assert [c["stale_rows_dropped"] for c in commits] == [0, 10]
    assert all(c["delta_files"] > 0 and not c["files_rewritten"]
               for c in commits)
    state = {r.path: r.content for r in pipe.table.read().collect()}
    assert state["p000"] == "v1" and state["p005"] == "v2"
    assert state["p001"] == "v0" and len(state) == 200
    assert pipe.log.logged_epochs() == {0, 1, 2}


def test_first_commit_into_empty_table_reads_no_staged_keys(
    spark, tmpdir_path
):
    """Key probes are pre-read only for buckets with live files: a first
    commit into an empty table promotes every bucket without one."""
    t = SnapshotTable(spark, tmpdir_path, n_buckets=16)
    calls = []
    inner = t._probe_staged_keys

    def counted(*a, **k):
        calls.append(a)
        return inner(*a, **k)

    t._probe_staged_keys = counted
    df = spark.createDataFrame(
        [("r", f"p{i:03d}", "c000000000001", "x") for i in range(300)],
        "repo string, path string, commit string, content string",
    )
    t.merge_epoch(df, 0)
    assert calls == []
    t.merge_epoch(df.withColumn("commit", F.lit("c000000000002")), 1)
    assert len(calls) == 16
