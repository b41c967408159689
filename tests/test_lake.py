"""SnapshotTable mechanics: MERGE semantics, bucket pruning, atomic commits,
additive-only schema evolution."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from etl_spark.lake.table import SchemaEvolutionError, SnapshotTable, _merge_schemas
from pyspark.sql import types as T


def _tbl(spark, root, **kw):
    return SnapshotTable(spark, root, n_buckets=4, **kw)


def _df(spark, rows):
    return spark.createDataFrame(rows, ["repo", "path", "commit", "content"])


def test_merge_latest_wins_against_existing(spark, tmpdir_path):
    t = _tbl(spark, tmpdir_path)
    t.merge_epoch(_df(spark, [("r", "a", "c000000000001", "v1"),
                              ("r", "b", "c000000000002", "w2")]), 0)
    # epoch 1: newer commit for a, OLDER (late) commit for b — b must keep w2
    t.merge_epoch(_df(spark, [("r", "a", "c000000000005", "v5"),
                              ("r", "b", "c000000000001", "w1")]), 1)
    got = {(r.repo, r.path): (r.commit, r.content) for r in t.read().collect()}
    assert got == {("r", "a"): ("c000000000005", "v5"),
                   ("r", "b"): ("c000000000002", "w2")}


def test_bucket_pruning_carries_untouched_files(spark, tmpdir_path):
    # explicit COW: this test asserts copy-on-write rewrite mechanics
    t = _tbl(spark, tmpdir_path, merge_mode="cow")
    rows = [("r", f"p{i:03d}", "c000000000001", "x") for i in range(200)]
    t.merge_epoch(_df(spark, rows), 0)
    m0 = t.manifest()
    all_buckets = {f["bucket"] for f in m0["files"]}
    assert len(all_buckets) == 4
    # single-key update touches exactly one bucket
    stats = t.merge_epoch(_df(spark, [("r", "p000", "c000000000002", "y")]), 1)
    assert len(stats["rewritten_buckets"]) == 1
    m1 = t.manifest()
    old_paths = {f["path"] for f in m0["files"]}
    carried = [f for f in m1["files"] if f["path"] in old_paths]
    assert {f["bucket"] for f in carried} == all_buckets - set(stats["rewritten_buckets"])
    assert t.read().where("path = 'p000'").first().content == "y"
    assert t.read().count() == 200


def test_epoch_idempotence(spark, tmpdir_path):
    t = _tbl(spark, tmpdir_path)
    df = _df(spark, [("r", "a", "c000000000001", "v1")])
    t.merge_epoch(df, 7)
    v = t.current_version()
    out = t.merge_epoch(_df(spark, [("r", "a", "c000000000009", "EVIL")]), 7)
    assert out["skipped"] is True
    assert t.current_version() == v
    assert t.read().first().content == "v1"


def test_manifest_commit_is_atomic_create_if_absent(spark, tmpdir_path):
    t = _tbl(spark, tmpdir_path)
    t.merge_epoch(_df(spark, [("r", "a", "c000000000001", "v1")]), 0)
    m = t.manifest()  # the snapshot this writer planned against
    # a competing writer publishes the next version first -> our link must fail
    nxt = Path(tmpdir_path) / "_meta" / f"v{m['version'] + 1:012d}.json"
    nxt.write_text(json.dumps(m))
    with pytest.raises(OSError):
        t._commit_manifest(dict(m), base_version=m["version"])


def test_schema_merge_additive_only():
    old = T.StructType([T.StructField("a", T.StringType()), T.StructField("b", T.LongType())])
    new = T.StructType([T.StructField("a", T.StringType()), T.StructField("c", T.DoubleType())])
    merged = _merge_schemas(old, new)
    assert [f.name for f in merged.fields] == ["a", "b", "c"]
    bad = T.StructType([T.StructField("b", T.StringType())])
    with pytest.raises(SchemaEvolutionError):
        _merge_schemas(old, bad)


def test_schema_widening_promotions(spark, tmpdir_path):
    """Safe type widening (Iceberg promotions): a column may widen
    int->long / float->double; old narrow files upcast on read; a narrower
    late writer is served by the established wider type; lossy changes
    still raise."""
    old = T.StructType([T.StructField("a", T.IntegerType()),
                        T.StructField("f", T.FloatType())])
    wide = T.StructType([T.StructField("a", T.LongType()),
                         T.StructField("f", T.DoubleType())])
    merged = _merge_schemas(old, wide)
    assert [f.dataType.typeName() for f in merged.fields] == ["long", "double"]
    # narrower incoming keeps the wider established type
    merged2 = _merge_schemas(wide, old)
    assert [f.dataType.typeName() for f in merged2.fields] == ["long", "double"]
    with pytest.raises(SchemaEvolutionError):
        _merge_schemas(T.StructType([T.StructField("a", T.LongType())]),
                       T.StructType([T.StructField("a", T.StringType())]))

    # end-to-end: epoch 0 writes score as int, epoch 1 as long
    t = _tbl(spark, tmpdir_path)
    rows0 = spark.createDataFrame(
        [("r", "a", "c000000000001", "x", 7)],
        T.StructType([T.StructField("repo", T.StringType()),
                      T.StructField("path", T.StringType()),
                      T.StructField("commit", T.StringType()),
                      T.StructField("content", T.StringType()),
                      T.StructField("score", T.IntegerType())]))
    t.merge_epoch(rows0, 0)
    rows1 = spark.createDataFrame(
        [("r", "b", "c000000000002", "y", 5_000_000_000)],
        T.StructType([T.StructField("repo", T.StringType()),
                      T.StructField("path", T.StringType()),
                      T.StructField("commit", T.StringType()),
                      T.StructField("content", T.StringType()),
                      T.StructField("score", T.LongType())]))
    t.merge_epoch(rows1, 1)
    final = t.read()
    assert dict(final.dtypes)["score"] == "bigint"
    got = {r.path: r.score for r in final.collect()}
    assert got == {"a": 7, "b": 5_000_000_000}
    assert t.fsck()["ok"]


def test_old_files_never_rewritten_on_evolution(spark, tmpdir_path):
    t = _tbl(spark, tmpdir_path)
    rows = [("r", f"p{i:03d}", "c000000000001", "x") for i in range(100)]
    t.merge_epoch(_df(spark, rows), 0)
    m0 = t.manifest()
    evolved = spark.createDataFrame(
        [("zzz", "q1", "c000000000002", "y", '{"m":1}')],
        ["repo", "path", "commit", "content", "metadata"],
    )
    t.merge_epoch(evolved, 1)
    m1 = t.manifest()
    old_paths = {f["path"] for f in m0["files"]}
    # all buckets not touched by the single new key keep their original files
    assert len([f for f in m1["files"] if f["path"] in old_paths]) >= 3
    final = t.read()
    assert final.where("metadata IS NOT NULL").count() == 1
    assert final.where("metadata IS NULL").count() == 100


def test_bucket_files_stay_key_disjoint_and_bounded(spark, tmpdir_path):
    """After arbitrarily many merges, each key lives in exactly ONE live file
    (the invariant file-level COW relies on) and per-bucket file counts stay
    under max_files_per_bucket (the compaction cap)."""
    t = _tbl(spark, tmpdir_path, target_file_rows=20, max_files_per_bucket=4)
    for epoch in range(6):
        rows = [("r", f"p{(epoch * 7 + i) % 60:03d}", f"c{epoch:012d}", "x")
                for i in range(30)]
        t.merge_epoch(_df(spark, rows), epoch)
    m = t.manifest()
    per_bucket: dict[int, int] = {}
    for f in m["files"]:
        per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    assert all(n <= 4 for n in per_bucket.values()), per_bucket
    # key-disjointness: total rows across files == distinct keys
    assert t.read().count() == t.read().select("repo", "path").distinct().count() == 60
    assert t.fsck()["ok"]


def test_file_level_pruning_carries_disjoint_files(spark, tmpdir_path):
    """A delta whose keys fall outside a file's [min,max] key range carries
    that file untouched — the merge rewrite unit is the file, not the bucket."""
    t = SnapshotTable(spark, tmpdir_path, n_buckets=1, target_file_rows=50,
                      max_files_per_bucket=32, merge_mode="cow")
    rows = [("r", f"p{i:04d}", "c000000000001", "x") for i in range(500)]
    t.merge_epoch(_df(spark, rows), 0)
    m0 = t.manifest()
    assert len(m0["files"]) == 10  # 500 rows / 50-per-file in one bucket
    assert all(f["key_stats"] is not None for f in m0["files"])
    # delta hits a single key: exactly one file's range can contain it
    stats = t.merge_epoch(_df(spark, [("r", "p0000", "c000000000002", "y")]), 1)
    assert stats["files_rewritten"] == 1
    assert stats["files_pruned"] == 9
    assert t.read().count() == 500
    assert t.read().where("path = 'p0000'").first().content == "y"
    # untouched files carried by identity
    old_paths = {f["path"] for f in m0["files"]}
    carried = [f for f in t.manifest()["files"] if f["path"] in old_paths]
    assert len(carried) == 9


def test_merge_dedupes_non_prededuped_updates(spark, tmpdir_path):
    """The public MERGE API dedupes updates unless the caller vouches —
    including on the fresh-bucket fast path (rename, no rewrite)."""
    t = _tbl(spark, tmpdir_path)
    dup = _df(spark, [("r", "a", "c000000000001", "old"),
                      ("r", "a", "c000000000005", "new"),
                      ("r", "b", "c000000000002", "w")])
    t.merge_epoch(dup, 0)  # every bucket is fresh: rename path
    got = {(r.repo, r.path): r.content for r in t.read().collect()}
    assert got == {("r", "a"): "new", ("r", "b"): "w"}
    assert t.read().count() == 2


def test_key_column_type_change_rejected(spark, tmpdir_path):
    """Widening a KEY column would re-bucket (xxhash64(int32) != xxhash64
    (int64) of the same value) — must raise, while payload columns widen."""
    t = SnapshotTable(spark, tmpdir_path, key_cols=("repo", "line_no"),
                      order_col="commit", n_buckets=4)
    s_int = T.StructType([T.StructField("repo", T.StringType()),
                          T.StructField("line_no", T.IntegerType()),
                          T.StructField("commit", T.StringType())])
    t.merge_epoch(spark.createDataFrame([("r", 1, "c000000000001")], s_int), 0)
    s_long = T.StructType([T.StructField("repo", T.StringType()),
                           T.StructField("line_no", T.LongType()),
                           T.StructField("commit", T.StringType())])
    with pytest.raises(SchemaEvolutionError):
        t.merge_epoch(
            spark.createDataFrame([("r", 1, "c000000000002")], s_long), 1
        )


def test_lookup_numeric_key_casts_literal(spark, tmpdir_path):
    """Point lookup on a numeric key must hash the literal AT the column's
    type — a python int would otherwise hash as int32 and pick the wrong
    bucket."""
    t = SnapshotTable(spark, tmpdir_path, key_cols=("repo", "line_no"),
                      order_col="commit", n_buckets=8)
    s = T.StructType([T.StructField("repo", T.StringType()),
                      T.StructField("line_no", T.LongType()),
                      T.StructField("commit", T.StringType()),
                      T.StructField("line", T.StringType())])
    rows = [("r", i, "c000000000001", f"l{i}") for i in range(200)]
    t.merge_epoch(spark.createDataFrame(rows, s), 0)
    got = t.lookup("r", 123).collect()
    assert len(got) == 1 and got[0].line == "l123"


def test_merge_handles_null_key_values(spark, tmpdir_path):
    """Null key values never prune (parquet stats exclude nulls): a second
    merge updating the null key must rewrite, not duplicate."""
    s = T.StructType([T.StructField("repo", T.StringType()),
                      T.StructField("path", T.StringType()),
                      T.StructField("commit", T.StringType()),
                      T.StructField("content", T.StringType())])
    t = _tbl(spark, tmpdir_path, target_file_rows=10)
    t.merge_epoch(spark.createDataFrame(
        [("r", None, "c000000000001", "v1"),
         ("r", "a", "c000000000001", "x")], s), 0)
    t.merge_epoch(spark.createDataFrame(
        [("r", None, "c000000000002", "v2")], s), 1)
    rows = t.read().where("path IS NULL").collect()
    assert len(rows) == 1 and rows[0].content == "v2"
    assert t.read().count() == 2


def test_point_lookup_scans_only_candidate_files(spark, tmpdir_path):
    """lookup() reads the key's bucket narrowed by file stats — a point read
    touches ~1 file of hundreds, returns exactly the latest row, and runs
    no Spark job, before and after a rebucket."""
    t = SnapshotTable(spark, tmpdir_path, n_buckets=8, target_file_rows=10,
                      max_files_per_bucket=64)
    rows = [("r", f"p{i:04d}", "c000000000001", "x") for i in range(400)]
    t.merge_epoch(_df(spark, rows), 0)
    t.merge_epoch(_df(spark, [("r", "p0123", "c000000000002", "updated")]), 1)
    total = len(t.files())
    assert total > 30
    cands = t.candidate_files(("r", "p0123"))
    assert 1 <= len(cands) <= 3, (len(cands), total)
    got = t.lookup("r", "p0123").collect()
    assert len(got) == 1 and got[0].content == "updated"
    assert t.lookup("r", "nope").count() == 0
    # the candidate search and the read run on the driver: no Spark job
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    before = dag.nextJobId()
    cands2 = t.candidate_files(("r", "p0123"))
    assert [f["path"] for f in cands2] == [f["path"] for f in cands]
    assert t.lookup("r", "p0123").collect()[0].content == "updated"
    assert dag.nextJobId() == before
    t.rebucket(16)
    got = t.lookup("r", "p0123").collect()
    assert len(got) == 1 and got[0].content == "updated"


def test_grouped_manifest_lifecycle(spark, tmpdir_path):
    """Past the inline threshold, file entries split into immutable manifest
    groups; merges parse only touched groups and carry the rest by
    reference; read/changes/fsck/vacuum/compact/rollback all work."""
    import json as _json
    from pathlib import Path

    t = SnapshotTable(spark, tmpdir_path, n_buckets=8, target_file_rows=10,
                      max_files_per_bucket=64, manifest_groups=4,
                      manifest_inline_files=5)
    rows = [("r", f"p{i:04d}", "c000000000001", "x") for i in range(300)]
    t.merge_epoch(_df(spark, rows), 0)
    m0 = t.manifest()
    assert "files" not in m0 and "file_groups" in m0
    assert m0["manifest_n_groups"] == 4
    assert sum(g["n_files"] for g in m0["file_groups"]) == len(t.files()) > 5
    # single-key delta: only that bucket's group rewritten, others by ref
    t.merge_epoch(_df(spark, [("r", "p0000", "c000000000002", "y")]), 1)
    m1 = t.manifest()
    same_refs = {g["path"] for g in m0["file_groups"]} & {
        g["path"] for g in m1["file_groups"]
    }
    assert len(same_refs) == 3  # 3 of 4 groups carried by reference
    assert t.read().count() == 300
    assert t.read().where("path = 'p0000'").first().content == "y"
    assert t.fsck()["ok"]
    # change feed across grouped snapshots: new-file rows only (no epoch
    # column here, so no provenance filter — the one rewritten file's rows)
    d = {r["path"] for r in t.changes_between(1, 2).collect()}
    assert "p0000" in d and len(d) <= 20
    # group files are valid JSON entry lists
    g = m1["file_groups"][0]
    entries = _json.loads(Path(g["path"]).read_text())
    assert all("bucket" in e and "key_stats" in e for e in entries)
    # maintenance: expire+vacuum reclaims the replaced group files
    t.expire_snapshots(retain_last=1)
    stats = t.vacuum(older_than_s=0)
    assert stats["group_files_removed"] >= 1
    assert t.read().count() == 300
    # compact keeps grouped-or-inline storage consistent and state intact
    out = t.compact(above=1)
    assert out["compacted_buckets"] >= 1
    assert t.read().count() == 300
    assert t.fsck()["ok"]


def test_applied_epochs_stored_as_compact_ranges(spark, tmpdir_path):
    """10^4 epochs applied in one catch-up commit occupy ONE [lo,hi] range in
    the manifest — O(#gaps), not O(#epochs) — and incremental gaps stay
    readable."""
    import json as _json

    from etl_spark.lake.table import decode_epoch_ranges, encode_epoch_ranges

    t = _tbl(spark, tmpdir_path)
    t.merge_epochs(_df(spark, [("r", "a", "c000000000001", "x")]),
                   list(range(10_000)))
    m = t.manifest()
    assert m["applied_epochs"] == [[0, 9999]]
    assert len(_json.dumps(m["applied_epochs"])) < 20
    assert len(t.applied_epochs()) == 10_000
    # a gap produces exactly one extra range
    t.merge_epoch(_df(spark, [("r", "a", "c000000000002", "y")]), 20_000)
    assert t.manifest()["applied_epochs"] == [[0, 9999], [20000, 20000]]
    # pure codec round-trip incl. legacy flat-list form
    assert decode_epoch_ranges([0, 1, 2, 9]) == {0, 1, 2, 9}
    assert encode_epoch_ranges({5, 3, 4, 9}) == [[3, 5], [9, 9]]
    assert decode_epoch_ranges(encode_epoch_ranges(range(100))) == set(range(100))


def test_large_healthy_bucket_not_perma_compacted(spark, tmpdir_path):
    """ADVICE r2 (medium): a bucket legitimately holding more than
    max_files_per_bucket target-size files (rows > limit * target_file_rows)
    must neither fail fsck nor trigger whole-bucket rewrites on every sparse
    merge — only FRAGMENTATION (files >> rows/target) compacts."""
    t = SnapshotTable(spark, tmpdir_path, n_buckets=1, target_file_rows=10,
                      max_files_per_bucket=4, merge_mode="cow")
    # 200 rows -> needs 20 files in the single bucket, 5x the nominal limit
    rows = [("r", f"p{i:04d}", "c000000000001", "x") for i in range(200)]
    t.merge_epoch(_df(spark, rows), 0)
    n0 = len(t.files())
    assert n0 >= 20  # legitimately above max_files_per_bucket
    assert t.fsck()["ok"], t.fsck()["findings"]
    # sparse single-key merge: file-level COW, NOT a whole-bucket rewrite
    stats = t.merge_epoch(_df(spark, [("r", "p0000", "c000000000002", "y")]), 1)
    assert stats["files_rewritten"] <= 2
    assert stats["files_pruned"] >= n0 - 2
    assert t.fsck()["ok"]
    # default compact() leaves the healthy-but-large bucket alone
    out = t.compact()
    assert out["compacted_buckets"] == 0
    assert t.read().count() == 200


def test_merge_single_manifest_read_no_toctou(spark, tmpdir_path):
    """ADVICE r2: applied-epoch set and base_version must come from ONE
    manifest read — a concurrent commit landing between two reads would
    shrink the applied set without tripping the os.link conflict."""
    t = _tbl(spark, tmpdir_path)
    t.merge_epoch(_df(spark, [("r", "a", "c000000000001", "v1")]), 0)

    # interleave: a competing writer commits epoch 5 AFTER this merge loaded
    # its manifest. The os.link race must force a re-plan that PRESERVES 5.
    orig = SnapshotTable.manifest
    fired = {"n": 0}

    def racing_manifest(self, version=None):
        m = orig(self, version)
        if version is None and fired["n"] == 0 and m and m["version"] == 2:
            fired["n"] = 1
            t2 = SnapshotTable(self.spark, str(self.root))
            t2.merge_epoch(_df(self.spark, [("r", "z", "c000000000003", "zz")]), 5)
        return m

    t.merge_epoch(_df(spark, [("r", "b", "c000000000002", "v2")]), 1)
    SnapshotTable.manifest = racing_manifest
    try:
        t.merge_epoch(_df(spark, [("r", "c", "c000000000004", "v4")]), 2)
    finally:
        SnapshotTable.manifest = orig
    assert t.applied_epochs() == {0, 1, 2, 5}
    got = {r.path for r in t.read().collect()}
    assert got == {"a", "b", "c", "z"}


def test_change_feed_filter_is_ranges_not_inlist(spark, tmpdir_path):
    """ADVICE r2: a wide epoch delta must reach the plan as O(#gaps) BETWEEN
    clauses, not 10^4+ IN-list literals that blow up driver planning."""
    t = _tbl(spark, tmpdir_path)
    rows = spark.createDataFrame(
        [("r", "a", "c000000000001", "x", 0)],
        ["repo", "path", "commit", "content", "epoch"],
    )
    t.merge_epochs(rows, list(range(10_000)))
    feed = t.changes_between(None)
    assert [r.path for r in feed.collect()] == ["a"]
    plan = feed._jdf.queryExecution().optimizedPlan().toString()
    assert " IN " not in plan and "10,000" not in plan
    assert len(plan) < 4000, len(plan)


def test_explicit_file_sizing_knobs_win_on_attach(spark, tmpdir_path):
    """target_file_rows/max_files_per_bucket are mutable write policy like
    merge_mode: None adopts the persisted value, an explicit value retunes
    the existing table and persists on the next commit."""
    t = SnapshotTable(spark, tmpdir_path, n_buckets=2, target_file_rows=8,
                      max_files_per_bucket=4)
    t.merge_epoch(_df(spark, [("r", f"p{i}", "c000000000001", "x")
                                     for i in range(32)]), 0)
    # default attach adopts the persisted knobs
    adopted = SnapshotTable(spark, tmpdir_path)
    assert adopted.target_file_rows == 8
    assert adopted.max_files_per_bucket == 4
    # explicit attach wins and is persisted by its next commit
    retuned = SnapshotTable(spark, tmpdir_path, target_file_rows=1 << 20)
    assert retuned.target_file_rows == 1 << 20
    retuned.merge_epoch(_df(spark, [("r", "q", "c000000000001", "x")]), 1)
    assert SnapshotTable(spark, tmpdir_path).target_file_rows == 1 << 20


def test_distributed_footer_stats_match_driver_pool(spark, tmpdir_path):
    """Past stats_distributed_files staged files, footer stats are read
    executor-side (mapInPandas) instead of a driver thread pool (GIL-bound
    at ~0.4 ms/file — minutes at bulk-load file counts). The two paths must
    produce byte-identical manifest entries."""
    t = SnapshotTable(spark, tmpdir_path, n_buckets=4, target_file_rows=5,
                      max_files_per_bucket=64)
    rows = [("r", f"p{i:03d}", "c000000000001", "x" * 20) for i in range(200)]
    t.merge_epoch(_df(spark, rows), 0)  # manifest stats via the pool path
    files = t.files()
    assert len(files) > 30
    dist = t._stat_staged_distributed(
        [(f["bucket"], Path(f["path"])) for f in files]
    )
    by_path = {d["path"]: d for d in dist}
    assert len(by_path) == len(files)
    for f in files:
        d = by_path[f["path"]]
        for k in ("bucket", "rows", "bytes", "key_stats", "order_stats"):
            assert d[k] == f[k], (k, d[k], f[k])
        assert d["key_stats"] is not None  # stats actually present, not None==None


def test_bulk_commit_on_distributed_stats_path(spark, tmpdir_path):
    """End-to-end: a commit whose staged file count crosses the threshold
    takes the distributed stats path and still prunes/merges correctly."""
    t = SnapshotTable(spark, tmpdir_path, n_buckets=4, target_file_rows=2,
                      max_files_per_bucket=128)
    t.stats_distributed_files = 10
    rows = [("r", f"p{i:03d}", "c000000000001", "x") for i in range(120)]
    t.merge_epoch(_df(spark, rows), 0)
    assert len(t.files()) > 10
    s = t.merge_epoch(_df(spark, [("r", "p007", "c000000000002", "y")]), 1)
    # file-level stats pruning must still work off the distributed stats
    assert s["files_rewritten"] <= 3
    got = {r.path: r.content for r in t.read().collect()}
    assert len(got) == 120 and got["p007"] == "y" and got["p006"] == "x"
    assert t.fsck()["ok"]


def test_change_feed_diff_loads_only_changed_groups(spark, tmpdir_path):
    """The feed's manifest diff must be O(changed groups), not O(table):
    group refs carried verbatim between the two snapshots are skipped
    without opening the group file, and the old-side exclusion set loads
    only the groups whose ids changed. At the nominal 10^6-file scale this
    is the difference between a feed that opens a handful of JSON files
    and one that re-reads the whole manifest tree per poll."""
    t = SnapshotTable(spark, tmpdir_path, n_buckets=8, target_file_rows=10,
                      max_files_per_bucket=64, manifest_groups=4,
                      manifest_inline_files=5)
    rows = [("r", f"p{i:04d}", "c000000000001", "x") for i in range(300)]
    t.merge_epoch(_df(spark, rows), 0)
    t.merge_epoch(_df(spark, [("r", "p0000", "c000000000002", "y")]), 1)
    m1, m2 = t.manifest(1), t.manifest(2)

    loads = []
    orig = SnapshotTable._load_group

    def counting(self, ref):
        loads.append(ref["path"])
        return orig(self, ref)

    SnapshotTable._load_group = counting
    try:
        fast = sorted(f["path"] for f in t._diff_new_files(m1, m2))
    finally:
        SnapshotTable._load_group = orig
    # one bucket touched -> one changed group on the new side plus its
    # old-side counterpart; the 3 carried refs are never opened
    assert len(loads) == 2, loads
    # and the pruned diff equals the full-listing diff exactly
    old_paths = {f["path"] for f in t._files_of(m1)}
    full = sorted(
        f["path"] for f in t._files_of(m2) if f["path"] not in old_paths
    )
    assert fast == full and len(fast) >= 1
    # feed correctness through the public surface
    d = {r["path"] for r in t.changes_between(1, 2).collect()}
    assert "p0000" in d
    # layout boundary (rebucket changes n_buckets -> group ids reshuffle):
    # the diff falls back to the full listing and stays exact
    t.rebucket(16)
    m3 = t.manifest(3)
    fb = {f["path"] for f in t._diff_new_files(m2, m3)}
    old2 = {f["path"] for f in t._files_of(m2)}
    assert fb == {f["path"] for f in t._files_of(m3) if f["path"] not in old2}


def test_replace_all_overwrites_state(spark, tmpdir_path):
    """replace_all: the one writer verb that can LOWER a key's order value
    and drop keys outright (INSERT OVERWRITE analog); resets the epoch
    space; merge arbitration continues from the replaced state."""
    t = _tbl(spark, tmpdir_path)
    t.merge_epoch(_df(spark, [("r", "a", "c000000000005", "v5"),
                              ("r", "b", "c000000000005", "w5")]), 0)
    out = t.replace_all(
        _df(spark, [("r", "a", "c000000000002", "LOW")]), [0, 1])
    assert out["replaced"] and out["rows_written"] == 1
    got = t.read().collect()
    assert [(r.commit, r.content) for r in got] == [("c000000000002", "LOW")]
    assert t.applied_epochs() == {0, 1}
    assert t.fsck()["ok"]
    # merges continue from the replaced state under normal arbitration
    t.merge_epoch(_df(spark, [("r", "a", "c000000000003", "v3")]), 2)
    assert {r.content for r in t.read().collect()} == {"v3"}
    # the pre-replace snapshot is still time-travel readable
    assert {r.content for r in t.read(version=1).collect()} == {"v5", "w5"}


def test_hintless_small_merge_stages_at_default_parallelism(
    spark, tmpdir_path
):
    """With no size_hint, merge_epochs and replace_all size the staging
    exchange from the optimizer's estimate of the batch — for a parquet
    read such as the mirror's change feed, the files' bytes: a few-row
    merge gets defaultParallelism reducers, not the wide 4 x n_buckets
    default."""
    t = SnapshotTable(spark, f"{tmpdir_path}/t", n_buckets=64)
    widths = []
    width_of = t._staging_width
    t._staging_width = lambda size: widths.append(width_of(size)) or widths[-1]

    def batch(name, rows):
        _df(spark, rows).write.parquet(f"{tmpdir_path}/{name}")
        return spark.read.parquet(f"{tmpdir_path}/{name}")

    t.merge_epoch(batch("b0", [("r", f"p{i}", "c000000000001", "x")
                               for i in range(300)]), 0)
    t.replace_all(batch("b1", [("r", "a", "c000000000002", "y")]), [0, 1])
    par = spark.sparkContext.defaultParallelism
    assert par < 4 * t.n_buckets
    assert widths and set(widths) == {par}
    assert [r.content for r in t.read().collect()] == ["y"]


def test_cli_delete_stages_at_default_parallelism(spark, tmpdir_path):
    """`cli delete` builds its one-row key frame so the optimizer can size
    it: on a 64-bucket table no stage of the delete runs more than
    defaultParallelism tasks (a frame of Python rows is sized at Spark's
    Long.MaxValue default and would stage at 4 x n_buckets reducers)."""
    from etl_spark.cli import main as cli_main

    t = SnapshotTable(spark, f"{tmpdir_path}/t", n_buckets=64)
    t.merge_epoch(_df(spark, [("r", f"p{i}", "c000000000001", "x")
                              for i in range(200)]), 0)
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    assert cli_main(["delete", "--table", str(t.root), "--repo", "r",
                     "--path", "p7", "--commit", "c000000000002",
                     "--epoch", "1"]) == 0
    tasks = [
        sc.statusTracker().getStageInfo(s).numTasks
        for j in range(first, dag.nextJobId())
        for s in sc.statusTracker().getJobInfo(j).stageIds
        if sc.statusTracker().getStageInfo(s) is not None
    ]
    assert tasks and max(tasks) <= sc.defaultParallelism < 4 * t.n_buckets
    got = {r.path for r in SnapshotTable(spark, str(t.root)).read().collect()}
    assert len(got) == 199 and "p7" not in got


def test_tag_file_is_fsynced_before_link(spark, tmpdir_path, monkeypatch):
    """tag() writes its temp file with the write-fsync-link discipline of
    the manifest writers: the content is complete and fsynced before the
    create-once link publishes it."""
    import os

    t = _tbl(spark, tmpdir_path)
    t.merge_epoch(_df(spark, [("r", "a", "c000000000001", "x")]), 0)
    events = []
    fsync, link = os.fsync, os.link

    def spy_fsync(fd):
        events.append(("fsync", os.readlink(f"/proc/self/fd/{fd}")))
        return fsync(fd)

    def spy_link(src, dst):
        events.append(("link", str(src), json.loads(Path(src).read_text())))
        return link(src, dst)

    monkeypatch.setattr(os, "fsync", spy_fsync)
    monkeypatch.setattr(os, "link", spy_link)
    assert t.tag("rc1") == {"tag": "rc1", "version": 1}
    assert [e[0] for e in events] == ["fsync", "link"]
    assert events[0][1] == events[1][1]
    assert events[1][2]["version"] == 1
    assert t.tags() == {"rc1": 1}
