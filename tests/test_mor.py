"""Merge-on-read: delta files folded at read time == copy-on-write rewrites.

The scale motivation (VERDICT r2 #1): a COW upsert touching K scattered keys
rewrites O(K) files of ``target_file_rows`` rows each — ~10^5x write
amplification per changed row at production file sizes. MOR instead writes
O(delta rows) bytes as bucket-pure DELTA files and folds them into the base
via a broadcast null-safe anti-join on read; compaction folds lazily.

Reference analog: the reference stages raw inserts and resolves duplicates
at query time with DISTINCT ON before the anti-join insert
(create_duckdb_points.py:151-173) — MOR generalizes exactly that "resolve on
read, settle on write later" split.
"""

from __future__ import annotations

import random

import pytest

from etl_spark.lake.table import SnapshotTable


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "repo string, path string, commit string, content string"
    )


def _state(t):
    return sorted(
        (r.repo, r.path, r.commit, r.content)
        for r in t.read().select("repo", "path", "commit", "content").collect()
    )


def _mk(spark, root, mode, **kw):
    kw.setdefault("n_buckets", 4)
    return SnapshotTable(spark, root, merge_mode=mode, **kw)


def test_mor_equals_cow_differential(spark, tmpdir_path):
    """The SAME epoch stream (inserts, updates, late/duplicate re-deliveries)
    replayed under MOR and COW yields identical final state — before AND
    after compaction."""
    rng = random.Random(7)
    epochs = []
    for e in range(6):
        rows = []
        for _ in range(120):
            k = rng.randrange(60)
            order = rng.randrange(1, 40)
            # content deterministic per (key, order): duplicate deliveries
            # are byte-identical, as the re-delivery contract requires
            rows.append(("r", f"p{k:03d}", f"c{order:012d}", f"v:{k}:{order}"))
        epochs.append(rows)
    cow = _mk(spark, f"{tmpdir_path}/cow", "cow")
    mor = _mk(spark, f"{tmpdir_path}/mor", "mor")
    for e, rows in enumerate(epochs):
        cow.merge_epoch(_df(spark, rows), e)
        mor.merge_epoch(_df(spark, rows), e)
    assert _state(mor) == _state(cow)
    mor.compact()
    assert _state(mor) == _state(cow)
    assert mor.fsck()["ok"], mor.fsck()["findings"]
    assert not any(f.get("kind") == "delta" for f in mor.files())


def test_mor_scattered_delta_writes_o_delta_rows(spark, tmpdir_path):
    """The round-2 scale risk, closed: a scattered hot-key delta on a MOR
    table rewrites NO base files and writes bytes proportional to the delta,
    not to delta_keys x target_file_rows."""
    t = _mk(spark, tmpdir_path, "mor", n_buckets=8, target_file_rows=50)
    rows = [("r", f"p{i:04d}", "c000000000001", "x" * 50) for i in range(2000)]
    t.merge_epoch(_df(spark, rows), 0)
    base_files = len(t.files())
    base_bytes = sum(f["bytes"] for f in t.files())
    # 40 keys scattered across the whole key space
    upd = [("r", f"p{i:04d}", "c000000000002", "y") for i in range(0, 2000, 50)]
    s = t.merge_epoch(_df(spark, upd), 1)
    assert s["mode"] == "mor"
    assert s["files_rewritten"] == 0
    assert s["delta_files"] >= 1
    # O(delta ROWS), not O(delta keys x target_file_rows): exactly the 40
    # delta rows land on disk (bytes at this tiny scale are dominated by
    # per-file parquet footers, so rows are the honest measure)
    assert sum(f["rows"] for f in s["new_files"]) == len(upd)
    new_bytes = sum(f["bytes"] for f in s["new_files"])
    assert new_bytes < base_bytes / 5, (new_bytes, base_bytes)
    assert len(t.files()) <= base_files + s["delta_files"]
    got = {r.path: r.content for r in t.read().collect()}
    assert len(got) == 2000
    assert got["p0000"] == "y" and got["p0001"] == "x" * 50


def test_mor_stale_and_equal_order_deltas_dropped(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path, "mor")
    t.merge_epoch(_df(spark, [("r", "a", "c000000000005", "v5")]), 0)
    # strictly older -> dropped; equal order -> identical re-delivery, dropped
    s1 = t.merge_epoch(_df(spark, [("r", "a", "c000000000003", "v3")]), 1)
    s2 = t.merge_epoch(_df(spark, [("r", "a", "c000000000005", "v5")]), 2)
    assert s1["stale_rows_dropped"] == 1 and s1["delta_files"] == 0
    assert s2["stale_rows_dropped"] == 1 and s2["delta_files"] == 0
    assert t.applied_epochs() == {0, 1, 2}  # metadata-only commits still count
    assert _state(t) == [("r", "a", "c000000000005", "v5")]
    # newer across TWO delta generations: latest wins, older delta shadowed
    t.merge_epoch(_df(spark, [("r", "a", "c000000000007", "v7")]), 3)
    t.merge_epoch(_df(spark, [("r", "a", "c000000000009", "v9")]), 4)
    assert _state(t) == [("r", "a", "c000000000009", "v9")]
    one = t.lookup("r", "a").collect()
    assert len(one) == 1 and one[0].content == "v9"


def test_mor_delta_cap_triggers_bucket_fold(spark, tmpdir_path):
    """Past max_files_per_bucket // 2 live delta files, the bucket folds back
    into base files at merge time — the delta set stays bounded."""
    t = _mk(spark, tmpdir_path, "mor", n_buckets=1, max_files_per_bucket=6)
    t.merge_epoch(_df(spark, [("r", f"p{i}", "c000000000001", "x")
                              for i in range(20)]), 0)
    folded_at = None
    for e in range(1, 8):
        s = t.merge_epoch(
            _df(spark, [("r", "p1", f"c{e + 1:012d}", f"v{e}")]), e
        )
        _, deltas = SnapshotTable._split_kinds(t.files())
        assert len(deltas) <= 3  # cap = max(2, 6 // 2)
        if s["folded_buckets"]:
            folded_at = e
    assert folded_at is not None
    got = {r.path: r.content for r in t.read().collect()}
    assert len(got) == 20 and got["p1"] == "v7"
    assert t.fsck()["ok"]


def test_mor_null_key_fold_is_null_safe(spark, tmpdir_path):
    """A null key value must fold like any other key — a plain (non <=>)
    anti-join would let the stale null-key base row survive."""
    t = _mk(spark, tmpdir_path, "mor")
    t.merge_epoch(_df(spark, [("r", None, "c000000000001", "old"),
                              ("r", "a", "c000000000001", "xa")]), 0)
    t.merge_epoch(_df(spark, [("r", None, "c000000000002", "new")]), 1)
    got = {r.path: r.content for r in t.read().collect()}
    assert got == {None: "new", "a": "xa"}
    one = t.lookup("r", None).collect()
    assert len(one) == 1 and one[0].content == "new"


def test_mor_schema_evolution_in_delta(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path, "mor")
    t.merge_epoch(_df(spark, [("r", "a", "c000000000001", "v1"),
                              ("r", "b", "c000000000001", "w1")]), 0)
    upd = spark.createDataFrame(
        [("r", "a", "c000000000002", "v2", "python")],
        ["repo", "path", "commit", "content", "lang"],
    )
    t.merge_epoch(upd, 1)
    got = {r.path: (r.content, r.lang) for r in t.read().collect()}
    assert got == {"a": ("v2", "python"), "b": ("w1", None)}


def test_mor_change_feed_and_time_travel(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path, "mor")
    t.merge_epoch(_df(spark, [("r", "a", "c000000000001", "v1"),
                              ("r", "b", "c000000000001", "w1")]), 0)
    v1 = t.current_version()
    t.merge_epoch(_df(spark, [("r", "a", "c000000000002", "v2")]), 1)
    feed = [(r.path, r.content) for r in t.changes_between(v1).collect()]
    assert feed == [("a", "v2")]
    old = {r.path: r.content for r in t.read(version=v1).collect()}
    assert old == {"a": "v1", "b": "w1"}
    new = {r.path: r.content for r in t.read().collect()}
    assert new == {"a": "v2", "b": "w1"}


def test_mor_read_plan_broadcasts_no_base_shuffle(spark, tmpdir_path):
    """Scale shape of the fold: the base scan must not shuffle — the delta
    side is broadcast into the anti-join; only the (tiny) delta aggregation
    exchanges."""
    t = _mk(spark, tmpdir_path, "mor", n_buckets=2)
    t.merge_epoch(_df(spark, [("r", f"p{i}", "c000000000001", "x")
                              for i in range(50)]), 0)
    t.merge_epoch(_df(spark, [("r", "p1", "c000000000002", "y")]), 1)
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_mor_per_merge_override_on_cow_table(spark, tmpdir_path):
    """merge_mode is a per-commit policy: a COW table takes one MOR patch
    (and vice versa), and subsequent merges handle the mixed file kinds."""
    t = _mk(spark, tmpdir_path, "cow")
    t.merge_epoch(_df(spark, [("r", "a", "c000000000001", "v1"),
                              ("r", "b", "c000000000001", "w1")]), 0)
    s = t.merge_epoch(_df(spark, [("r", "a", "c000000000002", "v2")]), 1,
                      merge_mode="mor")
    assert s["mode"] == "mor" and s["delta_files"] == 1
    # a later COW merge folds the delta it intersects
    t.merge_epoch(_df(spark, [("r", "a", "c000000000003", "v3")]), 2)
    assert _state(t) == [("r", "a", "c000000000003", "v3"),
                         ("r", "b", "c000000000001", "w1")]
    # attach re-adopts the persisted policy; explicit constructor flips it
    assert SnapshotTable(spark, tmpdir_path).merge_mode == "cow"
    assert SnapshotTable(spark, tmpdir_path, merge_mode="mor").merge_mode == "mor"


def test_mor_idempotent_replay(spark, tmpdir_path):
    t = _mk(spark, tmpdir_path, "mor")
    t.merge_epoch(_df(spark, [("r", "a", "c000000000001", "v1")]), 0)
    t.merge_epoch(_df(spark, [("r", "a", "c000000000002", "v2")]), 1)
    v = t.current_version()
    out = t.merge_epoch(_df(spark, [("r", "a", "c000000000009", "EVIL")]), 1)
    assert out["skipped"] is True and t.current_version() == v
    assert _state(t) == [("r", "a", "c000000000002", "v2")]


def test_fold_falls_back_to_shuffle_past_broadcast_guard(spark, tmpdir_path):
    """A compaction-overdue table's live delta rows can exceed what an
    explicit broadcast can hold (it would OOM the driver + every executor);
    past fold_broadcast_rows the fold must yield the SAME state via a
    latest-wins shuffle instead, with no broadcast join in the plan."""
    t = _mk(spark, tmpdir_path, "mor")
    t.merge_epoch(_df(spark, [("r", f"p{i}", "c000000000001", "v1")
                              for i in range(50)]), 0)
    t.merge_epoch(_df(spark, [("r", f"p{i}", "c000000000002", "v2")
                              for i in range(0, 50, 2)]), 1)
    assert any(f.get("kind") == "delta" for f in t.files())
    want = _state(t)  # broadcast path
    t.fold_broadcast_rows = 0
    plan = t.read()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan
    assert _state(t) == want


def test_auto_equals_cow_equals_mor_differential(spark, tmpdir_path):
    """merge_mode="auto" (VERDICT r3 #2): the SAME epoch stream replayed
    under auto, cow, and mor yields identical final state — before and
    after compaction — while auto actually exercises BOTH per-bucket
    paths somewhere along the stream."""
    rng = random.Random(11)
    epochs = []
    for _ in range(6):
        rows = []
        for _ in range(rng.choice([3, 120])):  # tiny deltas AND bulk bursts
            k = rng.randrange(60)
            order = rng.randrange(1, 40)
            rows.append(("r", f"p{k:03d}", f"c{order:012d}", f"v:{k}:{order}"))
        epochs.append(rows)
    tables = {
        m: _mk(spark, f"{tmpdir_path}/{m}", m, target_file_rows=8)
        for m in ("cow", "mor", "auto")
    }
    chose = {"cow": 0, "mor": 0}
    for e, rows in enumerate(epochs):
        for m, t in tables.items():
            out = t.merge_epoch(_df(spark, rows), e)
            if m == "auto" and not out.get("skipped"):
                for k, n in out["auto_modes"].items():
                    chose[k] += n
    states = {m: _state(t) for m, t in tables.items()}
    assert states["auto"] == states["cow"] == states["mor"]
    assert chose["cow"] > 0 and chose["mor"] > 0, chose
    tables["auto"].compact()
    assert _state(tables["auto"]) == states["cow"]
    assert tables["auto"].fsck()["ok"]


def test_auto_picks_mor_for_scattered_and_cow_for_proportionate(
    spark, tmpdir_path
):
    """The decision itself: a scattered hot-key delta (COW would rewrite
    >auto_mor_factor x the delta rows) lands as delta files; a bootstrap
    and a proportionate bulk update rewrite copy-on-write with no delta
    debt."""
    t = _mk(spark, tmpdir_path, "auto", n_buckets=8, target_file_rows=50)
    rows = [("r", f"p{i:04d}", "c000000000001", "x" * 50) for i in range(2000)]
    s0 = t.merge_epoch(_df(spark, rows), 0)
    # bootstrap: disjoint keys -> COW promote, zero delta files
    assert s0["auto_modes"]["mor"] == 0 and s0["delta_files"] == 0

    # scattered: 40 keys across the whole domain -> every touched bucket
    # would rewrite ~50 rows per 1-row delta -> MOR, O(delta rows) written
    upd = [("r", f"p{i:04d}", "c000000000002", "y") for i in range(0, 2000, 50)]
    s1 = t.merge_epoch(_df(spark, upd), 1)
    assert s1["auto_modes"]["cow"] == 0 and s1["auto_modes"]["mor"] > 0
    assert s1["files_rewritten"] == 0 and s1["delta_files"] >= 1
    assert sum(f["rows"] for f in s1["new_files"]) == len(upd)

    # proportionate: update EVERY key -> rewrite rows ~= delta rows -> COW
    # (and the rewrite folds the live deltas back in)
    upd2 = [("r", f"p{i:04d}", "c000000000003", "z") for i in range(2000)]
    s2 = t.merge_epoch(_df(spark, upd2), 2)
    assert s2["auto_modes"]["mor"] == 0 and s2["auto_modes"]["cow"] > 0
    assert s2["delta_files"] == 0
    assert not any(f.get("kind") == "delta" for f in t.files())
    got = {r.path: r.content for r in t.read().collect()}
    assert len(got) == 2000 and set(got.values()) == {"z"}
    assert t.fsck()["ok"]


def test_cow_commit_folds_deltas_without_duplicating_carried_keys(
    spark, tmpdir_path
):
    """A COW commit on a bucket carrying MOR deltas: folding a delta whose
    range overlaps the incoming keys must ALSO rewrite every base file
    holding a delta key — otherwise the folded row duplicates a key still
    present in a carried base file (lifecycle-fuzz seed 303)."""
    t = SnapshotTable(spark, tmpdir_path, n_buckets=1, target_file_rows=1)
    t.merge_epoch(_df(spark, [("r", "a", "c000000000001", "a1"),
                              ("r", "b", "c000000000001", "b1"),
                              ("r", "c", "c000000000001", "c1")]), 0)
    # delta spans [a..c]; its keys' base rows live in per-row base files
    t.merge_epoch(_df(spark, [("r", "a", "c000000000002", "a2"),
                              ("r", "c", "c000000000002", "c2")]), 1,
                  merge_mode="mor")
    assert any(f.get("kind") == "delta" for f in t.files())
    # incoming key "b" overlaps the delta's [a..c] range but not base "a"
    t.merge_epoch(_df(spark, [("r", "b", "c000000000003", "b3")]), 2,
                  merge_mode="cow")
    rows = t.read().select("repo", "path", "commit", "content").collect()
    assert len(rows) == 3  # exactly one live row per key
    assert {(r.path, r.content) for r in rows} == {
        ("a", "a2"), ("b", "b3"), ("c", "c2")}
    assert t.fsck()["ok"]


def test_status_surfaces_mor_delta_debt_and_suggests_compaction(
    spark, tmpdir_path, capsys
):
    """VERDICT r3 #6: `status` must show accumulating MOR read debt (live
    delta files/rows, fold path) and suggest compaction BEFORE the broadcast
    guard flips the read plan to a shuffle. fold_broadcast_rows is persisted
    write policy, so the CLI's fresh SnapshotTable sees the same guard the
    table's own reads use."""
    import json as _json

    from etl_spark.cli import main as cli_main

    root = f"{tmpdir_path}/t"
    t = SnapshotTable(spark, root, n_buckets=2, merge_mode="mor",
                      fold_broadcast_rows=30)
    t.merge_epoch(
        _df(spark, [("r", f"p{i:03d}", "c000000000001", "x") for i in range(60)]),
        0,
    )

    def _status():
        assert cli_main(["status", "--table", root]) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    st = _status()
    assert st["delta_files"] == 0 and st["fold_path"] is None
    assert st["suggested_compact"] is False
    assert st["fold_shuffle_guard_rows"] == 30

    # 20 scattered updated keys: past guard//2 -> suggestion fires while the
    # fold is still the cheap broadcast path
    t.merge_epoch(
        _df(spark, [("r", f"p{i:03d}", "c000000000002", "y")
                    for i in range(0, 60, 3)]),
        1,
    )
    st = _status()
    assert st["delta_rows"] == 20 and st["delta_files"] >= 1
    assert st["fold_path"] == "broadcast"
    assert st["suggested_compact"] is True

    # 25 more keys: 45 live delta rows > guard -> the NEXT read's fold plan
    # degrades to a shuffle, and status says so
    t.merge_epoch(
        _df(spark, [("r", f"p{i:03d}", "c000000000003", "z")
                    for i in range(1, 51, 2)]),
        2,
    )
    st = _status()
    assert st["delta_rows"] == 45 and st["fold_path"] == "shuffle"
    assert st["suggested_compact"] is True

    t.compact()
    st = _status()
    assert st["delta_files"] == 0 and st["fold_path"] is None
    assert st["suggested_compact"] is False
    # debt paid, content intact
    got = {r.path: r.content for r in t.read().collect()}
    assert len(got) == 60 and got["p000"] == "y" and got["p001"] == "z"


def test_status_recommends_auto_after_scattered_cow_commits(
    spark, tmpdir_path, capsys
):
    """A COW table absorbing repeatedly-scattered deltas shows sustained
    write amplification (rewritten_rows >> staged_rows, persisted per commit
    in the manifest's commit_stats); `status` must surface the median and
    recommend merge_mode=auto. Once the table runs auto, the suggestion
    clears."""
    import json as _json

    from etl_spark.cli import main as cli_main

    root = f"{tmpdir_path}/t"
    t = SnapshotTable(spark, root, n_buckets=4, target_file_rows=5,
                      merge_mode="cow")
    t.merge_epoch(
        _df(spark, [("r", f"p{i:03d}", "c000000000001", "x")
                    for i in range(200)]),
        0,
    )

    def _status():
        assert cli_main(["status", "--table", root]) == 0
        return _json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    # two scattered updates: ~every 10th key -> each staged row drags a
    # whole ~5-row file through the rewrite (amplification ~5 > factor 4)
    for e, c in ((1, "c000000000002"), (2, "c000000000003")):
        t.merge_epoch(
            _df(spark, [("r", f"p{i:03d}", c, f"v{e}")
                        for i in range(0, 200, 10)]),
            e,
        )
    st = _status()
    assert st["merge_mode"] == "cow"
    assert st["recent_cow_write_amplification"] > t.auto_mor_factor
    assert st["suggested_merge_mode"] == "auto"

    # operator follows the advice: attach with auto (persisted on commit)
    t2 = SnapshotTable(spark, root, merge_mode="auto")
    for e, c in ((3, "c000000000004"), (4, "c000000000005"),
                 (5, "c000000000006"), (6, "c000000000007"),
                 (7, "c000000000008"), (8, "c000000000009")):
        t2.merge_epoch(
            _df(spark, [("r", f"p{i:03d}", c, f"w{e}")
                        for i in range(0, 200, 10)]),
            e,
        )
    st = _status()
    assert st["merge_mode"] == "auto"
    # the recent-commit window is now all auto commits -> no cow evidence
    assert st["suggested_merge_mode"] is None
    got = {r.path: r.content for r in t2.read().collect()}
    assert len(got) == 200 and got["p000"] == "w8" and got["p001"] == "x"


def test_new_table_defaults_to_auto(spark, tmpdir_path):
    """VERDICT r4 #2: merge_mode defaults to "auto" for NEW tables (round-4
    bench: auto matches best-of-both per delta shape). Existing tables
    keep their persisted policy; an explicit constructor value wins."""
    t = SnapshotTable(spark, f"{tmpdir_path}/new", n_buckets=2)
    assert t.merge_mode == "auto"
    t.merge_epoch(_df(spark, [("r", "a", "c000000000001", "v1")]), 0)
    # attach re-adopts the persisted policy
    assert SnapshotTable(spark, f"{tmpdir_path}/new").merge_mode == "auto"
    # explicit constructor value still wins
    assert SnapshotTable(
        spark, f"{tmpdir_path}/new", merge_mode="mor"
    ).merge_mode == "mor"


def test_compact_after_commit_auto_folds_debt(spark, tmpdir_path):
    """VERDICT r4 #3: the opt-in post-commit policy. MOR commits accumulate
    delta rows cheaply until the snapshot's live delta rows exceed HALF the
    broadcast-fold guard; the NEXT commit then folds the debt in a follow-up
    snapshot, so a long-running MOR/auto table never degrades to the
    shuffle fold path. Policy is persisted and re-adopted on attach."""
    t = SnapshotTable(
        spark, tmpdir_path, n_buckets=2, merge_mode="mor",
        fold_broadcast_rows=40, compact_after_commit="auto",
    )
    # bootstrap as COW so the base is clean files with zero delta debt
    t.merge_epoch(
        _df(spark, [("r", f"p{i:03d}", "c000000000001", "base")
                    for i in range(100)]),
        0, merge_mode="cow",
    )
    assert t.live_delta_rows() == 0

    # patch 1: 15 delta rows -> debt 15 <= 20, hook must NOT fire
    s1 = t.merge_epoch(
        _df(spark, [("r", f"p{i:03d}", "c000000000002", "v1")
                    for i in range(15)]),
        1,
    )
    assert "post_compact" not in s1
    assert t.live_delta_rows() == 15
    assert any(f.get("kind") == "delta" for f in t.files())

    # patch 2: +15 -> debt 30 > 20, hook folds everything back to base
    s2 = t.merge_epoch(
        _df(spark, [("r", f"p{i:03d}", "c000000000003", "v2")
                    for i in range(15, 30)]),
        2,
    )
    assert s2["post_compact"]["delta_rows_before"] == 30
    assert s2["post_compact"]["compacted_buckets"] >= 1
    assert t.live_delta_rows() == 0
    assert not any(f.get("kind") == "delta" for f in t.files())
    assert t.fsck()["ok"]

    # final state reflects every patch
    got = {r.path: r.content for r in t.read().collect()}
    assert len(got) == 100
    assert got["p000"] == "v1" and got["p020"] == "v2" and got["p099"] == "base"

    # persisted policy: a fresh attach re-adopts it; default is off
    assert SnapshotTable(spark, tmpdir_path).compact_after_commit == "auto"
    assert SnapshotTable(
        spark, f"{tmpdir_path}_other", n_buckets=2
    ).compact_after_commit == "off"

    # idempotent replay still skips BEFORE any maintenance runs
    v = t.current_version()
    out = t.merge_epoch(
        _df(spark, [("r", "p000", "c000000000009", "EVIL")]), 1
    )
    assert out["skipped"] is True and t.current_version() == v


def test_live_delta_rows_o_groups_on_grouped_manifest(spark, tmpdir_path):
    """The debt probes (row debt AND worst-bucket delta-file count) read
    the group refs' rollups, not the group files, once a manifest goes
    grouped."""
    t = SnapshotTable(spark, tmpdir_path, n_buckets=4, merge_mode="mor",
                      manifest_inline_files=2, manifest_groups=2)
    t.merge_epoch(
        _df(spark, [("r", f"p{i:03d}", "c000000000001", "base")
                    for i in range(40)]),
        0, merge_mode="cow",
    )
    t.merge_epoch(
        _df(spark, [("r", f"p{i:03d}", "c000000000002", "v1")
                    for i in range(7)]),
        1,
    )
    m = t.manifest()
    assert "file_groups" in m
    want = sum(f["rows"] for f in t.files() if f.get("kind") == "delta")
    assert want == 7
    assert t.live_delta_rows() == want
    per_bucket: dict[int, int] = {}
    for f in t.files():
        if f.get("kind") == "delta":
            per_bucket[f["bucket"]] = per_bucket.get(f["bucket"], 0) + 1
    want_max = max(per_bucket.values())
    assert t.max_bucket_delta_files() == want_max
    # the hot path — compact_after_commit="auto" calls compaction_advice
    # after EVERY commit — must not read any group file
    fresh = SnapshotTable(spark, tmpdir_path)
    loads = []
    orig = SnapshotTable._load_group
    fresh._load_group = (  # type: ignore[method-assign]
        lambda ref: loads.append(ref["path"]) or orig(fresh, ref)
    )
    assert fresh.live_delta_rows() == want
    assert fresh.max_bucket_delta_files() == want_max
    assert loads == []


def test_compact_selective_fold_skips_disjoint_base_files(spark, tmpdir_path):
    """The debt fold is stats-pruned like the merge path's cap-hit fold: a
    non-fragmented delta bucket rewrites ONLY base files whose key range
    intersects a delta key; disjoint base files are carried byte-identical
    (same path, never re-staged). purge_tombstones keeps the whole-bucket
    rewrite — a winning tombstone may sit in any file."""
    t = SnapshotTable(spark, tmpdir_path, n_buckets=2, target_file_rows=4,
                      merge_mode="mor")
    t.merge_epoch(
        _df(spark, [("r", f"p{i:03d}", "c000000000001", "base")
                    for i in range(80)]),
        0, merge_mode="cow",
    )
    base_before = {f["path"] for f in t.files()}
    assert len(base_before) >= 16  # ~10 key-ranged files per bucket

    # sparse delta: 2 keys in one bucket's range, far apart
    t.merge_epoch(
        _df(spark, [("r", "p000", "c000000000002", "v1"),
                    ("r", "p079", "c000000000002", "v1")]),
        1,
    )
    n_deltas = sum(1 for f in t.files() if f.get("kind") == "delta")
    assert n_deltas >= 1

    out = t.compact()
    assert out["selective_buckets"] >= 1
    # the fold reports its own write volume (bench rows pair it with the
    # fold-inclusive wall time): exactly the bytes of the files it created
    new_paths = {f["path"] for f in t.files()} - base_before
    assert out["bytes_written"] == sum(
        f["bytes"] for f in t.files() if f["path"] in new_paths
    ) > 0
    # the 2 delta keys intersect at most 2 key-ranged base files per
    # bucket; everything else survives byte-identical (same path, never
    # re-staged) — whether as a skipped file of a victim bucket or as a
    # file of an untouched bucket
    assert out["base_files_skipped"] >= 5
    after = {f["path"] for f in t.files()}
    assert len(base_before & after) >= len(base_before) - 4
    assert not any(f.get("kind") == "delta" for f in t.files())
    assert t.fsck()["ok"]
    got = {r.path: r.content for r in t.read().collect()}
    assert len(got) == 80
    assert got["p000"] == "v1" and got["p079"] == "v1" and got["p040"] == "base"

    # idempotent: a second compact with no debt and no fragmentation no-ops
    again = t.compact()
    assert again["compacted_buckets"] == 0

    # purge_tombstones path stays whole-bucket (selective_buckets == 0)
    t.delete_epochs(
        spark.createDataFrame([("r", "p001", "c000000000003")],
                              "repo string, path string, commit string"),
        [2],
    )
    purged = t.compact(purge_tombstones=True)
    assert purged["selective_buckets"] == 0
    got = {r.path: r.content for r in t.read().collect()}
    assert len(got) == 79 and "p001" not in got


def test_post_commit_fold_race_does_not_fail_the_merge(spark, tmpdir_path):
    """The post-commit fold is best-effort maintenance: when its manifest
    swap loses to a concurrent writer (FileExistsError — the exact raise
    compact() hits), the already-committed MERGE must still report success;
    the debt stays counted and the NEXT commit retries the fold."""
    t = SnapshotTable(spark, tmpdir_path, n_buckets=2, merge_mode="mor",
                      fold_broadcast_rows=4, compact_after_commit="auto")
    t.merge_epoch(
        _df(spark, [("r", f"p{i:03d}", "c000000000001", "base")
                    for i in range(20)]),
        0, merge_mode="cow",
    )
    orig = t._commit_manifest
    raised = {"n": 0}

    def losing_swap(manifest, base_version=None):
        if (manifest.get("summary", {}).get("compaction")
                and raised["n"] == 0):
            raised["n"] += 1
            raise FileExistsError("simulated concurrent manifest swap")
        return orig(manifest, base_version)

    t._commit_manifest = losing_swap
    out = t.merge_epoch(
        _df(spark, [("r", f"p{i:03d}", "c000000000002", "v1")
                    for i in range(10)]),
        1,
    )
    assert raised["n"] == 1
    assert out["post_compact_skipped"] == "FileExistsError"
    assert "post_compact" not in out and not out.get("skipped")
    assert t.live_delta_rows() == 10  # debt intact, still over threshold

    # next commit retries the fold and clears the debt
    out2 = t.merge_epoch(
        _df(spark, [("r", "p000", "c000000000003", "v2")]), 2,
    )
    assert "post_compact" in out2
    assert t.live_delta_rows() == 0
    got = {r.path: r.content for r in t.read().collect()}
    assert len(got) == 20
    assert got["p000"] == "v2" and got["p005"] == "v1" and got["p015"] == "base"
    assert t.fsck()["ok"]


def test_post_commit_fold_fires_on_per_bucket_cap(spark, tmpdir_path):
    """cli status's suggested_compact has TWO arms and the hook must match
    both: here total row debt stays far under half the broadcast guard,
    but one hot bucket accumulates delta files up to mor_delta_cap — the
    hook folds the moment the bucket SITS at the cap (the next delta
    commit to it would otherwise pay the fold inline), so status can never
    report suggested_compact=true forever on an auto-policy table."""
    t = SnapshotTable(spark, tmpdir_path, n_buckets=2, merge_mode="mor",
                      fold_broadcast_rows=10_000_000,
                      compact_after_commit="auto")
    t.merge_epoch(
        _df(spark, [("r", f"p{i:03d}", "c000000000001", "base")
                    for i in range(20)]),
        0, merge_mode="cow",
    )
    cap = t.mor_delta_cap
    fired_at = None
    for e in range(1, cap + 2):
        out = t.merge_epoch(
            _df(spark, [("r", "p000", f"c{e + 1:012d}", f"v{e}")]), e)
        assert not out.get("skipped")
        if "post_compact" in out:
            fired_at = e
            break
    # each commit adds one delta file to p000's bucket; committed
    # snapshots never exceed the cap, so the hook fires exactly when the
    # bucket reaches it
    assert fired_at == cap
    assert t.max_bucket_delta_files() == 0
    assert t.live_delta_rows() == 0
    got = {r.path: r.content for r in t.read().collect()}
    assert len(got) == 20 and got["p000"] == f"v{fired_at}"
    assert t.fsck()["ok"]


def test_post_commit_fold_swallows_unexpected_errors(spark, tmpdir_path):
    """A transient failure INSIDE the best-effort fold (executor loss, a
    concurrent vacuum unlinking a delta mid-read, ...) must not turn the
    already-committed merge into a failure — a streaming foreachBatch
    would otherwise kill the query for an epoch that landed. The debt
    stays counted and the NEXT commit retries the fold."""
    t = SnapshotTable(spark, tmpdir_path, n_buckets=2, merge_mode="mor",
                      fold_broadcast_rows=4, compact_after_commit="auto")
    t.merge_epoch(
        _df(spark, [("r", f"p{i:03d}", "c000000000001", "base")
                    for i in range(20)]),
        0, merge_mode="cow",
    )
    orig = t.compact
    calls = {"n": 0}

    def flaky_compact(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated transient executor loss")
        return orig(*a, **kw)

    t.compact = flaky_compact
    out = t.merge_epoch(
        _df(spark, [("r", f"p{i:03d}", "c000000000002", "v1")
                    for i in range(10)]),
        1,
    )
    assert calls["n"] == 1
    assert out["post_compact_skipped"] == "RuntimeError"
    assert "post_compact" not in out and not out.get("skipped")
    assert t.live_delta_rows() == 10  # debt intact, still over threshold

    out2 = t.merge_epoch(
        _df(spark, [("r", "p000", "c000000000003", "v2")]), 2,
    )
    assert "post_compact" in out2
    assert t.live_delta_rows() == 0
    got = {r.path: r.content for r in t.read().collect()}
    assert len(got) == 20
    assert got["p000"] == "v2" and got["p005"] == "v1" and got["p015"] == "base"
    assert t.fsck()["ok"]
