"""Dedupe strategies: identical semantics across physical plans (SURVEY §5.5).

Differential test: salted == unsalted == window (reference analog: the
hierarchical-vs-naive cover differential, test_transform_ls_to_cs.py:278-311).
"""

from __future__ import annotations

from etl_spark.datagen import change_stream
from etl_spark.operators.dedupe import (
    latest_by_key,
    latest_by_key_salted,
    latest_by_key_window,
)


def _canon(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.select(*cols).collect())


def test_three_strategies_agree(spark):
    df = change_stream(spark, 4000, n_repos=10, paths_per_repo=40, dup_pct=10).drop(
        "epoch"
    )
    a = _canon(latest_by_key(df))
    b = _canon(latest_by_key_salted(df, n_salts=7))
    c = _canon(latest_by_key_window(df))
    assert a == b == c
    assert len(a) > 0


def test_latest_wins(spark):
    rows = [
        ("r", "a", "c000000000001", "v1"),
        ("r", "a", "c000000000003", "v3"),
        ("r", "a", "c000000000002", "v2"),
        ("r", "b", "c000000000001", "w1"),
        # exact duplicate re-delivery
        ("r", "b", "c000000000001", "w1"),
    ]
    df = spark.createDataFrame(rows, ["repo", "path", "commit", "content"])
    got = {
        (r["repo"], r["path"]): (r["commit"], r["content"])
        for r in latest_by_key(df).collect()
    }
    assert got == {
        ("r", "a"): ("c000000000003", "v3"),
        ("r", "b"): ("c000000000001", "w1"),
    }


def test_skew_probe_and_auto_strategy(spark):
    from pyspark.sql import functions as F

    from etl_spark.operators.dedupe import choose_dedupe_strategy, probe_skew

    # uniform stream: no key exceeds the hot threshold
    uniform = change_stream(spark, 5000, n_repos=50, paths_per_repo=50, skew=1.0)
    assert choose_dedupe_strategy(uniform) == "maxby"

    # mega-key stream: one (repo, path) holds half the rows
    base = change_stream(spark, 4000, n_repos=50, paths_per_repo=50, skew=1.0)
    hot = base.withColumn(
        "repo", F.when(F.pmod("lsn", F.lit(2)) == 0, F.lit("megarepo")).otherwise(F.col("repo"))
    ).withColumn(
        "path", F.when(F.col("repo") == "megarepo", F.lit("hot.py")).otherwise(F.col("path"))
    )
    probe = probe_skew(hot)
    assert probe["max_share"] > 0.3
    assert ("megarepo", "hot.py") in probe["hot_keys"]
    assert choose_dedupe_strategy(hot) == "salted"


def test_fused_strategy_matches_maxby_replay(spark, tmpdir_path):
    """The fused single-shuffle dedupe+stage plan yields the identical final
    table state as the maxby pre-dedupe path (4th leg of the differential)."""
    from etl_spark.datagen import write_segments
    from etl_spark.pipeline import IngestPipeline

    df = change_stream(spark, 3000, n_repos=10, paths_per_repo=20, dup_pct=10)
    stream = f"{tmpdir_path}/stream"
    write_segments(df, stream)
    fused = IngestPipeline(spark, f"{tmpdir_path}/f", n_buckets=4,
                           dedupe_strategy="fused")
    maxby = IngestPipeline(spark, f"{tmpdir_path}/m", n_buckets=4,
                           dedupe_strategy="maxby")
    # the strategies are Spark plans: keep both off the Arrow ingest tier
    fused.arrow_tier_bytes = maxby.arrow_tier_bytes = 0
    fused.replay(stream)  # incremental: exercises fresh-bucket AND rewrite merges
    maxby.replay(stream)
    cf = sorted(map(tuple, fused.table.read().collect()))
    cm = sorted(map(tuple, maxby.table.read().collect()))
    assert cf == cm and len(cf) > 0
    assert fused.table.fsck()["ok"]


def test_auto_pipeline_replay(spark, tmpdir_path):
    """auto strategy end-to-end: final state equals the fixed-strategy state."""
    from etl_spark.datagen import write_segments
    from etl_spark.pipeline import IngestPipeline

    df = change_stream(spark, 3000, n_repos=10, paths_per_repo=20, dup_pct=5)
    stream = f"{tmpdir_path}/stream"
    write_segments(df, stream)
    auto = IngestPipeline(spark, f"{tmpdir_path}/a", n_buckets=4, dedupe_strategy="auto")
    fixed = IngestPipeline(spark, f"{tmpdir_path}/b", n_buckets=4)
    auto.arrow_tier_bytes = 0  # the skew probe runs on the Spark tier
    auto.replay(stream, mode="catchup")
    fixed.replay(stream, mode="catchup")
    ca = sorted(map(tuple, auto.table.read().drop("epoch").collect()))
    cb = sorted(map(tuple, fixed.table.read().drop("epoch").collect()))
    assert ca == cb
