"""spark-submit entrypoint: generate / replay / status.

Replaces the reference's interactive step-prompt driver (src/main.py:100-154)
with a non-interactive CLI, per SURVEY §3.1. Run as::

    spark-submit --py-files etl_spark.zip -m ... OR python -m etl_spark.cli
    python -m etl_spark.cli gen    --out /tmp/stream --events 100000 --epochs 4
    python -m etl_spark.cli replay --stream /tmp/stream --table /tmp/table
    python -m etl_spark.cli status --table /tmp/table
"""

from __future__ import annotations

import argparse
import json
import sys


_DERIVED_ROOTS = {"rollup": "_rollup", "clean_corpus": "_clean",
                  "dedup_index": "_dedup"}


def _derived_status(spark, fact) -> dict:
    """Sync state of each derived table living under the fact root —
    the observability face of the replay-start catch-up healer: a non-zero
    ``missing_epochs`` means a fact commit's derived update crashed (or
    the maintainer was enabled on a table with history) and the NEXT
    maintained replay will heal it. Manifest reads only, no Spark jobs."""
    import os

    from etl_spark.derived import _missed_epochs, _synced_to_version
    from etl_spark.lake.table import SnapshotTable

    out: dict = {}
    for name, sub in _DERIVED_ROOTS.items():
        # the dedup index holds TWO tables; its bands table carries the
        # watermark/epoch state (the first-merged of the pair)
        root = f"{fact.root}/{sub}"
        probe = f"{root}/bands" if name == "dedup_index" else root
        if not os.path.isdir(probe):
            continue
        d = SnapshotTable(spark, probe)
        if not d.exists():
            continue
        missing, _ = _missed_epochs(fact, d)
        out[name] = {
            "synced": missing is None,
            "missing_epochs": len(missing or []),
            "derived_from_version": _synced_to_version(d),
        }
    return out


def _add_spark_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None, help="spark master (default local[$SPARK_GRAFT_CPUS])")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="etl_spark", description=__doc__)
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("gen", help="generate a deterministic change-stream")
    g.add_argument("--out", required=True)
    g.add_argument("--events", type=int, default=100_000)
    g.add_argument("--epochs", type=int, default=4)
    g.add_argument("--repos", type=int, default=100)
    g.add_argument("--seed", type=int, default=42)
    g.add_argument("--metadata-from-epoch", type=int, default=None)
    g.add_argument("--delete-pct", type=int, default=0,
                   help="emit a WAL-style op column with ~N%% DELETE events "
                        "(binlog-shaped: key + commit, NULL payload)")
    _add_spark_args(g)

    r = sub.add_parser("replay", help="replay pending segments into the table")
    r.add_argument("--stream", required=True)
    r.add_argument("--table", required=True)
    r.add_argument("--buckets", type=int, default=64)
    r.add_argument("--max-epoch", type=int, default=None)
    r.add_argument("--mode", choices=["incremental", "catchup"], default="incremental",
                   help="catchup = all pending segments in one dedupe+commit")
    r.add_argument("--dedupe",
                   choices=["fused", "maxby", "window", "salted", "auto"],
                   default="fused",
                   help="physical dedupe strategy (fused = one-shuffle "
                        "dedupe+stage; see pipeline.dedupe_plan)")
    r.add_argument("--merge-mode", choices=["cow", "mor", "auto"],
                   default=None,
                   help="write policy: cow rewrites touched files; mor "
                        "writes delta files folded on read (scattered "
                        "hot-key updates); auto picks per bucket per commit "
                        "from the delta's shape. Default: table's persisted "
                        "mode")
    r.add_argument("--compact-after-commit", choices=["off", "auto"],
                   default=None, dest="compact_after_commit",
                   help="post-commit maintenance policy: auto folds live "
                        "MOR delta debt back into base files whenever it "
                        "exceeds half the broadcast-fold guard. Default: "
                        "table's persisted policy (off)")
    r.add_argument("--rewrite-probe", choices=["off", "auto"],
                   default=None, dest="rewrite_probe",
                   help="COW rewrite-set refinement: auto replaces the "
                        "per-file [min,max]-stats answer with an exact "
                        "key-column probe scan when a commit would rewrite "
                        "many files, dropping stats-false-positive rewrites. "
                        "Default: table's persisted policy (auto)")
    r.add_argument("--rollup", action="store_true",
                   help="maintain the per-repo rollup derived table (stage 2)")
    r.add_argument("--clean-corpus", action="store_true",
                   help="maintain the clean-corpus derived table (stage 2: "
                        "repetition gate + lang norm + PII redaction, "
                        "recomputed only for commit-touched keys)")
    r.add_argument("--dedup-index", action="store_true",
                   help="maintain the near-dup MinHash-LSH index (stage 2: "
                        "band rows prefix-bucketed by band; per-epoch "
                        "new-pair report; O(commit footprint) per epoch)")
    r.add_argument("--stage-as", default=None, metavar="NAME",
                   help="write-audit-publish: park the commit as staged ref "
                        "NAME instead of publishing (requires --mode "
                        "catchup); audit with `wap --audit`, then "
                        "`wap --publish` or `wap --abort`")
    _add_spark_args(r)

    mi = sub.add_parser(
        "mirror",
        help="table-to-table CDC replication: one sync round from a source "
             "table's change feed into a mirror (exactly-once, "
             "rollback/expiry self-healing)")
    mi.add_argument("--src", required=True)
    mi.add_argument("--dst", required=True)
    mi.add_argument("--buckets", type=int, default=None,
                    help="mirror bucket count (default: source's)")
    mi.add_argument("--verify", action="store_true",
                    help="after the sync, probe row-count + watermark "
                         "equality vs the source head")
    _add_spark_args(mi)

    ch = sub.add_parser(
        "changes",
        help="CDC-out: the change feed between two snapshots (rows applied "
             "after --from up to --to; cost O(changed data), not O(table))")
    ch.add_argument("--table", required=True)
    ch.add_argument("--from", dest="v_from", type=int, default=None,
                    help="base snapshot (exclusive; default: table start). "
                         "A consumer polls with its last-seen version here")
    ch.add_argument("--from-tag", default=None,
                    help="resolve the base snapshot from a tag instead")
    ch.add_argument("--to", dest="v_to", type=int, default=None,
                    help="end snapshot (inclusive; default: current)")
    ch.add_argument("--limit", type=int, default=20,
                    help="rows to print (count is always exact)")
    _add_spark_args(ch)

    tg = sub.add_parser(
        "tag",
        help="pin a snapshot under a stable name (expiry-protected); "
             "list (default), create, or delete")
    tg.add_argument("--table", required=True)
    tg.add_argument("--name", default=None)
    tg.add_argument("--version", type=int, default=None,
                    help="snapshot to tag (default: current)")
    tg.add_argument("--delete", action="store_true")
    _add_spark_args(tg)

    w = sub.add_parser(
        "wap",
        help="write-audit-publish staged commits: list (default), audit, "
             "publish, or abort")
    w.add_argument("--table", required=True)
    wg = w.add_mutually_exclusive_group()
    wg.add_argument("--audit", metavar="NAME",
                    help="row-count + null-key audit of a staged commit's "
                         "would-be state (read_staged)")
    wg.add_argument("--publish", metavar="NAME",
                    help="fast-forward publish (fails if the table moved "
                         "past the staged base)")
    wg.add_argument("--abort", metavar="NAME",
                    help="drop the staged ref; its files fall to vacuum")
    _add_spark_args(w)

    s = sub.add_parser("status", help="print table snapshot + lineage summary")
    s.add_argument("--table", required=True)
    _add_spark_args(s)

    q = sub.add_parser("query", help="run a named analytics query from the catalog")
    q.add_argument("--name", required=True,
                   help="query name (see `query --name list`)")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                   help="directory of parquet tables")
    q.add_argument("--limit", type=int, default=20)
    _add_spark_args(q)

    f = sub.add_parser("fsck", help="verify snapshot integrity vs the filesystem")
    f.add_argument("--table", required=True)
    _add_spark_args(f)

    m = sub.add_parser("maintain", help="expire old snapshots + vacuum orphan files")
    m.add_argument("--table", required=True)
    m.add_argument("--retain", type=int, default=3, help="snapshots to keep")
    m.add_argument("--expire-older-than", type=float, default=None,
                   help="only expire snapshots committed more than this many "
                        "seconds ago (time-based retention on top of "
                        "--retain; busy tables keep their time-travel "
                        "window)")
    m.add_argument("--vacuum-older-than", type=float, default=3600.0,
                   help="only delete unreferenced files older than this many "
                        "seconds (guards in-flight concurrent merges)")
    m.add_argument("--compact", action="store_true",
                   help="run the default compaction policy: rows-aware "
                        "fragmentation trigger PLUS unconditional fold of "
                        "buckets holding MOR delta files (table.compact() "
                        "with no threshold override; non-fragmented delta "
                        "buckets fold selectively — only base files whose "
                        "key stats intersect the delta keys rewrite)")
    m.add_argument("--compact-above", type=int, default=0,
                   help="rewrite buckets holding more than N live files "
                        "(0 = skip compaction; for the default policy use "
                        "--compact)")
    m.add_argument("--compact-lineage", type=int, default=0,
                   help="fold per-epoch lineage dirs older than the newest "
                        "N into one consolidated parquet (0 = skip)")
    _add_spark_args(m)

    rb = sub.add_parser("rollback",
                        help="roll the table back to an earlier snapshot")
    rb.add_argument("--table", required=True)
    rbt = rb.add_mutually_exclusive_group(required=True)
    rbt.add_argument("--to", type=int, help="target version")
    rbt.add_argument("--to-ts", type=float,
                     help="target instant (epoch seconds): rolls back to "
                          "the newest snapshot committed at or before it "
                          "(TIMESTAMP AS OF resolution)")
    _add_spark_args(rb)

    rbk = sub.add_parser(
        "rebucket",
        help="re-cluster the table under a new bucket count (partition "
             "evolution; one full rewrite)")
    rbk.add_argument("--table", required=True)
    rbk.add_argument("--to", type=int, required=True, help="new bucket count")
    _add_spark_args(rbk)

    lk = sub.add_parser("get", help="point-lookup one key (stats-pruned read)")
    lk.add_argument("--table", required=True)
    lk.add_argument("--repo", required=True)
    lk.add_argument("--path", required=True)
    _add_spark_args(lk)

    dl = sub.add_parser(
        "delete",
        help="CDC DELETE: tombstone one key under an idempotent epoch "
             "(latest-wins vs upserts; hidden from reads, visible in the "
             "change feed)",
    )
    dl.add_argument("--table", required=True)
    dl.add_argument("--repo", required=True)
    dl.add_argument("--path", required=True)
    dl.add_argument("--commit", required=True,
                    help="the delete's commit/LSN (arbitrates ordering)")
    dl.add_argument("--epoch", type=int, required=True)
    dl.add_argument("--merge-mode", choices=["cow", "mor", "auto"],
                    default=None)
    _add_spark_args(dl)

    args = ap.parse_args(argv)
    if args.cmd == "replay" and args.stage_as and args.mode != "catchup":
        # statically known constraint: reject before a Spark session exists
        # instead of surfacing pipeline.replay's ValueError as a traceback
        ap.error("--stage-as requires --mode catchup")

    from etl_spark.session import get_spark

    spark = get_spark(f"etl_spark-{args.cmd}", master=args.master)

    if args.cmd == "gen":
        from etl_spark.datagen import change_stream, write_segments

        df = change_stream(
            spark,
            args.events,
            n_repos=args.repos,
            events_per_epoch=max(1, args.events // args.epochs),
            seed=args.seed,
            delete_pct=args.delete_pct,
            with_metadata_from_epoch=args.metadata_from_epoch,
        )
        write_segments(df, args.out)
        print(json.dumps({"written": args.out, "events": args.events, "epochs": args.epochs}))
        return 0

    if args.cmd == "replay":
        from etl_spark.pipeline import IngestPipeline

        pipe = IngestPipeline(
            spark, args.table, n_buckets=args.buckets,
            dedupe_strategy=args.dedupe, maintain_rollup=args.rollup,
            maintain_clean_corpus=args.clean_corpus,
            maintain_dedup_index=args.dedup_index,
            merge_mode=args.merge_mode,
            compact_after_commit=args.compact_after_commit,
            rewrite_probe=args.rewrite_probe,
        )
        try:
            stats = pipe.replay(args.stream, max_epoch=args.max_epoch,
                                mode=args.mode, stage_as=args.stage_as)
        except Exception as err:
            from etl_spark.lake.table import StagedRefExistsError

            if not isinstance(err, StagedRefExistsError):
                raise
            # the resume-after-staged-crash shape: the ref is already there
            # (failed fast, before any Spark work) — tell the operator the
            # next verb instead of dumping a traceback
            print(json.dumps({
                "error": str(err),
                "hint": f"wap --table {args.table} --publish (or --abort) "
                        f"{args.stage_as}",
            }))
            return 1
        for st in stats:
            print(json.dumps(st.as_dict()))
        total = sum(s.events_read for s in stats)
        secs = sum(s.seconds for s in stats)
        print(
            json.dumps(
                {
                    "epochs_applied": len([s for s in stats if not s.skipped]),
                    "events_read": total,
                    "seconds": round(secs, 3),
                    "events_per_sec": round(total / secs, 1) if secs else None,
                }
            )
        )
        return 0

    if args.cmd == "query":
        import importlib.util
        import os

        # the query catalog lives in the repo-root driver contract module
        spec = importlib.util.spec_from_file_location(
            "__spark_entry__",
            os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "__spark_entry__.py"),
        )
        entry = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(entry)
        # extras included: second-strategy variants displaced from the
        # 50-entry driver registry stay runnable from the CLI
        catalog = {**entry.queries(), **entry.extra_queries()}
        if args.name == "list":
            for name in sorted(catalog):
                print(name)
            return 0
        if args.name not in catalog:
            print(json.dumps({"error": f"unknown query {args.name!r}",
                              "available": sorted(catalog)}))
            return 2
        df = catalog[args.name](spark, args.sf_dir)
        rows = df.limit(args.limit).collect()
        print(json.dumps({"query": args.name, "columns": df.columns,
                          "rows_shown": len(rows)}))
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
        return 0

    if args.cmd == "fsck":
        from etl_spark.lake.table import SnapshotTable

        t = SnapshotTable(spark, args.table)
        report = t.fsck()
        print(json.dumps(report))
        return 0 if report["ok"] else 1

    if args.cmd == "maintain":
        from etl_spark.lake.table import SnapshotTable

        t = SnapshotTable(spark, args.table)
        if not t.exists():
            print(json.dumps({"table": args.table, "exists": False}))
            return 1
        out = {}
        if args.compact:
            out["compaction"] = t.compact()
        elif args.compact_above:
            out["compaction"] = t.compact(above=args.compact_above)
        if args.compact_lineage:
            import os

            from etl_spark.checkpoint import CheckpointLog

            out["lineage"] = CheckpointLog(
                spark, f"{args.table}/_checkpoint"
            ).compact(keep_last=args.compact_lineage)
            if os.path.isdir(f"{args.table}/_checkpoint_stream"):
                out["lineage_stream"] = CheckpointLog(
                    spark, f"{args.table}/_checkpoint_stream"
                ).compact(keep_last=args.compact_lineage)
        expired = t.expire_snapshots(
            retain_last=args.retain, older_than_s=args.expire_older_than)
        stats = t.vacuum(older_than_s=args.vacuum_older_than)
        print(json.dumps({"expired_versions": expired, **stats, **out,
                          "current_version": t.current_version()}))
        return 0

    if args.cmd == "rollback":
        from etl_spark.lake.table import SnapshotTable

        t = SnapshotTable(spark, args.table)
        if not t.exists():
            print(json.dumps({"table": args.table, "exists": False}))
            return 1
        try:
            target = (
                args.to if args.to is not None
                else t.version_as_of(args.to_ts)
            )
            print(json.dumps(t.rollback(target)))
            return 0
        except FileNotFoundError as err:
            # unresolvable instant / expired snapshot: the JSON error line
            # every sibling command emits, not a traceback
            print(json.dumps({"error": str(err)}))
            return 1

    if args.cmd == "rebucket":
        from etl_spark.lake.table import SnapshotTable

        t = SnapshotTable(spark, args.table)
        if not t.exists():
            print(json.dumps({"table": args.table, "exists": False}))
            return 1
        print(json.dumps(t.rebucket(args.to)))
        return 0

    if args.cmd == "get":
        from etl_spark.lake.table import SnapshotTable

        t = SnapshotTable(spark, args.table)
        if not t.exists():
            print(json.dumps({"table": args.table, "exists": False}))
            return 1
        key = (args.repo, args.path)
        cands = t.candidate_files(key)
        rows = t.lookup(*key, candidates=cands).collect()
        print(json.dumps({
            "key": {"repo": args.repo, "path": args.path},
            "files_scanned": len(cands),
            "found": len(rows),
        }))
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
        return 0 if rows else 1

    if args.cmd == "delete":
        from etl_spark.lake.table import SnapshotTable

        t = SnapshotTable(spark, args.table)
        if not t.exists():
            print(json.dumps({"table": args.table, "exists": False}))
            return 1
        # a one-row projection of spark.range, not createDataFrame(list):
        # the optimizer sizes it in bytes, so the delete stages at the
        # cluster's parallelism instead of 4 x n_buckets reducers. The
        # order column is whatever type the table persisted (commit string
        # here, but lsn tables use long) — cast the CLI's string form to it
        from pyspark.sql import functions as F

        keys = spark.range(1).select(
            F.lit(args.repo).alias("repo"),
            F.lit(args.path).alias("path"),
            F.lit(args.commit)
            .cast(t.schema()[t.order_col].dataType)
            .alias(t.order_col),
        )
        out = t.delete_epochs(keys, [args.epoch], merge_mode=args.merge_mode)
        print(json.dumps({
            "key": {"repo": args.repo, "path": args.path},
            "skipped": bool(out.get("skipped")),
            "epoch": args.epoch,
            "version": out.get("version"),
        }))
        return 0

    if args.cmd == "mirror":
        from etl_spark.lake.table import SnapshotTable
        from etl_spark.replicate import Mirror

        src = SnapshotTable(spark, args.src)
        if not src.exists():
            print(json.dumps({"src": args.src, "exists": False}))
            return 1
        mir = Mirror(spark, src, args.dst, n_buckets=args.buckets)
        try:
            out = mir.sync()
        except ValueError as err:  # cross-sync refusal (wrong --src)
            print(json.dumps({"error": str(err)}))
            return 1
        out.pop("new_files", None)  # file-entry dump is noise on a CLI line
        out.pop("staged_lineage", None)
        print(json.dumps(out, default=str))
        if args.verify:
            probe = mir.verify()
            print(json.dumps(probe, default=str))
            if not (probe["rows_match"] and probe["watermark_match"]):
                # the flag exists to DETECT divergence — a scripted
                # `mirror --verify && promote` must stop here
                return 1
        return 0

    if args.cmd == "changes":
        from etl_spark.lake.table import SnapshotTable

        t = SnapshotTable(spark, args.table)
        if not t.exists():
            print(json.dumps({"table": args.table, "exists": False}))
            return 1
        if args.v_from is not None and args.from_tag:
            print(json.dumps({"error": "pass --from or --from-tag, not both"}))
            return 1
        try:
            v_from = (
                t.tag_version(args.from_tag) if args.from_tag else args.v_from
            )
            feed = t.changes_between(v_from, args.v_to)
        except FileNotFoundError as err:
            print(json.dumps({"error": str(err)}))
            return 1
        rows = feed.limit(args.limit + 1).collect()
        print(json.dumps({
            "table": args.table,
            "from": v_from,
            "to": args.v_to if args.v_to is not None else t.current_version(),
            "rows": feed.count(),
            "truncated": len(rows) > args.limit,
        }))
        for r in rows[:args.limit]:
            print(json.dumps(r.asDict(), default=str))
        return 0

    if args.cmd == "tag":
        from etl_spark.lake.table import SnapshotTable, StagedRefExistsError

        t = SnapshotTable(spark, args.table)
        try:
            if args.delete:
                if not args.name:
                    raise ValueError("--delete requires --name")
                print(json.dumps(t.delete_tag(args.name)))
            elif args.name:
                print(json.dumps(t.tag(args.name, args.version)))
            else:
                print(json.dumps({"table": args.table, "tags": t.tags()}))
            return 0
        except (FileNotFoundError, StagedRefExistsError, ValueError) as err:
            print(json.dumps({"error": str(err)}))
            return 1

    if args.cmd == "wap":
        from etl_spark.lake.table import SnapshotTable, StalePublishError

        t = SnapshotTable(spark, args.table)
        if args.publish:
            try:
                print(json.dumps(t.publish_staged(args.publish)))
                return 0
            except (FileNotFoundError, StalePublishError) as err:
                print(json.dumps({"error": str(err)}))
                return 1
        if args.abort:
            try:
                print(json.dumps(t.abort_staged(args.abort)))
                return 0
            except FileNotFoundError as err:
                print(json.dumps({"error": str(err)}))
                return 1
        if args.audit:
            # ONE manifest read serves the whole audit: a second read would
            # re-parse a potentially large staged manifest and race a
            # concurrent publish/abort mid-audit
            try:
                sm = t.staged_manifest(args.audit)
            except FileNotFoundError as err:
                print(json.dumps({"error": str(err)}))
                return 1
            df = t._read_snapshot(sm)
            key_cols = sm.get("key_cols") or []
            null_keys = (
                df.where(
                    " OR ".join(f"`{c}` IS NULL" for c in key_cols)
                ).count() if key_cols else 0
            )
            print(json.dumps({
                "staged": args.audit,
                "base_version": sm.get("base_version"),
                "epochs": sm.get("staged_epochs"),
                "rows": df.count(),
                "null_key_rows": null_keys,
            }))
            return 0
        out = []
        for n in t.staged_refs():
            try:
                sm = t.staged_manifest(n)
            except FileNotFoundError:
                continue  # published/aborted between the glob and the read
            out.append({
                "name": n,
                "base_version": sm.get("base_version"),
                "epochs": sm.get("staged_epochs"),
                "staged_at": sm.get("committed_at"),
            })
        print(json.dumps({"table": args.table, "staged": out}))
        return 0

    if args.cmd == "status":
        from etl_spark.checkpoint import CheckpointLog
        from etl_spark.lake.table import SnapshotTable

        t = SnapshotTable(spark, args.table)
        m = t.manifest()
        if m is None:
            print(json.dumps({"table": args.table, "exists": False}))
            return 1
        from etl_spark.lake.table import decode_epoch_ranges

        log = CheckpointLog(spark, f"{args.table}/_checkpoint").read()
        eps = sorted(decode_epoch_ranges(m.get("applied_epochs")))
        # MOR read-amplification debt: live delta files/rows, worst bucket,
        # and which fold path the next read() takes — so an operator sees
        # accumulating debt BEFORE the fold_broadcast_rows guard flips the
        # read plan to the shuffle fold. compaction_advice() is the SAME
        # predicate the compact_after_commit="auto" hook fires on (single
        # source of truth), and costs one manifest read: on a grouped
        # manifest it sums the group refs' rollups, never the group files.
        advice = t.compaction_advice(m)
        # sustained scattered-delta pattern on a COW table: each commit's
        # manifest records rewritten_rows / staged_rows (write
        # amplification); when the recent median exceeds the auto-mode
        # threshold, merge_mode="auto" would have routed those commits to
        # delta files instead — say so
        amps = []
        for v in sorted(t.versions())[-6:]:
            try:
                cs = (t.manifest(v) or {}).get("commit_stats") or {}
            except FileNotFoundError:
                # concurrent expire_snapshots between versions() glob and
                # the manifest read — skip the expired version
                continue
            if cs.get("mode") == "cow" and cs.get("staged_rows"):
                amps.append(cs["rewritten_rows"] / cs["staged_rows"])
        median_amp = sorted(amps)[len(amps) // 2] if amps else None
        suggest_auto = bool(
            m["merge_mode"] == "cow"
            and len(amps) >= 2
            and median_amp > t.auto_mor_factor
        )
        print(
            json.dumps(
                {
                    "table": args.table,
                    "version": m["version"],
                    # full list when small; compact ranges past 1000 epochs
                    "applied_epochs": eps if len(eps) <= 1000
                    else m["applied_epochs"],
                    "applied_epoch_count": len(eps),
                    "files": advice["files"],
                    "delta_files": advice["delta_files"],
                    "delta_rows": advice["delta_rows"],
                    "delta_buckets": advice["delta_buckets"],
                    "max_delta_files_per_bucket": (
                        advice["max_delta_files_per_bucket"]
                    ),
                    "fold_path": advice["fold_path"],
                    "fold_shuffle_guard_rows": t.fold_broadcast_rows,
                    "suggested_compact": advice["suggested_compact"],
                    "recent_cow_write_amplification": (
                        round(median_amp, 1) if median_amp is not None
                        else None
                    ),
                    "suggested_merge_mode": "auto" if suggest_auto else None,
                    "rows": advice["rows"],
                    "bytes": advice["bytes"],
                    "n_buckets": m.get("n_buckets"),
                    # sizing rule (README design notes): a bucket's rows must
                    # fit in max_files_per_bucket target-size files, or every
                    # merge fights the fragmentation cap — suggest the next
                    # power-of-two rebucket when the layout is outgrown
                    "suggested_n_buckets": (lambda rows, nb, cap: (
                        None if rows <= nb * cap
                        else 1 << (max(1, -(-rows // cap)) - 1).bit_length()
                    ))(
                        advice["rows"],
                        m.get("n_buckets") or 32,
                        # legacy manifests may omit the sizing knobs: fall
                        # back to the CONSTRUCTOR defaults, not 1 — a wrong
                        # fallback here suggests catastrophic rebuckets
                        max(1, (m.get("target_file_rows") or 1_000_000)
                            * (m.get("max_files_per_bucket") or 16)),
                    ),
                    "merge_mode": m["merge_mode"],
                    "compact_after_commit": m.get(
                        "compact_after_commit", "off"
                    ),
                    "rewrite_probe": m.get("rewrite_probe", "auto"),
                    "last_commit_probe_pruned": (
                        m.get("commit_stats") or {}
                    ).get("files_probe_pruned"),
                    "schema_cols": [f["name"] for f in m["schema"]["fields"]],
                    "lineage_rows": log.count(),
                    # unpublished WAP refs: each one holds data files out of
                    # vacuum's reach until published or aborted — an
                    # operator should see a forgotten audit
                    "staged_refs": t.staged_refs(),
                    "tags": t.tags(),
                    "derived": _derived_status(spark, t),
                }
            )
        )
        return 0

    return 2


if __name__ == "__main__":
    sys.exit(main())
