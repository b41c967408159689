"""One benchmark run: set up a workload, time it, check it, print one JSON line.

    python3 perfbench/run.py --workload sparse_upsert --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` records nested spans around the engine's
public entry points and prints the per-layer metrics instead. Full detail
(environment, every operation, the gate, the spans) goes to
``.perfbench/runs/``. A wrong result prints ``"correct": false`` with no
metrics and exits 1.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gate  # noqa: E402
from workloads import SHAPES, Workload  # noqa: E402

# per-layer spans: "<module>.<entry point>"; lake spans on the replica and
# on the derived table carry the table's role as a suffix
SPANS = (
    "pipeline.replay", "sources.pending_segments", "checkpoint.logged_epochs",
    "checkpoint.lineage", "lake.merge_epochs", "lake.lookup",
    "lake.changes_between", "lake.read", "derived.clean_corpus",
    "derived.catch_up", "replicate.sync", "lake.merge_epochs.replica",
    "lake.merge_epochs.clean", "metrics.emit",
)
SPAN_UNITS = {"s": "s", "self_s": "s", "jobs": "jobs/call", "calls": "count"}
COUNT_UNITS = {
    "lake.files_rewritten": "1/commit", "lake.files_pruned": "1/commit",
    "lake.delta_files": "1/commit", "lake.fold_commits": "count",
    "lake.bytes_written": "B/commit", "derived.bytes_written": "B/commit",
    "lake.prune_ratio": "ratio", "run.jobs_total": "count",
    "run.uncovered_self_s": "s", "run.uncovered_share": "ratio",
    "trace.overhead_per_commit_s": "s", "trace.jobs_unattributed": "count",
}
UNITS = {
    "setup_s": "s", "commit_p50_s": "s", "steady_events_per_s": "1/s",
    "lookup_p50_s": "s", "feed_p50_s": "s", "mirror_sync_p50_s": "s",
    "scan_p50_s": "s", "write_amp": "ratio",
}


def layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    out = {f"{name}.{field}": unit
           for name in SPANS for field, unit in SPAN_UNITS.items()}
    out.update(COUNT_UNITS)
    return out


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(SHAPES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def install_spans(tracer, wl: Workload) -> None:
    """Wrap the public entry points of each etl_spark module."""
    import etl_spark.pipeline as pipeline_mod
    from etl_spark.checkpoint import CheckpointLog
    from etl_spark.derived import CleanCorpus, IncrementalDerived
    from etl_spark.lake.table import SnapshotTable
    from etl_spark.metrics import MetricsSink
    from etl_spark.pipeline import IngestPipeline
    from etl_spark.replicate import Mirror

    roles = wl.roles()

    def lake(name):
        return lambda table, *a, **k: name + roles.get(str(table.root), ".other")

    def derived(maint, *a, **k):
        return ("derived.clean_corpus" if isinstance(maint, CleanCorpus)
                else "derived.other")

    tracer.wrap(IngestPipeline, "replay", "pipeline.replay")
    tracer.wrap(IngestPipeline, "_log_lineage", "checkpoint.lineage")
    tracer.wrap(pipeline_mod, "pending_segments", "sources.pending_segments")
    tracer.wrap(CheckpointLog, "logged_epochs", "checkpoint.logged_epochs")
    for method in ("merge_epochs", "lookup", "changes_between", "read"):
        tracer.wrap(SnapshotTable, method, lake(f"lake.{method}"))
    tracer.wrap(IncrementalDerived, "update_for_commit", derived)
    tracer.wrap(IncrementalDerived, "catch_up", "derived.catch_up")
    tracer.wrap(Mirror, "sync", "replicate.sync")
    tracer.wrap(MetricsSink, "emit", "metrics.emit")


def span_overhead(spark, n: int = 200) -> float:
    """Seconds one span costs the traced caller (open + close)."""
    from tracer import SpanRecorder

    rec = SpanRecorder(spark)
    rec.start()
    t0 = time.perf_counter()
    for _ in range(n):
        rec.close(rec.open("overhead"))
    dt = (time.perf_counter() - t0) / n
    rec.stop()
    return dt


def per_layer(tracer, wl: Workload, check: dict, overhead_s: float) -> dict:
    spans = tracer.spans
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def incl_jobs(s) -> int:
        return s.jobs + sum(incl_jobs(c) for c in children.get(s.id, ()))

    timed = [s for s in spans if s.name == "timed"]
    inside: list = []
    stack = list(timed)
    while stack:
        s = stack.pop()
        inside.append(s)
        stack.extend(children.get(s.id, ()))
    out: dict[str, float] = {}
    for name in SPANS:
        group = [s for s in inside if s.name == name]
        n = len(group)
        out[f"{name}.s"] = sum(s.seconds for s in group) / n if n else 0.0
        out[f"{name}.self_s"] = (
            sum(s.self_seconds for s in group) / n if n else 0.0
        )
        out[f"{name}.jobs"] = sum(incl_jobs(s) for s in group) / n if n else 0.0
        out[f"{name}.calls"] = float(n)
    out.update(wl.counts())
    replay_s = sum(s.seconds for s in inside if s.name == "pipeline.replay")
    uncovered = sum(s.self_seconds for s in timed)
    replays = sum(1 for s in inside if s.name == "pipeline.replay")
    out["run.jobs_total"] = float(sum(incl_jobs(s) for s in timed))
    out["run.uncovered_self_s"] = uncovered
    out["run.uncovered_share"] = uncovered / replay_s if replay_s else 0.0
    out["trace.overhead_per_commit_s"] = overhead_s * (
        sum(1 for s in inside if s.name != "timed") / max(1, replays)
    )
    out["trace.jobs_unattributed"] = float(
        check["jobs_total"] - check["jobs_attributed"]
    )
    return out


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort: do not leak it
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "etl_spark" / "__init__.py").is_file():
        print(f"perfbench: no etl_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import environment

    state = ROOT / ".perfbench"
    work = state / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    runs = state / "runs"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    runs.mkdir(parents=True, exist_ok=True)
    detail_path = runs / (
        f"{time.strftime('%Y%m%dT%H%M%S')}-{args.workload}-seed{args.seed}"
        f"-trace{args.trace}-{os.getpid()}.json"
    )
    env = environment.pin(work)
    detail: dict = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "machine_start": environment.sample(),
    }
    result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    spark = None
    try:
        from etl_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}",
                          master=f"local[{environment.PARALLELISM}]",
                          extra_conf=environment.spark_conf(work))
        detail["environment"] = environment.describe(ROOT, env)
        detail["jvm_start_s"] = time.perf_counter() - T_START
        tracer = None
        if args.trace:
            from tracer import SpanRecorder

            tracer = SpanRecorder(spark)
        wl = Workload(args.workload, spark, work, args.seed, args.seconds,
                      tracer)
        if tracer is not None:
            install_spans(tracer, wl)
            tracer.start()
            with tracer.span("setup"):
                wl.setup()
            tracer.stop()
        else:
            wl.setup()
        setup_s = time.perf_counter() - T_START
        if tracer is not None:
            tracer.start()
            with tracer.span("timed"):
                wl.measure()
            tracer.stop()
        else:
            wl.measure()
        detail["phases"] = wl.phases
        detail["cycles"] = wl.cycles
        detail["ops"] = wl.client.ops
        detail["commits"] = wl.commits
        metrics = wl.end_to_end(setup_s)
        detail["end_to_end"] = metrics
        if tracer is not None:
            check = tracer.attribute_jobs()
            tracer.unpatch()
            detail["job_check"] = check
            layers = per_layer(tracer, wl, check, span_overhead(spark))
            detail["per_layer"] = layers
            detail["spans"] = [s.as_dict() for s in tracer.spans]
            if check["jobs_attributed"] != check["jobs_total"]:
                raise RuntimeError(f"span job counts do not add up: {check}")
            shown = {k: {"value": layers[k], "unit": unit}
                     for k, unit in layer_units().items()}
        else:
            shown = {k: {"value": v, "unit": UNITS[k]}
                     for k, v in metrics.items()}
        t = time.perf_counter()
        checks = gate.check(wl)
        detail["gate"] = checks
        detail["phases"]["gate_s"] = time.perf_counter() - t
        correct = all(g["ok"] for g in checks)
        result = {
            "correct": correct,
            "attempted": wl.client.attempted,
            "failed": wl.client.failed,
            "metrics": shown if correct else {},
        }
    except Exception as err:  # noqa: BLE001 - reported, run fails
        detail["error"] = traceback.format_exc()
        print(f"perfbench: {type(err).__name__}: {err}", file=sys.stderr)
    finally:
        if spark is not None:
            stop_spark(spark)
        detail["machine_end"] = environment.sample()
        detail["steal_share"] = environment.steal_share(
            detail["machine_start"], detail["machine_end"])
        detail["result"] = result
        detail_path.write_text(json.dumps(detail, indent=1, default=str))
        shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: detail in {detail_path}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
