"""Collect sets of benchmark runs and compare them against the bounds.

    python3 perfbench/compare.py collect --workload sparse_upsert \\
        --seeds 1-10 --out set_a.jsonl [--trace 1]
    python3 perfbench/compare.py report set_a.jsonl [set_b.jsonl]

``collect`` runs ``BENCHMARK.json``'s command once per seed, one after the
other, and appends each run's result line, exit code, wall time and
end-to-end detail to ``--out``. ``report`` prints, per workload and
end-to-end metric, the median, the quartiles and the spread (interquartile
distance over the median) against the metric's bound; given a second set,
it also prints how far the second median moved in the metric's worse
direction. A traced set compared with an untraced one shows the tracing
overhead: the traced end-to-end medians minus the untraced ones.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def collect(args: argparse.Namespace) -> int:
    spec = load_spec()
    out = Path(args.out)
    for seed in parse_seeds(args.seeds):
        cmd = [*spec["command"], "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
               "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                              check=False)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else None
        detail = None
        for line in proc.stderr.splitlines():
            if line.startswith("perfbench: detail in "):
                detail = json.loads(Path(line.split(" in ", 1)[1]).read_text())
        rec = {
            "workload": args.workload, "seed": seed, "trace": args.trace,
            "exit": proc.returncode, "wall_s": wall, "result": result,
            "end_to_end": (detail or {}).get("end_to_end"),
            "phases": (detail or {}).get("phases"),
            "steal_share": (detail or {}).get("steal_share"),
        }
        with out.open("a") as fh:
            fh.write(json.dumps(rec) + "\n")
        ok = result is not None and result.get("correct")
        print(f"{args.workload} seed={seed} trace={args.trace} "
              f"exit={proc.returncode} correct={ok} wall={wall:.1f}s",
              file=sys.stderr)
    return 0


def load_set(path: str) -> dict[str, list[dict]]:
    runs: dict[str, list[dict]] = defaultdict(list)
    for line in Path(path).read_text().splitlines():
        if line.strip():
            rec = json.loads(line)
            runs[rec["workload"]].append(rec)
    return runs


def values(runs: list[dict], metric: str) -> list[float]:
    """End-to-end values of a metric; a traced run reports them in its
    detail rather than on its result line."""
    out = []
    for r in runs:
        if r.get("trace"):
            v = (r.get("end_to_end") or {}).get(metric)
        else:
            v = ((r.get("result") or {}).get("metrics") or {}).get(
                metric, {}).get("value")
        if v is not None:
            out.append(float(v))
    return out


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    q1, _, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def report(args: argparse.Namespace) -> int:
    spec = load_spec()
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    a = load_set(args.a)
    b = load_set(args.b) if args.b else None
    worst = 0
    for wl in sorted(set(a) | set(b or {})):
        ra = a.get(wl, [])
        rb = (b or {}).get(wl, [])
        for label, rs in (("A", ra), ("B", rb)):
            if rs:
                walls = [r["wall_s"] for r in rs]
                bad = sum(1 for r in rs if r["exit"] != 0
                          or not (r["result"] or {}).get("correct"))
                print(f"{wl} set {label}: {len(rs)} runs, {bad} failed, "
                      f"wall median {statistics.median(walls):.1f}s "
                      f"max {max(walls):.1f}s")
        print(f"  {'metric':22} {'median':>11} {'q1':>11} {'q3':>11} "
              f"{'spread':>7} {'bound':>6}"
              + (f" {'median_B':>11} {'spread_B':>8} {'worse_by':>8}"
                 if b else ""))
        for name, m in metrics.items():
            va, vb = values(ra, name), values(rb, name)
            if len(va) < 2:
                continue
            q1, med, q3 = quartiles(va)
            spreads = [(q3 - q1) / med]
            line = (f"  {name:22} {med:11.5g} {q1:11.5g} {q3:11.5g} "
                    f"{spreads[0]:7.3f} {m['bound']:6.2f}")
            flag = ""
            if len(vb) >= 2:
                q1_b, med_b, q3_b = quartiles(vb)
                spreads.append((q3_b - q1_b) / med_b)
                sign = 1 if m["better"] == "lower" else -1
                worse = sign * (med_b - med) / med
                line += f" {med_b:11.5g} {spreads[1]:8.3f} {worse:+8.3f}"
                if worse > m["bound"]:
                    flag, worst = "WORSE>BOUND", 1
            if name != "setup_s":
                if max(spreads) > m["bound"]:
                    flag, worst = "SPREAD>BOUND", 1
                elif not flag and max(spreads) > m["bound"] / 3:
                    flag = "spread>bound/3"
            print(line + ("  " + flag if flag else ""))
    return 1 if worst else 0


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--workload", required=True)
    c.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,7")
    c.add_argument("--trace", type=int, choices=(0, 1), default=0)
    c.add_argument("--out", required=True)
    r = sub.add_parser("report")
    r.add_argument("a")
    r.add_argument("b", nargs="?")
    args = p.parse_args(argv)
    return collect(args) if args.cmd == "collect" else report(args)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
