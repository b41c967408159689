"""The benchmark's workloads: one closed-loop client driving the engine's
public API, each operation waiting for the previous one.

``sparse_upsert`` is the steady-state CDC shape the engine lives on: 300-event
delta epochs committed over a 20k-event base through
``IngestPipeline.replay(max_epoch=k)`` (the CLI path, healer checks
included), each followed by four point lookups (keys the delta touched
and keys it did not) and a change-feed read, with a ``Mirror.sync`` after
every second commit; twenty full scans close the run. Merge and read paths
of ``lake.table`` do almost all the work and the ``derived`` layer does
none, so a derived-only change must predict no change here.

``derived_upsert`` runs the same operations with the clean corpus
maintained on every commit, over a 6k-event base: derived cost is set by
the number of Spark jobs per commit, not by the data size, so a small base
loses nothing and leaves time for more commits.

Both bootstrap their base with a multi-epoch catch-up replay (which also
runs the lineage read-back path), then time whole commit cycles: CYCLE
commits, of which exactly one folds the MOR deltas back into base files.
The fact table's delta cap is CYCLE - 1 files per bucket and every 300-event
delta touches all 16 buckets, so whole cycles keep the fold share of the
steady rate the same in every run.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass
from pathlib import Path
from typing import Any, Callable

CYCLE = 4
MAX_CYCLES = 3
SCANS = 20
BASE_EPOCHS = 4
DELTA_EVENTS = 300
N_REPOS = 100
N_BUCKETS = 16
# SnapshotTable.mor_delta_cap is max_files_per_bucket // 2: a cap of
# CYCLE - 1 delta files per bucket folds on every CYCLE-th commit
MAX_FILES_PER_BUCKET = 2 * (CYCLE - 1)


@dataclass(frozen=True)
class Shape:
    base_events: int
    paths_per_repo: int
    clean_corpus: bool


SHAPES = {
    "sparse_upsert": Shape(base_events=20_000, paths_per_repo=200,
                           clean_corpus=False),
    "derived_upsert": Shape(base_events=6_000, paths_per_repo=60,
                            clean_corpus=True),
}

LANGS = ("Python", "py", "PYTHON", "Rust", "rs", "go", "Go", "c++", "cpp", "")
EXTS = ("py", "py", "py", "rs", "rs", "go", "go", "cpp", "cpp", "txt")


def generate(stream: Path, shape: Shape, seed: int) -> None:
    """Write the change stream as ``epoch=N`` parquet segments, the layout
    ``etl_spark.datagen.write_segments`` produces: ``base_epochs`` epochs
    holding ``base_events`` events, then 300-event delta epochs with fresh
    LSNs. Repos follow a power law (one mega-repo), 5% of events are
    re-delivered within their epoch and 2% are deletes carrying only the
    key, so deltas update, delete and create keys. Generated with numpy
    from ``seed`` alone: the engine sees only the files, and set-up pays
    no Spark job for them."""
    import hashlib

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    base = shape.base_events
    n = base + CYCLE * MAX_CYCLES * DELTA_EVENTS
    lsn = np.arange(n, dtype=np.int64)
    epoch = np.where(lsn < base, lsn // (base // BASE_EPOCHS),
                     BASE_EPOCHS + (lsn - base) // DELTA_EVENTS)
    repo = (rng.random(n) ** 3.0 * N_REPOS).astype(np.int64)
    path = rng.integers(0, shape.paths_per_repo, n)
    lang = rng.integers(0, len(LANGS), n)
    lines = rng.integers(1, 9, n)
    delete = rng.random(n) < 0.02
    redeliver = rng.random(n) < 0.05
    rows: dict[int, list[tuple]] = defaultdict(list)
    for i in range(n):
        r = f"repo_{repo[i]:04d}"
        p = f"dir{path[i] % 7}/file_{path[i]:05d}.{EXTS[lang[i]]}"
        c = f"c{i:012d}"
        if delete[i]:
            row = (i, r, None, p, c, None, "d")
        else:
            body = hashlib.md5(f"{r}/{p}/{c}".encode()).hexdigest() + "\n"
            row = (i, r, LANGS[lang[i]], p, c,
                   f"// {r}/{p}@{c}\n" + body * int(lines[i]), "u")
        rows[int(epoch[i])].extend([row, row] if redeliver[i] else [row])
    schema = pa.schema([
        ("lsn", pa.int64()), ("repo", pa.string()), ("lang", pa.string()),
        ("path", pa.string()), ("commit", pa.string()),
        ("content", pa.string()), ("op", pa.string()),
    ])
    for e, batch in rows.items():
        out = stream / f"epoch={e}"
        out.mkdir(parents=True)
        for part in range(4):
            cols = list(zip(*(r for r in batch if r[0] % 4 == part)))
            pq.write_table(
                pa.table([pa.array(c, t.type) for c, t in zip(cols, schema)],
                         schema=schema),
                out / f"part-{part:05d}.parquet",
            )


class Events:
    """The generated stream as the oracle sees it, read by DuckDB: what
    each key should hold after epoch k, and what each epoch weighs."""

    def __init__(self, stream: Path) -> None:
        import duckdb

        rows = duckdb.connect().execute(
            f"""SELECT epoch, repo, path, "commit", op
                FROM read_parquet('{stream}/epoch=*/*.parquet',
                                  hive_partitioning=1)
                ORDER BY "commit" """
        ).fetchall()
        self.by_key: dict[tuple, list[tuple]] = defaultdict(list)
        self.epoch_keys: dict[int, set] = defaultdict(set)
        self.epoch_events: dict[int, int] = defaultdict(int)
        for epoch, repo, path, commit, op in rows:
            self.by_key[(repo, path)].append((epoch, commit, op))
            self.epoch_keys[epoch].add((repo, path))
            self.epoch_events[epoch] += 1
        self.epoch_bytes = {
            int(p.name.split("=")[1]): sum(
                f.stat().st_size for f in p.glob("*.parquet")
            )
            for p in stream.glob("epoch=*")
        }

    def state(self, key: tuple, k: int) -> str | None:
        """Commit a key holds after epoch ``k`` (None: absent/deleted)."""
        latest = None
        for epoch, commit, op in self.by_key.get(key, ()):
            if epoch <= k:
                latest = (commit, op)
        if latest is None or latest[1] == "d":
            return None
        return latest[0]

    def live_keys(self, k: int) -> int:
        return sum(1 for key in self.by_key if self.state(key, k) is not None)


def tree_bytes(root: Path, skip: tuple[str, ...] = ()) -> int:
    total = 0
    for dirpath, dirnames, filenames in os.walk(root):
        if dirpath == str(root):
            dirnames[:] = [d for d in dirnames if d not in skip]
        for f in filenames:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


DERIVED_DIRS = ("_rollup", "_clean", "_dedup")


class Client:
    """The closed-loop client: every timed operation is attempted once,
    never retried; an exception is a failure recorded with its class."""

    def __init__(self, tracer=None) -> None:
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.ops: list[dict[str, Any]] = []
        self.samples: dict[str, list[float]] = defaultdict(list)

    def run(self, kind: str, fn: Callable[[], Any], *, span: str | None = None,
            **info) -> tuple[bool, Any]:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if span is not None and self.tracer is not None:
                with self.tracer.span(span):
                    out = fn()
            else:
                out = fn()
        except Exception as err:  # noqa: BLE001 - counted, never retried
            self.failed += 1
            self.ops.append({"op": kind, "s": time.perf_counter() - t0,
                             "error": type(err).__name__,
                             "message": str(err)[:500], **info})
            return False, None
        dt = time.perf_counter() - t0
        self.samples[kind].append(dt)
        self.ops.append({"op": kind, "s": dt, **info})
        return True, out


class Workload:
    """Set-up, timed loop and result collection for one workload."""

    def __init__(self, name: str, spark, work: Path, seed: int,
                 seconds: float, tracer=None) -> None:
        self.shape = SHAPES[name]
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.client = Client(tracer)
        self.stream = work / "stream"
        self.fact_root = work / "table"
        self.replica_root = work / "replica"
        self.mismatches: list[dict[str, Any]] = []
        self.commits: list[dict[str, Any]] = []
        self.phases: dict[str, float] = {}

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        from etl_spark.pipeline import IngestPipeline
        from etl_spark.replicate import Mirror

        t = time.perf_counter()
        generate(self.stream, self.shape, self.seed)
        self.events = Events(self.stream)
        self.phases["datagen_s"] = time.perf_counter() - t

        t = time.perf_counter()
        self.pipe = IngestPipeline(
            self.spark, str(self.fact_root), n_buckets=N_BUCKETS,
            max_files_per_bucket=MAX_FILES_PER_BUCKET,
            maintain_clean_corpus=self.shape.clean_corpus,
        )
        self.k = BASE_EPOCHS - 1
        self.pipe.replay(str(self.stream), max_epoch=self.k, mode="catchup")
        self.phases["bootstrap_s"] = time.perf_counter() - t
        t = time.perf_counter()
        self.mirror = Mirror(self.spark, self.pipe.table,
                             str(self.replica_root))
        self.mirror.sync()
        self.phases["mirror_bootstrap_s"] = time.perf_counter() - t
        # warm-up: the bootstrap commits ran the merge path; a lookup and a
        # feed read warm the read paths. The first timed commit still pays
        # the first delta write, as every run does.
        t = time.perf_counter()
        table = self.pipe.table
        key = sorted(self.events.epoch_keys[self.k])[0]
        table.lookup(*key).collect()
        table.changes_between(None).count()
        self.phases["warmup_s"] = time.perf_counter() - t

    def roles(self) -> dict[str, str]:
        """Table root -> span-name suffix for the lake spans."""
        return {
            str(self.fact_root): "",
            str(self.replica_root): ".replica",
            str(self.fact_root / "_clean"): ".clean",
        }

    # -- one iteration -----------------------------------------------------
    def _iteration(self, *, sync: bool) -> None:
        self.k += 1
        k = self.k
        table = self.pipe.table
        client = self.client
        ok, stats = client.run(
            "commit",
            lambda: self.pipe.replay(str(self.stream), max_epoch=k), epoch=k,
        )
        if not ok:
            return
        if len(stats) != 1 or stats[0].epoch != k or stats[0].skipped:
            self.mismatches.append({"op": "commit", "epoch": k,
                                    "got": [s.as_dict() for s in stats]})
            return
        self.commits.append({"epoch": k, **_commit_counts(stats[0].commit)})
        rng = random.Random(self.seed * 100_003 + k)
        touched = sorted(self.events.epoch_keys[k])
        untouched = sorted(
            key for key in self.events.by_key
            if key not in self.events.epoch_keys[k]
            and self.events.state(key, k) is not None
        )
        for label, pool in (("touched", touched), ("untouched", untouched)) * 2:
            key = rng.choice(pool)
            ok, rows = client.run(
                "lookup", lambda: table.lookup(*key).collect(),
                span="lake.lookup", epoch=k, key=label,
            )
            if ok:
                want = self.events.state(key, k)
                got = [r["commit"] for r in rows]
                if got != ([want] if want else []):
                    self.mismatches.append({"op": "lookup", "epoch": k,
                                            "key": key, "want": want,
                                            "got": got})
        v = table.current_version()
        ok, n = client.run(
            "feed", lambda: table.changes_between(v - 1, v).count(),
            span="lake.changes_between", epoch=k,
        )
        if ok and n != len(self.events.epoch_keys[k]):
            self.mismatches.append({"op": "feed", "epoch": k, "got": n,
                                    "want": len(self.events.epoch_keys[k])})
        if sync:
            client.run("mirror_sync", self.mirror.sync, epoch=k)

    # -- timed region --------------------------------------------------------
    def measure(self) -> None:
        t0 = time.perf_counter()
        bytes_before = tree_bytes(self.fact_root, DERIVED_DIRS)
        derived_before = sum(
            tree_bytes(self.fact_root / d) for d in DERIVED_DIRS
        )
        first_epoch = self.k + 1
        self.commits = []
        cycles = 0
        while cycles < MAX_CYCLES:
            for i in range(CYCLE):
                self._iteration(sync=i % 2 == 1)
            cycles += 1
            if time.perf_counter() - t0 >= self.seconds:
                break
        committed = range(first_epoch, self.k + 1)
        self.input_bytes = sum(self.events.epoch_bytes[e] for e in committed)
        self.input_events = sum(self.events.epoch_events[e]
                                for e in committed)
        self.lake_bytes = tree_bytes(self.fact_root, DERIVED_DIRS) - bytes_before
        self.derived_bytes = sum(
            tree_bytes(self.fact_root / d) for d in DERIVED_DIRS
        ) - derived_before
        self.cycles = cycles
        want = self.events.live_keys(self.k)
        for _ in range(SCANS):
            ok, n = self.client.run(
                "scan", lambda: self.pipe.table.read().count(),
                span="lake.read",
            )
            if ok and n != want:
                self.mismatches.append({"op": "scan", "got": n,
                                        "want": want})
        self.phases["timed_s"] = time.perf_counter() - t0

    # -- results -------------------------------------------------------------
    def end_to_end(self, setup_s: float) -> dict[str, float]:
        c = self.client
        commit_s = c.samples["commit"]
        return {
            "setup_s": setup_s,
            "commit_p50_s": statistics.median(commit_s),
            "steady_events_per_s": self.input_events / sum(commit_s),
            "lookup_p50_s": statistics.median(c.samples["lookup"]),
            "feed_p50_s": statistics.median(c.samples["feed"]),
            "mirror_sync_p50_s": statistics.median(c.samples["mirror_sync"]),
            "scan_p50_s": statistics.median(c.samples["scan"]),
            "write_amp": (self.lake_bytes + self.derived_bytes)
            / self.input_bytes,
        }

    def counts(self) -> dict[str, float]:
        """Per-commit work counts from the commit dicts and from disk."""
        n = max(1, len(self.commits))
        tot = defaultdict(float)
        for c in self.commits:
            for key, val in c.items():
                if key != "epoch":
                    tot[key] += val
        candidates = tot["files_pruned"] + tot["files_rewritten"]
        return {
            "lake.files_rewritten": tot["files_rewritten"] / n,
            "lake.files_pruned": tot["files_pruned"] / n,
            "lake.delta_files": tot["delta_files"] / n,
            "lake.fold_commits": tot["fold"],
            "lake.bytes_written": self.lake_bytes / n,
            "derived.bytes_written": self.derived_bytes / n,
            "lake.prune_ratio": tot["files_pruned"] / candidates
            if candidates else 0.0,
        }


def _commit_counts(commit: dict[str, Any]) -> dict[str, float]:
    return {
        "files_rewritten": commit.get("files_rewritten") or 0,
        "files_pruned": commit.get("files_pruned") or 0,
        "delta_files": commit.get("delta_files") or 0,
        "fold": 1 if commit.get("folded_buckets") else 0,
    }
