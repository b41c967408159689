"""Pin the Spark environment and record the machine state of a run.

The parallelism, driver memory and local directories are fixed here rather
than derived at run time, so two runs on the same box differ only in load.
The load itself is recorded (``/proc/loadavg`` and CPU steal from
``/proc/stat``) at the start and end of each run, so when two sets of runs
disagree, the load at the time can be read rather than guessed.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess
import sys
import time
from pathlib import Path

# local[4]: the benchmark's reference box has 4 cores; a fixed value keeps
# task waves identical on any machine with at least that many
PARALLELISM = 4
# the data sets are a few MB; 2g leaves room for the shared box
DRIVER_MEM = "2g"


def pin(work: Path) -> dict[str, str]:
    """Environment for the run. Must be applied before pyspark starts the
    JVM. Every scratch location points inside ``work``."""
    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return env


def spark_conf(work: Path) -> dict[str, str]:
    tmp = work / "tmp"
    return {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads per-job-group ids back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _cpu_times() -> dict[str, int]:
    fields = Path("/proc/stat").read_text().splitlines()[0].split()[1:]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq",
             "steal")
    return {n: int(v) for n, v in zip(names, fields)}


def sample() -> dict:
    """Load and CPU counters at one instant."""
    out: dict = {"t": time.time()}
    try:
        out["loadavg"] = Path("/proc/loadavg").read_text().split()[:3]
        out["cpu"] = _cpu_times()
    except OSError:
        pass
    return out


def steal_share(a: dict, b: dict) -> float | None:
    """Share of CPU time stolen by the hypervisor between two samples."""
    if "cpu" not in a or "cpu" not in b:
        return None
    total = sum(b["cpu"].values()) - sum(a["cpu"].values())
    steal = b["cpu"]["steal"] - a["cpu"]["steal"]
    return steal / total if total > 0 else None


def source_fingerprint(root: Path) -> str:
    """sha256 over the engine's sources: identifies the code measured even
    in a checkout that is not a git repository."""
    h = hashlib.sha256()
    for p in sorted((root / "etl_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def git_commit(root: Path) -> str | None:
    """HEAD of the checkout, or None when it is not a git repository."""
    if not (root / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(root), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def describe(root: Path, env: dict[str, str]) -> dict:
    import pyspark

    return {
        "git_commit": git_commit(root),
        "source_sha256": source_fingerprint(root),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "nproc": os.cpu_count(),
        "parallelism": PARALLELISM,
        "env": env,
    }
