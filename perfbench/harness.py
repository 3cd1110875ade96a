"""What every workload shares: the pinned environment, the Spark session,
the RSS sampler, process shutdown and the operation ledger.

Everything a run writes goes under ``<checkout>/.perfbench/``: the Spark
local dir, temp files, the warehouse, the event log and the generated
inputs live in a per-run work directory that is removed at the end; span
files of traced runs are kept under ``.perfbench/traces/``.
"""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"
DRIVER_MEMORY = "2g"


def core_count() -> int:
    return len(os.sched_getaffinity(0))


@dataclass
class Env:
    """The pinned run environment: cores, memory and every directory the
    run may write."""

    work: Path
    cores: int
    driver_memory: str = DRIVER_MEMORY

    @property
    def local_dir(self) -> Path:
        return self.work / "spark-local"

    @property
    def event_log_dir(self) -> Path:
        return self.work / "eventlog"

    @property
    def data_dir(self) -> Path:
        return self.work / "data"

    @classmethod
    def create(cls) -> "Env":
        work = STATE / f"work-{os.getpid()}-{int(time.time() * 1000)}"
        env = cls(work=work, cores=core_count())
        for d in (env.local_dir, env.event_log_dir, env.data_dir, work / "tmp"):
            d.mkdir(parents=True, exist_ok=True)
        # pinned before the JVM starts: it and the Python workers inherit them
        os.environ["SPARK_LOCAL_DIRS"] = str(env.local_dir)
        os.environ["SPARK_DRIVER_MEMORY"] = env.driver_memory
        os.environ["TMPDIR"] = str(work / "tmp")
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            o for o in (os.environ.get("JAVA_TOOL_OPTIONS"),
                        f"-Djava.io.tmpdir={work / 'tmp'}", "-XX:-UsePerfData") if o
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        return env

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def start_session(env: Env, traced: bool):
    from datasketches_pig_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(env.work / "warehouse"),
    }
    if traced:
        extra.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": env.event_log_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        "perfbench", cores=env.cores, shuffle_partitions=2 * env.cores, extra_conf=extra
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _proc_table() -> dict[int, int]:
    """pid -> parent pid for every live process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(pid: int) -> set[int]:
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for p, pp in table.items():
        kids.setdefault(pp, []).append(p)
    out, todo = set(), [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of this process and all its descendants (the
    JVM and the Python workers) from /proc until stopped."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.samples.append(sum(_rss_bytes(p) for p in descendants(me) | {me}))
            if self._stop.wait(self.interval_s):
                return

    def median_mb(self, start: int, end: int) -> float:
        """Median of the samples taken between two ``len(samples)`` marks."""
        window = self.samples[start:end] or self.samples[-1:]
        return statistics.median(window) / 2**20

    @property
    def peak_mb(self) -> float:
        return max(self.samples, default=0) / 2**20


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait until every process this run started
    has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.time() + timeout_s
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


@dataclass
class Ledger:
    """Operations attempted and failed.  An operation is one timed execution
    (a pipeline run, a batch fold, a query); it fails if it raises or fails
    its output check."""

    attempted: int = 0
    failed: int = 0

    def record(self, name: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                print(f"perfbench: FAILED {name}: {p}", file=sys.stderr)

    def run(self, name: str, fn, check):
        """Time ``fn()``, check its output with ``check(out) -> problems``.
        Returns (seconds, output or None)."""
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:  # noqa: BLE001 - a raising operation is a failed one
            dt = time.perf_counter() - t0
            self.record(name, [traceback.format_exc(limit=3)])
            return dt, None
        dt = time.perf_counter() - t0
        self.record(name, check(out))
        return dt, out

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0
