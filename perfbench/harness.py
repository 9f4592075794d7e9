"""Run plumbing shared by the workloads: the per-run directory, the Spark
session, process-tree RSS sampling, and the summary statistics.

Everything a run writes lives under `<checkout>/.perfbench/run-<pid>/`,
which is deleted when the run ends: TMPDIR (the registry rows' mkdtemp
stores), SPARK_LOCAL_DIRS, the Spark warehouse, Derby's home and log, and
the event log of a traced run.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "3g"


class RunDir:
    """Per-run scratch tree; `enter()` points every temp location at it."""

    def __init__(self, tag: str):
        self.path = os.path.join(WORK, f"run-{os.getpid()}-{tag}")
        self.tmp = os.path.join(self.path, "tmp")
        self.local = os.path.join(self.path, "local")
        self.data = os.path.join(self.path, "data")
        self.eventlog = os.path.join(self.path, "eventlog")

    def enter(self) -> "RunDir":
        shutil.rmtree(self.path, ignore_errors=True)
        for d in (self.tmp, self.local, self.data, self.eventlog):
            os.makedirs(d)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
        os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR on next use
        # derby.log and metastore_db land in the working directory
        os.chdir(self.path)
        return self

    def remove(self) -> None:
        os.chdir(ROOT)
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(WORK)
        except OSError:
            pass


def build(run: RunDir, trace: bool):
    """One SparkSession through the package's factory, on local[nproc]."""
    from s3_to_redshift_with_airflow_spark.session import build_session

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run.path, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run.tmp} -Dderby.system.home={run.path} -Duser.timezone=UTC"
        ),
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + run.eventlog
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return build_session(
        app_name="perfbench", master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]", extra_conf=conf
    )


def stop(spark) -> None:
    """Stop Spark and wait for the JVM and every process it forked to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    forked = _tree_pids(os.getpid())[1:]  # the JVM and its Python workers
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while (alive := [p for p in forked if os.path.exists(f"/proc/{p}")]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _tree_pids(root_pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident set of this process plus its JVM child and the JVM's
    Python workers, sampled every 50 ms between start() and stop()."""

    def __init__(self):
        self.peak_kib = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        n, pids = 0, []
        while not self._stop.is_set():
            if n % 20 == 0:
                pids = _tree_pids(os.getpid())
            n += 1
            self.peak_kib = max(self.peak_kib, sum(_rss_kib(p) for p in pids))
            self._stop.wait(0.05)

    def start(self) -> None:
        self._t.start()

    def stop(self) -> None:
        self._stop.set()
        if self._t.is_alive():
            self._t.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kib / 1024.0


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def geomean(xs) -> float:
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


class Ledger:
    """Counts timed operations and the ones that failed (raised or
    returned a wrong result). A failure is recorded, never raised."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def check(self, label: str, fn) -> None:
        """Count one operation; `fn()` returns True when its result is right."""
        try:
            ok = bool(fn())
        except Exception as e:  # noqa: BLE001
            self.fail(label, e)
            return
        self.attempted += 1
        if not ok:
            self._record(label, "wrong result")

    def fail(self, label: str, exc: Exception) -> None:
        """Count one operation that raised."""
        self.attempted += 1
        self._record(label, f"{type(exc).__name__}: {str(exc)[:300]}")

    def _record(self, label: str, err: str) -> None:
        self.failed += 1
        self.errors.append(f"{label}: {err}")
        print(f"perfbench: FAILED {label}: {err}", file=sys.stderr, flush=True)


def clock() -> float:
    return time.perf_counter()
