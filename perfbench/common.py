"""Spark session, run environment and the process-tree RSS sampler."""

from __future__ import annotations

import os
import platform
import subprocess
import tempfile
import threading

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")
HEAP = "2g"  # driver JVM heap, initial == maximum


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def build_session(work: str):
    """local[nproc] session with geospark's tuned settings. Every file
    Spark writes (shuffle, spill, warehouse, temp) lands
    under ``work``. The JVM heap is pinned (-Xms == -Xmx) so heap
    growth timing does not drive the process-tree RSS."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import geospark from the checkout and write temp
    # files under the work dir
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no JVM perf-data file in the system /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    from pyspark.sql import SparkSession

    from geospark.conf import apply_tuned
    n = nproc()
    b = (apply_tuned(SparkSession.builder.appName("perfbench"))
         .master(f"local[{n}]")
         .config("spark.driver.memory", HEAP)
         .config("spark.driver.extraJavaOptions",
                 f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
         .config("spark.sql.shuffle.partitions", str(2 * n))
         .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def environment(spark) -> dict:
    """What both sides of a comparison must share besides the inputs."""
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO_ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    jvm = spark.sparkContext._jvm.java.lang.System
    return {"git_commit": commit, "nproc": nproc(),
            "pyspark": spark.version,
            "java": jvm.getProperty("java.version"),
            "python": platform.python_version()}


# ---------------------------------------------------------------------------
# process-tree peak RSS
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the RSS of this process tree (driver Python, JVM, Python
    workers) every INTERVAL seconds on a daemon thread; ``peak`` holds
    the largest sum seen."""

    INTERVAL = 0.25  # one sample costs ~2 ms of driver CPU

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(me))
            if self._stop.wait(self.INTERVAL):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
