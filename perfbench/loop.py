"""The closed loop shared by the end-to-end and the traced run."""

from __future__ import annotations

import statistics
import subprocess
import sys
import time
import traceback

from workloads import WORKLOADS


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Runner:
    """One session's worth of a workload: warm-up passes, then timed
    passes for ``seconds``, each on its own shard and each checked."""

    def __init__(self, spark, workload: str, man: dict, work: str):
        self.wl = WORKLOADS[workload](spark, man, work)
        self.man = man
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.handles: list[dict] = []
        self.next_k = man["n_warm"]  # next timed shard

    def _pass(self, k: int) -> float | None:
        """Register shard k, run one pass, check it. -> pass wall time
        (registration included) or None if the pass failed."""
        ref = self.man["shards"][k]
        try:
            t0 = time.perf_counter()
            h = self.wl.register(k)
            h["k"] = k
            out = self.wl.run_pass(h)
            dt = time.perf_counter() - t0
        except Exception:  # a failed pass is counted, the run goes on
            log(f"pass on shard {k} raised:\n{traceback.format_exc()}")
            return None
        self.handles.append(h)
        if not self.wl.check(out, ref):
            log(f"pass on shard {k} failed verification")
            return None
        return dt

    def warm(self) -> list[float]:
        times = []
        for k in range(self.man["n_warm"]):
            dt = self._pass(k)
            if dt is None:
                self.problems.append(f"warm-up pass {k} failed")
            else:
                times.append(dt)
        return times

    def timed(self, seconds: float) -> list[float]:
        """Closed loop over the unused timed shards until ``seconds``
        elapse (or the shards run out). -> wall time of each passing
        pass."""
        times = []
        t_loop = time.perf_counter()
        for k in range(self.next_k, len(self.man["shards"])):
            self.next_k = k + 1
            self.attempted += 1
            dt = self._pass(k)
            if dt is None:
                self.failed += 1
            else:
                times.append(dt)
            if len(self.handles) > 1:  # the last one feeds final_checks
                self.wl.close(self.handles[-2])
            if time.perf_counter() - t_loop >= seconds:
                break
        else:
            log(f"ran out of shards after {time.perf_counter() - t_loop:.1f}"
                f" s of {seconds} s")
        return times

    def finish(self) -> None:
        try:
            self.problems += self.wl.final_checks(self.handles)
        except Exception:
            self.problems.append("final checks raised:\n"
                                 + traceback.format_exc())
        for h in self.handles:
            self.wl.close(h)

    def rows_per_s(self, times: list[float]) -> float:
        rows = self.man["shards"][-1]["rows"]
        return rows / statistics.median(times) if times else 0.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
