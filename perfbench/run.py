"""geospark benchmark: one workload, closed loop, one JSON result line.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 15 \
        --trace 0

Run from the repository root. The inputs for (workload, seed) are
generated on first use, in a child process, and cached under
``perfbench/.cache``; generation is benchmark work and is not part of
any metric. One driver process runs one Spark job at a time on
``local[nproc]``: each pass reads its own input shard, and the next pass
starts only after the previous one has returned and been checked
against its reference.

``--trace 0`` prints the end-to-end metrics (``rows_per_s``, ``setup_s``,
``peak_rss_mb``); ``--trace 1`` runs the separate traced run of
``trace_run.py`` and prints the per-layer metrics. The last line of
stdout is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import common  # noqa: E402
import gen  # noqa: E402
from loop import Runner, log, stop_session  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def end_to_end(args, man: dict, work: str, t_pre: float) -> dict:
    with common.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = common.build_session(work)
        env = common.environment(spark)
        t_session = time.perf_counter() - t0
        try:
            r = Runner(spark, args.workload, man, work)
            warm = r.warm()
            times = r.timed(args.seconds)
            r.finish()
        finally:
            stop_session(spark)
    # time to the first timed pass: imports and session start once,
    # then the n_warm registration + warm-up passes at their median
    setup_s = (t_pre + t_session
               + man["n_warm"] * (statistics.median(warm) if warm else 0.0))
    metrics = {"rows_per_s": (r.rows_per_s(times), "1/s"),
               "setup_s": (setup_s, "s"),
               "peak_rss_mb": (rss.peak / 2**20, "MB")}
    return {"env": env, "attempted": r.attempted, "failed": r.failed,
            "problems": r.problems, "metrics": metrics,
            "pass_s": times}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="full")
    args = ap.parse_args(argv)

    sys.path.insert(0, common.REPO_ROOT)
    try:
        import geospark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        log(f"cannot import the program under test: {e}")
        return 2

    work = os.path.join(common.BENCH_DIR, ".work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    try:
        t_pre = time.perf_counter() - T_START
        t0 = time.perf_counter()
        # generated in a child process, so that the measured process
        # starts alike whether or not the cache already held the inputs
        subprocess.run([sys.executable, gen.__file__, args.workload,
                        str(args.seed), args.size], check=True)
        man = gen.ensure_inputs(common.CACHE_DIR, args.workload, args.seed,
                                args.size)
        log(f"inputs {args.workload} seed={args.seed} size={args.size} "
            f"digest={man['input_digest'][:16]} ready in "
            f"{time.perf_counter() - t0:.1f} s")
        if args.trace:
            import trace_run
            res = trace_run.run(args, man, work)
        else:
            res = end_to_end(args, man, work, t_pre)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for p in res["problems"]:
        log(f"problem: {p}")
    record = {"workload": args.workload, "seed": args.seed,
              "size": args.size, "input_digest": man["input_digest"],
              **res["env"],
              "pass_s": [round(t, 4) for t in res.get("pass_s", [])]}
    print("run: " + json.dumps(record))
    for name, (value, unit) in res["metrics"].items():
        print(f"{name:48s} {value:14.4f} {unit}")
    correct = res["failed"] == 0 and not res["problems"] \
        and res["attempted"] > 0
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in res["metrics"].items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
