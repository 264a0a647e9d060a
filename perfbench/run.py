#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload updates_skewed --seed 1 --seconds 5 --trace 0

Plain run (--trace 0): launch a host-sized local[nproc] session while the
seeded input is generated (unless cached), set up a fresh session five
times (median is setup_s), run the pipeline once cold, then warm until
--seconds have passed (at least once). Every execution is checked.
Traced run (--trace 1): see traced.py. The last stdout line is
{"correct", "attempted", "failed", "metrics"}; the line before it is the
run record (host, loadavg, versions, per-execution times).
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

import spark_host
import traced
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# warm executions per run at least: a run also pays a JVM launch and a cold
# execution, and one more warm execution would not fit the run budget
MIN_WARM = 1


class Session:
    """The run's JVM and its current SparkSession + input table."""

    def __init__(self, w, seed: int, work: Path, event_log: bool):
        self.w, self.seed, self.work, self.event_log = w, seed, work, event_log
        self.cores = spark_host.host_cores()
        spark_host.configure_env(work)
        job = workloads.InputJob(w, seed, work)
        self.spark = None
        try:
            self.launch_s, self.spark = workloads.timed(
                lambda: spark_host.start(self.cores, work, event_log)
            )
            self.path = job.wait()
        except BaseException:
            job.kill()
            if self.spark is not None:
                spark_host.shutdown(self.spark)
            raise
        self.gen_s = job.seconds
        self.table = None

    def setup(self) -> float:
        """Fresh session on the running JVM, ready to run: the engine's
        session factory plus opening the input table."""
        self.spark.stop()

        def ready():
            self.spark = spark_host.start(self.cores, self.work, self.event_log)
            self.table = workloads.open_table(self.spark, self.path)

        return workloads.timed(ready)[0]

    def close(self) -> None:
        spark_host.shutdown(self.spark)


def run_plain(sess: Session, seconds: int, ledger) -> tuple[dict, dict]:
    from bgp_feature_extractor_spark.config import EngineConfig

    cfg = EngineConfig()
    setups = [sess.setup() for _ in range(spark_host.SETUPS)]
    checker = workloads.Checker(sess, cfg)
    with spark_host.RssSampler(spark_host.jvm_pid()) as rss:
        cold = ledger.execute(lambda: workloads.execute(sess, checker, cfg))
        checker.prepare_oracle()
        results = [cold]
        t_end = time.perf_counter() + seconds
        while len(results) <= MIN_WARM or time.perf_counter() < t_end:
            results.append(ledger.execute(lambda: workloads.execute(sess, checker, cfg)))
    ledger.verify(results, checker)
    warm = [r["seconds"] for r in results[1:] if r is not None]
    if cold is None or not warm:
        raise RuntimeError("no successful execution: " + "; ".join(ledger.failures[:3]))
    wall = statistics.median(warm)
    metrics = {
        "wall_s": (wall, "s"),
        "events_per_s": (sess.w.rows / wall, "1/s"),
        "cold_s": (cold["seconds"], "s"),
        "setup_s": (statistics.median(setups), "s"),
        "peak_rss_mb": (rss.peak_kb / 1024, "MB"),
    }
    record = {
        "launch_s": sess.launch_s,
        "setups_s": setups,
        "cold_s": cold["seconds"],
        "warm_s": warm,
        "build_s": [r["build_s"] for r in results if r is not None],
        "sampled_sources": checker.sampled,
        "digest": checker.digest,
    }
    return metrics, record


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "bgp_feature_extractor_spark").is_dir():
        print(f"engine package not found beside {HERE.name}/", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[args.workload]

    t_start = time.perf_counter()
    load_before = os.getloadavg()
    work = HERE / ".work" / f"{w.name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    ledger = workloads.Ledger()
    sess = Session(w, args.seed, work, event_log=bool(args.trace))
    try:
        if args.trace:
            metrics, record = traced.run_traced(sess, ledger)
        else:
            metrics, record = run_plain(sess, args.seconds, ledger)
        record["host"] = spark_host.host_record(sess.spark, sess.cores, load_before)
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)
    record.update(
        workload=w.name,
        seed=args.seed,
        rows=w.rows,
        gen_s=sess.gen_s,
        trace=args.trace,
        failures=ledger.failures,
        run_s=time.perf_counter() - t_start,
    )
    print(json.dumps({"record": record}, default=str))
    print(
        json.dumps(
            {
                "correct": ledger.failed == 0 and ledger.attempted > 0,
                "attempted": ledger.attempted,
                "failed": ledger.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
