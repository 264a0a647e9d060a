#!/usr/bin/env python3
"""Warm execution time against input size: how much of a workload's
``wall_s`` is fixed per-query cost and how much is per-row work.

    python3 perfbench/scale.py --workload updates_skewed --seed 7

In one JVM: three executions at the workload's size (warm-up), then three
each at 1/4, 4 and 1 times that size. Prints, per size, the median of the
last two, and the per-row cost fitted between 1/4 and 4 times. Inputs are
made and cached as in run.py; outputs are not checked. Takes ~5 minutes.
"""

from __future__ import annotations

import argparse
import json
import shutil
import statistics
import sys
from dataclasses import replace
from pathlib import Path
from types import SimpleNamespace

import spark_host
import workloads as wl

HERE = Path(__file__).resolve().parent


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    sys.path.insert(0, str(HERE.parent))
    from bgp_feature_extractor_spark.config import EngineConfig

    base = wl.WORKLOADS[args.workload]
    sizes = [base.rows, base.rows // 4, base.rows * 4, base.rows]
    work = HERE / ".work" / f"scale-{base.name}"
    shutil.rmtree(work, ignore_errors=True)
    spark_host.configure_env(work)
    cfg = EngineConfig()
    paths = {n: wl.InputJob(replace(base, rows=n), args.seed, work).wait() for n in set(sizes)}
    spark = spark_host.start(spark_host.host_cores(), work)
    warm: dict[int, float] = {}
    try:
        for n in sizes:
            sess = SimpleNamespace(w=replace(base, rows=n), seed=args.seed)
            sess.table = wl.open_table(spark, paths[n])
            checker = wl.Checker(sess, cfg)
            times = [wl.execute(sess, checker, cfg)["seconds"] for _ in range(3)]
            warm[n] = statistics.median(times[1:])
            print(json.dumps({"rows": n, "seconds": times}), flush=True)
    finally:
        spark_host.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    lo, hi = base.rows // 4, base.rows * 4
    per_row = (warm[hi] - warm[lo]) / (hi - lo)
    share = per_row * base.rows / warm[base.rows]
    print(json.dumps({"warm_s": warm, "per_row_us": per_row * 1e6, "per_row_share": share}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
