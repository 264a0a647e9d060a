"""Traced run: where the time goes, per module of the engine.

Separate from the timed runs. On the workload's input it does

1. after a cold execution, one execution with spans around the
   ``feature_matrix()`` call and the forcing action next to an untraced
   one, their order alternating with the seed (``trace.overhead_s`` is
   traced minus untraced);
2. every layer in isolation: its input is materialized (cached) once, then
   the module's public function is timed through the noop sink;
3. the multi-width + labeling dataset and a killed-and-resumed
   checkpointed run, with their own output checks.

Spans (name, start, end, parent, one trace id) and counts are kept in
memory; Spark's event log (enabled for this session only) attributes task
metrics to spans through the job description. Everything is written to
``perfbench/.out/trace-<workload>-s<seed>.json`` at the end.
"""

from __future__ import annotations

import json
import statistics
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

import workloads as wl
from spark_host import SETUPS

OUT = Path(__file__).resolve().parent / ".out"
FULL = "workload"
CKPT_BUCKETS = 2


class Tracer:
    """Spans kept in memory; each also sets Spark's job description to its
    name, so the event log's jobs map back to it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1]["name"] if self._open else None
        rec = {"trace_id": self.trace_id, "name": name, "parent": parent}
        self._open.append(rec)
        self.sc.setJobDescription(name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["seconds"]
            self._open.pop()
            self.sc.setJobDescription(parent)
            self.spans.append(rec)

    def timed(self, name: str, fn):
        with self.span(name) as rec:
            fn()
        return rec["seconds"]

    def self_times(self) -> None:
        for s in self.spans:
            kids = sum(k["seconds"] for k in self.spans if k["parent"] == s["name"])
            s["self_seconds"] = s["seconds"] - kids


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def generate_rows(cached) -> int:
    """Rows produced by the Generate (explode) nodes over event rows (output
    carries ``ts``) in the executed plan that filled ``cached``'s cache —
    the width explode's row count."""
    total, stack = 0, [cached._jdf.queryExecution().withCachedData().cacheBuilder().cachedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            stack.append(node.executedPlan())
            continue
        if "QueryStage" in name:
            stack.append(node.plan())
            continue
        if name == "Generate":
            out = node.output()
            if any(out.apply(i).name() == "ts" for i in range(out.size())):
                total += int(node.metrics().apply("numOutputRows").value())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return total


def isolated_layers(spark, tr: Tracer, w, table, cfg, m: dict) -> tuple:
    """Each layer's public function timed alone over materialized inputs.
    Returns the cached events (later sections reuse them) and the resolved
    rare mode."""
    from pyspark.sql import functions as F

    from bgp_feature_extractor_spark.functions.editdist import with_edit_distance
    from bgp_feature_extractor_spark.operators import rare
    from bgp_feature_extractor_spark.operators.aggregates import (
        aggregate_bins,
        fold_bin_aggregates,
    )
    from bgp_feature_extractor_spark.operators.asof import EVENT_COLS, classify_window
    from bgp_feature_extractor_spark.operators.binning import (
        dense_spine,
        first_ts_per_source,
        with_bin,
    )
    from bgp_feature_extractor_spark.operators.packing import lpt_assign

    m["sources.scan_s"] = tr.timed("layer.sources.scan", lambda: noop(wl.events_of(w, table)))
    with tr.span("prep.events"):
        ev = wl.events_of(w, table).cache()
        m["sources.events_in"] = ev.count()
    m["binning.firsts_s"] = tr.timed(
        "layer.binning.firsts", lambda: first_ts_per_source(ev).collect()
    )
    with tr.span("prep.firsts"):
        firsts = first_ts_per_source(ev).cache()
        sizes = [(r["source"], int(r["n_rows"])) for r in firsts.collect()]
    mode = rare.resolve_rare_mode(cfg, sizes)

    m["asof.classify_s"] = tr.timed(
        "layer.asof.classify", lambda: noop(classify_window(ev, None, cfg))
    )
    with tr.span("prep.classified"):
        cl = with_bin(classify_window(ev, None, cfg), firsts, cfg).cache()
        c = cl.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("prev_tokens").alias("compares"),
            F.count(F.when(F.col("tokens").isNotNull(), F.col("prev_tokens"))).alias("pairs"),
        ).collect()[0]
    m["asof.compare_frac"] = c["compares"] / c["n"]
    m["editdist.pairs"] = c["pairs"]
    m["editdist.udf_s"] = tr.timed(
        "layer.editdist.udf",
        lambda: noop(with_edit_distance(cl, "tokens", "prev_tokens")),
    )

    with tr.span("prep.binned"):
        dist = with_edit_distance(cl, "tokens", "prev_tokens").drop("prev_tokens").cache()
        raw = with_bin(ev.select(*EVENT_COLS), firsts, cfg).cache()
        dist.count()
        raw.count()
    kernels = {
        "exact": lambda: rare.rare_bin_aggregates_stream(raw, cfg, sizes=sizes),
        "dist": lambda: rare.rare_bin_aggregates_dist(raw, cfg),
        "block": lambda: rare.rare_bin_aggregates_block(raw, cfg),
        "fold": lambda: rare.rare_bin_aggregates(raw, cfg),
    }
    m["rare.kernel_s"] = tr.timed("layer.rare.kernel", lambda: noop(kernels[mode]()))
    is_ann = (F.col("kind") == "ann") & F.col("tokens").isNotNull()
    n_ann = raw.filter(is_ann).groupBy("source").count().collect()
    m["rare.gated_paths"] = sum(max(0, r["count"] - cfg.rare_block + 1) for r in n_ann)
    n_parts = max(1, min(len(sizes), 2 * spark.sparkContext.defaultParallelism))
    load = [0] * n_parts
    for src, part in lpt_assign(sizes, n_parts).items():
        load[part] += dict(sizes)[src]
    m["packing.max_over_mean"] = max(load) / (sum(load) / n_parts)

    m["aggregates.main_s"] = tr.timed(
        "layer.aggregates.main", lambda: noop(aggregate_bins(dist, cfg, slim=raw))
    )
    m["aggregates.fold_s"] = tr.timed(
        "layer.aggregates.fold", lambda: noop(fold_bin_aggregates(raw))
    )
    small = (
        raw.groupBy("source", "bin")
        .agg(
            F.count(F.when(F.col("kind") == "ann", 1)).alias("n_ann"),
            F.coalesce(F.max(F.when(F.col("kind") == "ann", F.size("tokens"))), F.lit(0)).alias(
                "max_len"
            ),
        )
        .agg(F.avg((F.col("n_ann") <= 2 * F.col("max_len") + 1).cast("double")))
        .collect()[0][0]
    )
    m["aggregates.small_bin_frac"] = small

    with tr.span("prep.per_bin"):
        per_bin = rare.join_rare(aggregate_bins(dist, cfg, slim=raw), kernels[mode]()).cache()
        groups = per_bin.count()
    m["aggregates.rows_per_group"] = m["sources.events_in"] / groups
    m["binning.spine_s"] = tr.timed(
        "layer.binning.spine", lambda: noop(dense_spine(per_bin, firsts, cfg))
    )
    spine_rows = sum(
        (r["last_ts"] - r["first_ts"]) // cfg.bin_size + 1 for r in firsts.collect()
    )
    m["binning.spine_rows"] = spine_rows
    m["binning.fill_frac"] = 1 - groups / spine_rows
    for df in (cl, dist, raw, per_bin):
        df.unpersist()
    return ev, mode


def multi_width_section(spark, tr: Tracer, ev, cfg, ev_pdf, sampled, m: dict, fail) -> None:
    """multi_width_matrices -> per-(width, source) interval ->
    labeled_ratio_dataset with padding; every width of one sampled source
    checked against the oracle, ratios recomputed, padding checked."""
    import numpy as np
    from pyspark.sql import functions as F

    from bgp_feature_extractor_spark.config import EngineConfig
    from bgp_feature_extractor_spark.operators.ratios import RATIO_DEFS
    from bgp_feature_extractor_spark.plans.feature_matrix import (
        REFERENCE_TIMESCALES,
        multi_width_matrices,
    )
    from bgp_feature_extractor_spark.plans.label_pipeline import labeled_ratio_dataset

    caches: list = []
    with tr.span("layer.multi_width.build") as rec:
        mw = multi_width_matrices(ev, None, cfg, caches=caches)
    m["multi_width.build_s"] = rec["seconds"]
    with tr.span("layer.multi_width.tail") as rec:
        mwc = mw.cache()
        n_mw = mwc.count()
    m["multi_width.tail_s"] = rec["seconds"]
    m["multi_width.exploded_rows"] = generate_rows(mwc)
    for df in caches:
        df.unpersist()

    with tr.span("prep.intervals"):
        iv = (
            mwc.groupBy("minutes_window", "source")
            .agg(F.min("timestamp2").alias("lo"), F.max("timestamp2").alias("hi"))
            .select(
                "minutes_window",
                "source",
                (F.col("lo") + (F.col("hi") - F.col("lo")) / 4).cast("long").alias("start_ts"),
                (F.col("hi") - (F.col("hi") - F.col("lo")) / 4).cast("long").alias("end_ts"),
                F.col("minutes_window").alias("label"),
            )
            .cache()
        )
        iv.count()
    lab = labeled_ratio_dataset(mwc, iv, cfg, keys=("minutes_window", "source"), pad=True)
    m["label_pipeline.label_s"] = tr.timed("layer.label_pipeline.label", lambda: noop(lab))
    n_lab = lab.count()
    m["label_pipeline.pad_rows"] = n_lab - n_mw

    with tr.span("check.multi_width"):
        src = sampled[0]
        got = (
            mwc.filter(F.col("source") == src)
            .withColumn("timestamp", F.unix_seconds("timestamp"))
            .toPandas()
        )
        for width in REFERENCE_TIMESCALES:
            wcfg = EngineConfig(minutes_window=width)
            want = wl.oracle_matrix(ev_pdf[ev_pdf["source"] == src], wcfg)
            fail(wl.compare(got[got["minutes_window"] == width], want, wcfg), f"width {width}")
        bad_pad = (
            lab.groupBy("minutes_window", "source").count().filter(F.col("count") % cfg.batch_size != 0).count()
        )
        fail(f"{bad_pad} (width, source) groups not padded" if bad_pad else None, "padding")
        lp = lab.filter(F.col("source") == src).toPandas()
        off = []
        for name, num, den in RATIO_DEFS:
            n, d = lp.eval(num).astype(float), lp.eval(den).astype(float)
            want = np.where(d != 0, n / d.where(d != 0, 1), 0.0)
            if not np.allclose(lp[name].astype(float), want, rtol=1e-9, atol=0):
                off.append(name)
        fail(f"{off} differ from RATIO_DEFS" if off else None, "ratios")
    for df in (mwc, iv):
        df.unpersist()


def checkpoint_section(
    spark, tr: Tracer, ev, cfg, work: Path, want, cold: list[str], m: dict, fail
) -> None:
    """Over a few sources' events (the section measures per-job fixed
    cost): killed after 1 of 2 bucket jobs, restarted to completion,
    restarted once more with nothing left. The resumed union must equal the
    one-shot feature matrix's rows for those sources (``want``)."""
    from pyspark.sql import functions as F

    from bgp_feature_extractor_spark.plans.incremental import checkpointed_feature_matrix
    from bgp_feature_extractor_spark.sources.checkpoint import CheckpointManager

    base = work / "checkpoint"
    mgr = CheckpointManager(str(base), n_buckets=CKPT_BUCKETS)
    sampled = sorted(want["source"].unique())
    # run_stage cannot read back a bucket group that wrote no rows, so every
    # bucket gets a source: the sampled ones plus a non-hot one per bucket
    # they leave empty
    buckets = {
        r["source"]: r["b"]
        for r in ev.select("source", mgr.bucket_col().alias("b")).distinct().collect()
    }
    chosen = set(sampled)
    for b in range(CKPT_BUCKETS):
        if b not in {buckets[s] for s in chosen}:
            chosen.add(min(s for s in cold if buckets.get(s) == b))
    part = ev.filter(F.col("source").isin(sorted(chosen)))

    def run(max_jobs=None):
        return checkpointed_feature_matrix(part, mgr, cfg, buckets_per_job=1, max_jobs=max_jobs)

    m["checkpoint.group_s"] = tr.timed("layer.checkpoint.group", lambda: run(max_jobs=1))
    with tr.span("layer.checkpoint.resume") as rec:
        resumed = wl.force(run(), sampled)["rows"]
    m["checkpoint.resume_s"] = rec["seconds"]
    fail(wl.compare(resumed, want, cfg), "resumed union vs one-shot matrix")
    before = mgr.lineage(spark).count()
    with tr.span("layer.checkpoint.noop_restart"):
        run()
    rework = mgr.lineage(spark).count() - before
    m["checkpoint.rework_buckets"] = rework
    fail(f"{rework} buckets redone" if rework else None, "rework")
    m["checkpoint.lineage_read_s"] = tr.timed(
        "layer.checkpoint.lineage_read", lambda: mgr.completed_buckets(spark, "feature_matrix")
    )
    m["checkpoint.bytes_written"] = sum(p.stat().st_size for p in base.rglob("*") if p.is_file())


def spark_metrics(eventlog: Path) -> dict[str, dict]:
    """Task metrics from Spark's event log, summed per job description."""
    stage_desc: dict[int, str] = {}
    per: dict[str, dict] = {}
    for line in eventlog.read_text().splitlines():
        if '"SparkListenerJobStart"' in line:
            e = json.loads(line)
            desc = (e.get("Properties") or {}).get("spark.job.description") or "(none)"
            for sid in e["Stage IDs"]:
                stage_desc.setdefault(sid, desc)
        elif '"SparkListenerTaskEnd"' in line:
            e = json.loads(line)
            d = per.setdefault(
                stage_desc.get(e["Stage ID"], "(none)"),
                {"shuffle_write_bytes": 0, "spill_bytes": 0, "failed_tasks": 0,
                 "task_cpu_s": 0.0, "gc_s": 0.0, "task_s": []},
            )
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            if info.get("Failed") or e["Task End Reason"]["Reason"] != "Success":
                d["failed_tasks"] += 1
            d["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1000)
            d["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            d["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            d["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            d["gc_s"] += tm.get("JVM GC Time", 0) / 1000
    return per


def merge(per: dict[str, dict], names: list[str]) -> dict:
    out = {"shuffle_write_bytes": 0, "spill_bytes": 0, "failed_tasks": 0, "task_cpu_s": 0.0, "gc_s": 0.0}
    tasks: list[float] = []
    for n in names:
        d = per.get(n)
        if d:
            for k in out:
                out[k] += d[k]
            tasks += d["task_s"]
    med = statistics.median(tasks) if tasks else 0.0
    out["max_over_median_task_s"] = max(tasks) / med if med else 0.0
    out["tasks"] = len(tasks)
    return out


def run_traced(sess, ledger) -> tuple[dict, dict]:
    from bgp_feature_extractor_spark.config import EngineConfig

    cfg = EngineConfig()
    w = sess.w
    m: dict[str, float] = {"session.launch_s": sess.launch_s}
    m["session.start_s"] = statistics.median(sess.setup() for _ in range(SETUPS))
    spark = sess.spark
    app_id = spark.sparkContext.applicationId
    tr = Tracer(spark)
    checker = wl.Checker(sess, cfg)

    def fail(reason: str | None, what: str) -> None:
        ledger.attempted += 1
        if reason:
            ledger.reject(f"{what}: {reason}")

    def untraced():
        return ledger.execute(lambda: wl.execute(sess, checker, cfg))

    def traced():
        with tr.span(FULL) as rec:
            with tr.span(f"{FULL}.plan_build") as pb:
                matrix = wl.build(w, sess.table, cfg)
            with tr.span(f"{FULL}.force"):
                out = wl.force(matrix, checker.sampled)
        ledger.attempted += 1
        return rec["seconds"], pb["seconds"], out

    cold = untraced()
    checker.prepare_oracle()
    # the traced execution next to one untraced one, in an order that
    # alternates with the seed, so the later one's extra warm-up does not
    # bias trace.overhead_s the same way on every run
    if sess.seed % 2:
        (full_s, build_s, traced_out), plain = traced(), untraced()
    else:
        plain = untraced()
        full_s, build_s, traced_out = traced()
    ledger.verify([cold, plain, traced_out], checker)
    if cold is None or plain is None:
        raise RuntimeError("an untraced execution failed: " + "; ".join(ledger.failures[:3]))
    m["feature_matrix.plan_build_s"] = build_s
    m["trace.overhead_s"] = full_s - plain["seconds"]

    ev, rare_mode = isolated_layers(spark, tr, w, sess.table, cfg, m)
    multi_width_section(spark, tr, ev, cfg, checker.events, checker.sampled, m, fail)
    checkpoint_section(
        spark, tr, ev, cfg, sess.work, traced_out["rows"], w.cold_sources(), m, fail
    )

    # Spark's event log is complete once its session stops
    sess.spark.stop()
    per = spark_metrics(sess.work / "eventlog" / app_id)
    full_spark = merge(per, [FULL, f"{FULL}.plan_build", f"{FULL}.force"])
    for k in ("shuffle_write_bytes", "spill_bytes", "failed_tasks", "task_cpu_s", "gc_s", "max_over_median_task_s"):
        m[f"spark.{k}"] = full_spark[k]

    tr.self_times()
    OUT.mkdir(exist_ok=True)
    trace = {
        "trace_id": tr.trace_id,
        "workload": w.name,
        "seed": sess.seed,
        "rare_mode": rare_mode,
        "spans": tr.spans,
        "spark_by_span": {k: merge(per, [k]) for k in per},
        "metrics": m,
        "sampled_sources": checker.sampled,
    }
    path = OUT / f"trace-{w.name}-s{sess.seed}.json"
    path.write_text(json.dumps(trace, indent=1, default=str))
    record = {"trace_file": str(path.relative_to(OUT.parent.parent)), "rare_mode": rare_mode}
    return {k: (v, UNITS[k]) for k, v in m.items()}, record


UNITS = {
    "session.launch_s": "s",
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.events_in": "count",
    "feature_matrix.plan_build_s": "s",
    "binning.firsts_s": "s",
    "asof.classify_s": "s",
    "asof.compare_frac": "ratio",
    "editdist.udf_s": "s",
    "editdist.pairs": "count",
    "rare.kernel_s": "s",
    "rare.gated_paths": "count",
    "packing.max_over_mean": "ratio",
    "aggregates.main_s": "s",
    "aggregates.rows_per_group": "ratio",
    "aggregates.fold_s": "s",
    "aggregates.small_bin_frac": "ratio",
    "binning.spine_s": "s",
    "binning.spine_rows": "count",
    "binning.fill_frac": "ratio",
    "multi_width.build_s": "s",
    "multi_width.tail_s": "s",
    "multi_width.exploded_rows": "count",
    "label_pipeline.label_s": "s",
    "label_pipeline.pad_rows": "count",
    "checkpoint.group_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.lineage_read_s": "s",
    "checkpoint.rework_buckets": "count",
    "checkpoint.bytes_written": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.max_over_median_task_s": "ratio",
    "trace.overhead_s": "s",
}
