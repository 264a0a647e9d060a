"""Deterministic co-location + LPT packing for per-key-sequential stages.

The rare stage (quirk Q5, reference bgpmetrics_as.py:601-628) is a
per-source sequential recurrence: each source's token stream must be
folded in order by one task. Task placement then IS the scheduling
problem — makespan is decided by how sources pack onto shuffle
partitions. Plain ``repartition(col)`` places by murmur3 hash, which
collides keys when the key count is near the partition count (20 sources
into 32 buckets collide w.p. > 0.99 → a 2-source task is a 2x straggler
wave); ``repartitionByRange`` is collision-free but pays a boundary-
sampling pass that re-executes the child plan.

This module instead *plans* the placement on the driver from the tiny
per-source stats aggregate the pipeline already computes (one row per
source), like an AQE rule:

1. :func:`lpt_assign` — greedy Longest-Processing-Time bin packing of
   sources onto ``n_parts`` slots using the known per-source row counts
   (LPT is a 4/3-approximation of optimal makespan; for skewed sources it
   overlaps small sources alongside the hot one instead of wasting slots).
2. :func:`injective_partition_tokens` — for each slot p, an int token x_p
   with ``pmod(murmur3(x_p), n_parts) == p`` (found with one tiny Spark
   job so the hash is bit-identical to HashPartitioning's murmur3 seed 42).
3. :func:`repartition_packed` — broadcast-join the source -> token table
   and ``repartition(n_parts, token)``: one ordinary hash shuffle whose
   placement is exactly the planned packing. No sampling pass, no
   collisions, deterministic across runs. The table is a JSON literal
   inlined inside the JVM (``session.literal_rows``), not
   ``createDataFrame(list)``, whose Python-RDD job would start a second
   Python worker pool. It stays a join: a literal map lookup in a
   projection scans the keys on every row, so its per-row cost grows with
   the number of sources.

At 10^12-row scale with 10^4+ sources the same path applies unchanged:
the stats aggregate is still one row per source, and the LPT plan keeps
every wave full even when source sizes span orders of magnitude.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bgp_feature_extractor_spark.session import literal_rows


def lpt_assign(sizes: list[tuple[str, int]], n_parts: int) -> dict[str, int]:
    """Greedy LPT: keys sorted by size desc, each assigned to the currently
    least-loaded slot. Ties broken by slot index for determinism."""
    import heapq

    heap = [(0, p) for p in range(n_parts)]
    heapq.heapify(heap)
    out: dict[str, int] = {}
    for key, size in sorted(sizes, key=lambda kv: (-kv[1], kv[0])):
        load, p = heapq.heappop(heap)
        out[key] = p
        heapq.heappush(heap, (load + max(int(size), 1), p))
    return out


_TOKEN_CACHE: dict[int, list[int]] = {}


def injective_partition_tokens(spark: SparkSession, n_parts: int) -> list[int]:
    """int token x_p per slot p with pmod(hash(x_p), n_parts) == p.

    Uses F.hash (murmur3, seed 42 — the same function HashPartitioning
    applies to an int32 shuffle key), so ``repartition(n_parts, lit(x_p))``
    provably lands in partition p. One Spark job over 64*n_parts candidate
    ints: P(slot unhit) ~ (1 - 1/n)^{64n} ~ e^-64 per slot. The mapping
    depends only on n_parts (murmur3 is fixed), so it is memoized
    process-wide — repeated plan builds pay zero extra jobs."""
    if n_parts in _TOKEN_CACHE:
        return _TOKEN_CACHE[n_parts]
    cand = spark.range(0, 64 * n_parts).select(
        F.col("id").cast("int").alias("x"),
        F.pmod(F.hash(F.col("id").cast("int")), F.lit(n_parts)).alias("p"),
    )
    rows = cand.groupBy("p").agg(F.min("x").alias("x")).collect()
    m = {r["p"]: r["x"] for r in rows}
    missing = [p for p in range(n_parts) if p not in m]
    if missing:  # astronomically unlikely; widen the candidate range
        raise RuntimeError(f"no hash token found for partitions {missing}")
    _TOKEN_CACHE[n_parts] = [m[p] for p in range(n_parts)]
    return _TOKEN_CACHE[n_parts]


def repartition_packed(
    df: DataFrame,
    key_col: str,
    sizes: list[tuple[str, int]],
    n_parts: int | None = None,
) -> DataFrame:
    """Shuffle ``df`` so each key lands wholly in its LPT-planned partition.

    ``sizes``: (key, weight) rows collected from a per-key stats aggregate
    (one row per key — plan metadata, not data). ``n_parts`` defaults to
    min(n_keys, 2 * defaultParallelism): full waves while keys are scarce,
    ~2 tasks/core for straggler resilience when keys are plentiful.

    Keys absent from ``sizes`` are NOT dropped (ADVICE r2: the former
    inner join silently lost rows for stale/partial caller stats): the
    join is a left join, and unmapped keys fall back to a hash-consistent
    partition token — the key still lands wholly in one partition, just
    without an LPT-planned slot."""
    spark = df.sparkSession
    if not sizes:
        return df.repartitionByRange(key_col)
    if n_parts is None:
        n_parts = max(1, min(len(sizes), 2 * spark.sparkContext.defaultParallelism))
    assign = lpt_assign(sizes, n_parts)
    tokens = injective_partition_tokens(spark, n_parts)
    key_type = df.schema[key_col].dataType.simpleString()
    dim = literal_rows(
        spark,
        [{key_col: k, "_pack_x": tokens[p]} for k, p in assign.items()],
        f"`{key_col}` {key_type}, _pack_x int",
    )
    fallback = F.element_at(
        F.array(*[F.lit(t) for t in tokens]),
        (F.pmod(F.hash(F.col(key_col)), F.lit(n_parts)) + 1).cast("int"),
    ).cast("int")
    return (
        df.join(F.broadcast(dim), key_col, "left")
        .withColumn("_pack_x", F.coalesce(F.col("_pack_x"), fallback))
        .repartition(n_parts, "_pack_x")
        .drop("_pack_x")
    )
