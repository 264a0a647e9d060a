"""Per-partition checkpoint / lineage / resume (north_rule requirement;
reference analog: the RIB pickle memo, bgpmetrics_as.py:296-298,336 — here
generalized to partition-granular stage checkpointing).

Model: a stage's input is hash-bucketed on a partition key (default
``source``) into ``n_buckets``. Buckets are processed in groups; after each
group commits, one lineage row per bucket (stage, bucket, row_count,
status, wall_ms) is appended to the lineage table. A restarted job anti-
joins the lineage and recomputes only missing buckets, then serves the
union of all committed bucket outputs.

Storage is plain parquet directories (an Iceberg catalog is not available
in this image; the layout — data partitioned by bucket + an append-only
lineage log — is exactly what an Iceberg table with a bucket partition
spec would give). `sources/iceberg.py:write_table` upgrades the same
calls to real Iceberg tables when the runtime jar + catalog are present.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bgp_feature_extractor_spark.session import literal_rows

_LINEAGE_DDL = "stage string, bucket int, row_count bigint, status string, wall_ms bigint"


class CheckpointManager:
    def __init__(self, base_path: str, n_buckets: int = 32):
        self.base = base_path.rstrip("/")
        self.n_buckets = n_buckets

    # -- lineage -----------------------------------------------------------
    def _lineage_path(self) -> str:
        return f"{self.base}/_lineage"

    def lineage(self, spark: SparkSession) -> DataFrame:
        p = self._lineage_path()
        if not os.path.isdir(p):
            return literal_rows(spark, [], _LINEAGE_DDL)
        return spark.read.parquet(p)

    def completed_buckets(self, spark: SparkSession, stage: str) -> set[int]:
        rows = (
            self.lineage(spark)
            .filter((F.col("stage") == stage) & (F.col("status") == "done"))
            .select("bucket")
            .distinct()
            .collect()
        )
        return {r["bucket"] for r in rows}

    def _append_lineage(self, spark: SparkSession, rows: list[dict]) -> None:
        literal_rows(spark, rows, _LINEAGE_DDL).write.mode("append").parquet(self._lineage_path())

    # -- stage execution ----------------------------------------------------
    def bucket_col(self, key_col: str = "source"):
        return F.pmod(F.xxhash64(F.col(key_col)), F.lit(self.n_buckets)).cast("int")

    def run_stage(
        self,
        stage: str,
        input_df: DataFrame,
        transform,
        key_col: str = "source",
        buckets_per_job: int | None = None,
        max_jobs: int | None = None,
    ) -> DataFrame:
        """Run ``transform(bucket_subset_df)`` for every not-yet-committed
        bucket group, appending results + lineage. Returns the full stage
        output (committed + newly computed). ``max_jobs`` exists for tests
        that simulate a kill between groups."""
        spark = input_df.sparkSession
        data_path = f"{self.base}/{stage}"
        done = self.completed_buckets(spark, stage)
        todo = [b for b in range(self.n_buckets) if b not in done]
        group = buckets_per_job or len(todo) or 1
        tagged = input_df.withColumn("_bucket", self.bucket_col(key_col))

        def bucketed_output(df: DataFrame) -> DataFrame:
            return transform(df).withColumn("_bucket", self.bucket_col(key_col))

        # the data path is read with the transform's schema, never inferred:
        # a bucket group holding none of the input's keys writes no files,
        # and schema inference over a path with no files raises
        schema = None
        jobs = 0
        for i in range(0, len(todo), group):
            if max_jobs is not None and jobs >= max_jobs:
                break
            chunk = todo[i : i + group]
            t0 = time.perf_counter()
            out = bucketed_output(tagged.filter(F.col("_bucket").isin(chunk)).drop("_bucket"))
            schema = out.schema
            out.write.mode("append").partitionBy("_bucket").parquet(data_path)
            wall = int((time.perf_counter() - t0) * 1000)
            # per-bucket row counts for the lineage metrics
            counts = {
                r["_bucket"]: r["n"]
                for r in spark.read.schema(schema)
                .parquet(data_path)
                .filter(F.col("_bucket").isin(chunk))
                .groupBy("_bucket")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            done_row = dict(stage=stage, status="done", wall_ms=wall)
            self._append_lineage(
                spark, [dict(done_row, bucket=b, row_count=counts.get(b, 0)) for b in chunk]
            )
            jobs += 1
        if not os.path.isdir(data_path):
            return transform(input_df.limit(0))
        if schema is None:
            schema = bucketed_output(input_df.limit(0)).schema
        done_now = self.completed_buckets(spark, stage)
        return (
            spark.read.schema(schema)
            .parquet(data_path)
            .filter(F.col("_bucket").isin(list(done_now)))
            .drop("_bucket")
        )

    def stage_metrics(self, spark: SparkSession, stage: str) -> DataFrame:
        return self.lineage(spark).filter(F.col("stage") == stage)
