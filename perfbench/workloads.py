"""Workload inputs, the timed pipeline and its output checks.

Inputs are made by the engine's seeded generator
(``sources.synth.synth_events``) and cached as parquet under
``perfbench/.cache/<workload>-s<seed>-n<rows>-g<generator hash>/``; the
engine is handed only those tables.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, replace
from pathlib import Path

import numpy as np
import pandas as pd

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CACHE = HERE / ".cache"
# input generation: a JVM launch plus a few seconds of work
GEN_TIMEOUT_S = 120

# Sampled sources are checked against the pandas reference oracle; both
# must be past the rare-AS warm-up gate (cfg.rare_block paths) so the rare
# recurrence's thresholds are exercised, and small enough that the
# single-threaded oracle stays a few seconds per run.
N_SAMPLED = 2


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int
    n_sources: int

    def cold_sources(self) -> list[str]:
        """Every source but the generator's hot one (src0)."""
        return [f"src{i}" for i in range(1, self.n_sources)]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "updates_skewed",
            60_000,
            20,
        ),
        Workload(
            "corpus_dense",
            80_000,
            64,
        ),
    )
}


@dataclass(frozen=True)
class _Gen:
    kwargs: dict
    corpus: bool


def _gen_args(w: Workload, seed: int) -> _Gen:
    if w.name == "updates_skewed":
        # entities scaled with the row count (the generator's 5000 per
        # source is sized for 1M rows) so each entity still recurs ~10 times
        # and most announcements compare against a prior state
        return _Gen(dict(n_rows=w.rows, entities_per_source=300, seed=seed), False)
    # the BASELINE input_hint table (doc_id, tokens, n_tok, source, seq):
    # announcements only, near-uniform sources (src0 1%, the rest equal; each
    # past the 1000-path rare gate), doc ids drawn from 2^31 per source
    # (almost all unique), seq = position within its source so the adapter's
    # ts = seq gives ~60 rows per 1-minute bin
    return _Gen(
        dict(
            n_rows=w.rows,
            n_sources=w.n_sources,
            entities_per_source=1 << 31,
            wd_pct=0,
            hot_pct=1,
            seed=seed,
        ),
        True,
    )


def generate(spark, w: Workload, seed: int):
    """The workload's table, from the engine's own ``synth_events``."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bgp_feature_extractor_spark.sources.synth import synth_events

    g = _gen_args(w, seed)
    ev = synth_events(spark, **g.kwargs)
    if not g.corpus:
        return ev
    pos = F.row_number().over(Window.partitionBy("source").orderBy("seq")) - 1
    return ev.select(
        "doc_id",
        "tokens",
        F.size("tokens").alias("n_tok"),
        "source",
        pos.cast("long").alias("seq"),
    )


def generator_version() -> str:
    """Hash of the generator's source and of this file (which holds its
    arguments), so a changed generator never reuses stale cached rows."""
    h = hashlib.sha256()
    for p in (ROOT / "bgp_feature_extractor_spark" / "sources" / "synth.py", Path(__file__)):
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def input_path(w: Workload, seed: int) -> Path:
    return CACHE / f"{w.name}-s{seed}-n{w.rows}-g{generator_version()}"


class InputJob:
    """The workload's table, made once per (workload, seed, rows,
    generator). On a cache miss a child process makes it in a JVM of its
    own, which has exited before this run's first execution, so that
    execution follows no other JVM work; it runs while the caller launches
    the run's JVM."""

    def __init__(self, w: Workload, seed: int, work: Path):
        self.path = input_path(w, seed)
        self.seconds = 0.0
        self.proc = None
        if (self.path / "_SUCCESS").exists():
            return
        self.tmp = self.path.with_name(self.path.name + ".tmp")
        shutil.rmtree(self.tmp, ignore_errors=True)
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, __file__, w.name, str(w.rows), str(seed), str(self.tmp), str(work / "gen")],
            stdout=sys.stderr,
            start_new_session=True,
        )

    def wait(self) -> Path:
        if self.proc is None:
            return self.path
        try:
            code = self.proc.wait(timeout=GEN_TIMEOUT_S)
        finally:
            self.kill()
        if code != 0:
            raise RuntimeError(f"input generation exited with code {code}")
        self.seconds = time.perf_counter() - self.t0
        shutil.rmtree(self.path, ignore_errors=True)
        self.tmp.rename(self.path)
        return self.path

    def kill(self) -> None:
        """End the child process and its JVM, if running, and wait until
        the child has exited."""
        if self.proc is not None:
            if self.proc.poll() is None:
                os.killpg(self.proc.pid, signal.SIGKILL)
            self.proc.wait()
            self.proc = None


def write_input(w: Workload, seed: int, out: Path, work: Path, files: int = 8) -> None:
    """Child process of ``InputJob``: the table as ``files`` parquet
    files of contiguous rows (the scan's parallelism)."""
    import pyarrow.parquet as pq

    import spark_host

    spark_host.configure_env(work)
    spark = spark_host.start(spark_host.host_cores(), work)
    try:
        table = generate(spark, w, seed).toArrow()
    finally:
        spark_host.shutdown(spark)
    key = ["source", "seq"] if _gen_args(w, seed).corpus else ["seq"]
    table = table.sort_by([(k, "ascending") for k in key])
    out.mkdir(parents=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), out / f"part-{i:05d}.parquet")
    (out / "_SUCCESS").touch()


def open_table(spark, path: Path):
    return spark.read.parquet(str(path))


def events_of(w: Workload, table):
    """The engine's event stream for the workload (the corpus table goes
    through the engine's own adapter)."""
    if w.name == "corpus_dense":
        from bgp_feature_extractor_spark.sources.adapters import sequences_to_events

        return sequences_to_events(table)
    return table


def build(w: Workload, table, cfg):
    """The timed pipeline: from the input table to the lazy feature matrix.
    The call itself runs the engine's eager per-source stats collect."""
    from bgp_feature_extractor_spark.plans.feature_matrix import feature_matrix

    return feature_matrix(events_of(w, table), None, cfg)


# --- forcing + checking -----------------------------------------------------


def _hashable(df, exact: bool) -> list:
    """Every column in a hashable, comparable form: timestamps as epoch
    seconds, maps as entry arrays, and (unless ``exact``) floats rounded to
    6 decimals so summation order cannot change a digest."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    out = []
    for f in df.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, T.TimestampType):
            c = F.unix_seconds(c)
        elif isinstance(f.dataType, T.MapType):
            c = F.map_entries(c)
        elif isinstance(f.dataType, (T.DoubleType, T.FloatType)) and not exact:
            c = F.round(c, 6)
        out.append(c.alias(f.name))
    return out


def _digest(cols):
    from pyspark.sql import functions as F

    return F.count(F.lit(1)).alias("n"), F.sum(F.pmod(F.xxhash64(*cols), F.lit(1 << 32))).alias("h")


def force(df, sampled: list[str]) -> dict:
    """Execute the whole plan in one action that returns an
    order-independent digest of the output (every column feeds the hash, so
    nothing is pruned) and the exact rows of the sampled sources."""
    from pyspark.sql import functions as F

    row = F.when(F.col("source").isin(sampled), F.struct(*_hashable(df, exact=True)))
    r = (
        df.select(*_hashable(df, exact=False), row.alias("_r"))
        .agg(*_digest([F.col(c) for c in df.columns]), F.collect_list("_r").alias("rows"))
        .collect()[0]
    )
    rows = pd.DataFrame([x.asDict() for x in r["rows"]], columns=df.columns)
    return {"digest": [int(r["n"]), int(r["h"] or 0)], "rows": rows}


def pick_sources(w: Workload, seed: int) -> list[str]:
    """Seeded sample of non-hot sources. At these sizes every one of them
    carries more than cfg.rare_block announcements (checked by
    ``sampled_events``), so the rare recurrence's thresholds are live."""
    return sorted(random.Random(seed).sample(w.cold_sources(), N_SAMPLED))


def sampled_events(events, sampled: list[str], cfg) -> pd.DataFrame:
    from pyspark.sql import functions as F

    pdf = events.filter(F.col("source").isin(sampled)).toPandas()
    n_ann = pdf[pdf["kind"] == "ann"].groupby("source").size()
    if len(n_ann) != len(sampled) or (n_ann <= cfg.rare_block).any():
        raise RuntimeError(f"sampled sources not past the rare gate: {n_ann.to_dict()}")
    pdf["origin"] = pdf["origin"].astype(object).where(pdf["origin"].notna(), None)
    pdf["attrs_sig"] = [dict(m) if m is not None else None for m in pdf["attrs_sig"]]
    pdf["tokens"] = [list(t) if t is not None else None for t in pdf["tokens"]]
    return pdf


def oracle_matrix(ev: pd.DataFrame, cfg) -> pd.DataFrame:
    from bgp_feature_extractor_spark.oracle import ReferenceOracle

    want = ReferenceOracle(cfg).run(ev)
    want["timestamp"] = pd.to_datetime(want["timestamp"]).astype("int64") // 10**9
    return want


def compare(got: pd.DataFrame, want: pd.DataFrame, cfg) -> str | None:
    """None when the engine's rows equal the oracle's (allclose, rtol 1e-9),
    else a one-line reason."""
    from bgp_feature_extractor_spark.config import golden_columns

    key = ["source", "bin"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    if len(got) != len(want):
        return f"row count {len(got)} != oracle {len(want)}"
    if not (got[key].values == want[key].values).all():
        return "(source, bin) keys differ from the oracle"
    for col in golden_columns(cfg):
        g = np.asarray(got[col], dtype=np.float64)
        w = np.asarray(want[col], dtype=np.float64)
        if not np.allclose(g, w, rtol=1e-9, atol=0):
            return f"column {col} differs from the oracle"
    return None


def check_digest(w: Workload, seed: int, digest: list[int]) -> str | None:
    """The digest of one seed's output must never change between runs: the
    first run stores it beside the cached input, later runs compare."""
    path = input_path(w, seed) / "_digest_feature_matrix.json"
    if path.exists():
        want = json.loads(path.read_text())
        return None if want == digest else f"digest {digest} != stored {want}"
    path.write_text(json.dumps(digest))
    return None


# --- one checked execution --------------------------------------------------


class Ledger:
    """Executions attempted, executions failed, and why."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def execute(self, fn):
        """Run one execution; an exception fails it."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - every failure is counted, none hidden
            self.reject(f"{type(e).__name__}: {e}")
            return None

    def reject(self, reason: str) -> None:
        """Fail a completed execution whose output check did not pass."""
        self.failed += 1
        self.failures.append(reason[:300])

    def verify(self, results: list, check) -> None:
        for r in results:
            if r is not None:
                reason = check(r)
                if reason:
                    self.reject(reason)


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


class Checker:
    """Checks one execution's output: the sampled sources against the pandas
    reference oracle, and the digest against every other execution of this
    seed (this run's and, through the input cache, earlier runs')."""

    def __init__(self, sess, cfg):
        self.w, self.seed, self.cfg = sess.w, sess.seed, cfg
        self.sampled = pick_sources(sess.w, sess.seed)
        self.sess = sess
        self.events = None
        self.want = None
        self.digest = None

    def prepare_oracle(self) -> None:
        events = events_of(self.w, self.sess.table)
        self.events = sampled_events(events, self.sampled, self.cfg)
        self.want = oracle_matrix(self.events, self.cfg)

    def __call__(self, result: dict) -> str | None:
        if self.digest is None:
            self.digest = result["digest"]
            reason = check_digest(self.w, self.seed, self.digest)
            if reason:
                return reason
        elif result["digest"] != self.digest:
            return f"digest {result['digest']} != first execution's {self.digest}"
        return compare(result["rows"], self.want, self.cfg)


def execute(sess, checker: Checker, cfg) -> dict:
    """One timed execution: call the pipeline, force its whole output."""
    t0 = time.perf_counter()
    matrix = build(sess.w, sess.table, cfg)
    t1 = time.perf_counter()
    out = force(matrix, checker.sampled)
    out["seconds"] = time.perf_counter() - t0
    out["build_s"] = t1 - t0
    return out


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    name, rows, seed, out, work = sys.argv[1:]
    w = replace(WORKLOADS[name], rows=int(rows))
    write_input(w, int(seed), Path(out), Path(work))
