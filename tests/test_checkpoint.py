"""Resume test (SURVEY §5.5): kill after k bucket groups, restart, verify
identical output and that completed buckets are skipped."""

from __future__ import annotations

import pandas as pd
import pytest

from bgp_feature_extractor_spark.config import EngineConfig
from bgp_feature_extractor_spark.oracle import make_events_updates
from bgp_feature_extractor_spark.plans.feature_matrix import feature_matrix
from bgp_feature_extractor_spark.sources.checkpoint import CheckpointManager
from tests.conftest import events_sdf

CFG = EngineConfig()


@pytest.fixture()
def base(tmp_path):
    return str(tmp_path / "ckpt")


def _transform(df):
    return feature_matrix(df, None, CFG)


def test_resume_skips_completed_buckets(spark, base):
    ev = events_sdf(spark, make_events_updates(n_events=1500, n_sources=6))
    cm = CheckpointManager(base, n_buckets=8)

    # single-shot reference result
    want = feature_matrix(ev, None, CFG).toPandas()

    # first run "killed" after 2 bucket groups of 2
    partial = cm.run_stage("matrix", ev, _transform, buckets_per_job=2, max_jobs=2)
    n_partial = partial.count()
    done_after_kill = cm.completed_buckets(spark, "matrix")
    assert 0 < len(done_after_kill) <= 4

    # restart: finishes only the remaining buckets
    full = cm.run_stage("matrix", ev, _transform, buckets_per_job=2)
    done = cm.completed_buckets(spark, "matrix")
    assert len(done) == 8
    got = full.toPandas()
    assert n_partial < len(got)

    key = ["source", "bin"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want)
    assert (got["announcements"].values == want["announcements"].values).all()
    assert (got["news"].values == want["news"].values).all()

    # lineage metrics: every bucket has a done row with a row count
    lin = cm.stage_metrics(spark, "matrix").toPandas()
    assert set(lin["bucket"]) == set(range(8))
    assert (lin["status"] == "done").all()
    assert lin["row_count"].sum() == len(got)

    # a third run is a no-op (no new lineage rows)
    again = cm.run_stage("matrix", ev, _transform)
    assert again.count() == len(got)
    assert len(cm.lineage(spark).collect()) == len(lin)


def test_empty_buckets_complete_and_match_one_shot(spark, base):
    """More buckets than sources, one bucket per job: groups that hold none
    of the input's sources write no files, and the stage must still read
    its output back (with the transform's schema), record every bucket as
    done and return exactly the one-shot matrix."""
    ev = events_sdf(spark, make_events_updates(n_events=600, n_sources=2))
    cm = CheckpointManager(base, n_buckets=8)
    used = {r[0] for r in ev.select(cm.bucket_col()).distinct().collect()}
    assert 0 not in used and len(used) < 8  # the first group is empty

    got = cm.run_stage("matrix", ev, _transform, buckets_per_job=1).toPandas()

    lin = cm.stage_metrics(spark, "matrix").toPandas()
    assert sorted(lin["bucket"]) == list(range(8))
    assert (lin["status"] == "done").all()
    assert lin["row_count"].sum() == len(got)

    want = feature_matrix(ev, None, CFG).toPandas()
    key = ["source", "bin"]
    got = got[want.columns].sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
