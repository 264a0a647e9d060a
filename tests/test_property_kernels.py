"""Property tests for the engine's kernels against plain-Python oracles:

* the JVM edit distance (functions/editdist.py) == the reference's
  pure-Python DP (oracle.reference_oracle.levenshtein;
  bgpmetrics_as.py:77-102 semantics: unit-cost edit distance) over one
  DataFrame of generated pairs including null/empty rows and the ids at
  the code-point encoding's boundaries;
* rare_counts_from_flat == rare_counts_loop (the dict-loop transliteration
  of the reference control flow) on random token streams across random
  block sizes — the vectorized decomposition (occurrence index /
  block-boundary thresholds / gate) must be exact for ANY stream, not
  just the fixture seeds in test_rare_kernel.py.
"""

from __future__ import annotations

import random

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bgp_feature_extractor_spark.functions.editdist import with_edit_distance
from bgp_feature_extractor_spark.operators.rare import (
    rare_counts_exact,
    rare_counts_loop,
)
from bgp_feature_extractor_spark.oracle.reference_oracle import levenshtein

# ids either side of the surrogate skip and the range's end, and the ids
# encoded as U+FEFF and U+FFFE (byte-order marks when they lead a UTF-32
# string: 0xF6FF + 0x800, 0xF7FE + 0x800)
BOM_IDS = [0xF6FF, 0xF7FE]
BOUNDARY_IDS = [0xD7FF, 0xD800, 0xDFFF, 0x10F7FF, *BOM_IDS, 0xFFFF, 0x10000]
ALPHABET = [0, 1, 2, 3, 4] + BOUNDARY_IDS
PAIR_DDL = "a array<int>, b array<int>"


def test_jvm_levenshtein_matches_reference_dp(spark):
    rng = random.Random(20260418)

    def tokens():
        r = rng.random()
        if r < 0.1:
            return None
        if r < 0.2:
            return []
        return [rng.choice(ALPHABET) for _ in range(rng.randint(1, 12))]

    pairs = [(tokens(), tokens()) for _ in range(3000)]
    pairs += [([t], [t]) for t in BOUNDARY_IDS] + [([t], [t + 1]) for t in BOUNDARY_IDS[:3]]
    pairs += [([t, 5], [5]) for t in BOM_IDS] + [([t], []) for t in BOM_IDS]
    pairs += [(None, [1]), ([1], None), (None, None), ([], [])]
    df = spark.createDataFrame([(i, a, b) for i, (a, b) in enumerate(pairs)], f"i int, {PAIR_DDL}")
    got = {r["i"]: r["edit_dist"] for r in with_edit_distance(df, "a", "b").collect()}
    for i, (a, b) in enumerate(pairs):
        want = None if a is None or b is None else levenshtein(a, b)
        assert got[i] == want, (a, b, got[i], want)


@pytest.mark.parametrize("bad", [0x10F800, -1, None])
def test_jvm_levenshtein_rejects_ids_outside_code_point_range(spark, bad):
    df = spark.createDataFrame([([1, bad], [1])], PAIR_DDL)
    with pytest.raises(Exception, match=r"\[0, 0x10F7FF\]"):
        with_edit_distance(df, "a", "b").select(F.col("edit_dist")).collect()


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=6), max_size=6), max_size=40
    ),
    st.integers(min_value=2, max_value=12),
)
def test_rare_kernel_matches_loop_transliteration(paths, block):
    # kernel contract: per-path UNIQUE tokens in arrival order
    upaths = [list(dict.fromkeys(p)) for p in paths]
    rare_v, gate_v = rare_counts_exact(
        [np.array(p, dtype=np.int64) for p in upaths], block=block, pctile=20.0
    )
    rare_l, gate_l = rare_counts_loop(upaths, block=block, pctile=20.0)
    np.testing.assert_array_equal(rare_v, rare_l)
    np.testing.assert_array_equal(gate_v, gate_l)
