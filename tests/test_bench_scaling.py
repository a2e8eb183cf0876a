"""bench.py's scaling pair comes from the process's affinity mask: a leg
larger than the mask would run local[hi] on fewer CPUs while reporting hi
cores. Pure arithmetic, no Spark."""

from __future__ import annotations

import pytest

from bench import scaling_pair


@pytest.mark.parametrize(
    ("allowed", "pair"),
    [(2, (1, 2)), (3, (1, 3)), (4, (1, 4)), (8, (2, 8)), (32, (2, 8))],
)
def test_default_pair_fits_the_mask(allowed, pair):
    assert scaling_pair(allowed, {}) == pair


def test_overrides_within_the_mask():
    assert scaling_pair(8, {"SPARK_GRAFT_SCALING_LO": "1"}) == (1, 4)
    assert scaling_pair(4, {"SPARK_GRAFT_SCALING_LO": "2"}) == (2, 4)
    assert scaling_pair(32, {"SPARK_GRAFT_SCALING_HI": "32"}) == (2, 32)


def test_hi_beyond_the_mask_raises():
    with pytest.raises(ValueError, match="exceeds the 4 CPUs"):
        scaling_pair(4, {"SPARK_GRAFT_SCALING_HI": "8"})


@pytest.mark.parametrize(
    ("allowed", "env"),
    [(1, {}), (4, {"SPARK_GRAFT_SCALING_LO": "4"}), (4, {"SPARK_GRAFT_SCALING_LO": "0"})],
)
def test_degenerate_pair_raises(allowed, env):
    with pytest.raises(ValueError, match="needs 1 <= lo < hi"):
        scaling_pair(allowed, env)
