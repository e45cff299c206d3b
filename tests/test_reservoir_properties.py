"""Property-based tests for ReservoirState — the invariants the reference
asserts with DCHECKs (median.h:56-63) plus the upstream-test gaps listed in
SURVEY §5 (saturation, unequal-partial merges, ratchet, upper-median rule),
checked over generated inputs instead of two hand-picked cases."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from reservoir_spec import ReservoirState

finite = st.floats(allow_nan=False, allow_infinity=False, width=64)
value_lists = st.lists(finite, min_size=0, max_size=400)


def upper_median(vals: list[float]) -> float | None:
    if not vals:
        return None
    return float(np.sort(np.asarray(vals, dtype=np.float64))[len(vals) // 2])


@given(value_lists, st.integers(1, 50))
@settings(max_examples=200, deadline=None)
def test_state_always_bounded(vals, k):
    st_ = ReservoirState(k)
    st_.update(np.asarray(vals, dtype=np.float64))
    assert st_.vals.size <= k
    assert st_.source_size == len(vals)


@given(value_lists, st.integers(0, 300))
@settings(max_examples=200, deadline=None)
def test_exact_upper_median_when_unsaturated(vals, extra_capacity):
    k = len(vals) + extra_capacity + 1
    st_ = ReservoirState(k)
    st_.update(np.asarray(vals, dtype=np.float64))
    assert st_.finalize() == upper_median(vals)


@given(value_lists, value_lists)
@settings(max_examples=200, deadline=None)
def test_merge_of_unsaturated_partials_is_exact(a, b):
    """The serialize→merge path (median.cc:165-282) must lose nothing while
    both partials fit: merged finalize == upper median of the concatenation."""
    k = len(a) + len(b) + 1
    sa, sb = ReservoirState(k), ReservoirState(k, seed=7)
    sa.update(np.asarray(a, dtype=np.float64))
    sb.update(np.asarray(b, dtype=np.float64))
    sa.assign_keys()
    sb.assign_keys()
    sa.merge(sb)
    assert sa.source_size == len(a) + len(b)
    assert sa.finalize() == upper_median(a + b)


@given(value_lists, st.integers(1, 20), st.integers(1, 20))
@settings(max_examples=200, deadline=None)
def test_max_samples_ratchets_up_never_down(vals, k1, k2):
    st_ = ReservoirState(k1)
    st_.update(np.asarray(vals, dtype=np.float64), max_samples=k2)
    assert st_.max_samples == max(k1, k2)  # median.cc:157-162
    st_.update(np.empty(0), max_samples=1)
    assert st_.max_samples == max(k1, k2)  # never shrinks


@given(value_lists, st.integers(1, 30))
@settings(max_examples=200, deadline=None)
def test_nan_skipped_like_null(vals, k):
    """NaN plays SQL NULL here (median.cc:130): interleaving NaNs must not
    change source_size semantics or the (unsaturated) result."""
    with_nans: list[float] = []
    for v in vals:
        with_nans.extend([float("nan"), v])
    with_nans.append(float("nan"))
    k_big = len(vals) + 1
    st_ = ReservoirState(k_big)
    st_.update(np.asarray(with_nans, dtype=np.float64))
    assert st_.source_size == len(vals)
    assert st_.finalize() == upper_median(vals)


@given(st.lists(finite, min_size=60, max_size=200), st.integers(5, 20))
@settings(max_examples=100, deadline=None)
def test_saturated_sample_is_subset_without_replacement(vals, k):
    st_ = ReservoirState(k)
    st_.update(np.asarray(vals, dtype=np.float64))
    assert st_.vals.size == k
    remaining = sorted(vals)
    for s in st_.sample_values():
        # every sampled value is an input value, with multiplicity respected
        import bisect

        i = bisect.bisect_left(remaining, s)
        assert i < len(remaining) and remaining[i] == s
        remaining.pop(i)


# --- Misra-Gries candidate guarantee (operators/frequency.py) ---------------

from collections import Counter

from rocana_impala_udfs_spark.operators.frequency import _mg_reduce


@given(
    st.lists(st.integers(0, 20), min_size=1, max_size=600),
    st.integers(1, 8),
    st.integers(2, 12),
)
@settings(max_examples=300, deadline=None)
def test_misra_gries_never_misses_a_heavy_hitter(vals, n_parts, m):
    """Union of per-partition MG summaries must contain every value whose
    GLOBAL count exceeds N/m — the guarantee heavy_hitters' exactness rests
    on, for any data, any partitioning, any summary width."""
    parts = [vals[i::n_parts] for i in range(n_parts)]
    candidates: set[int] = set()
    for part in parts:
        counters: dict = {}
        # same batch-merge + reduce path as the executor code
        for v, c in Counter(part).items():
            counters[v] = counters.get(v, 0) + c
        counters = _mg_reduce(counters, m)
        candidates |= set(counters)
    total = Counter(vals)
    for v, c in total.items():
        if c > len(vals) / m:
            assert v in candidates, f"missed heavy hitter {v} ({c}/{len(vals)})"
