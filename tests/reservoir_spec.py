"""The reference's reservoir protocol as a plain Python object — the
executable spec the property tests check.

``ReservoirState`` follows ``median.cc`` phase by phase (update, serialize
keying, key-weighted merge, upper-median finalize). The package itself
runs every reservoir on the JVM ``ReservoirAggregator``
(``rocana_impala_udfs_spark/jvm/src``); this copy lives with the tests so
the invariants can be checked over generated inputs, with a seeded RNG,
without a Spark session.

Randomness: numpy's PCG64 with a fixed default seed, so test runs are
reproducible. The result is exact whenever ``n <= max_samples``.
"""

from __future__ import annotations

import numpy as np

DEFAULT_SEED = 42


class ReservoirState:
    """Weighted reservoir-sampling aggregation state.

    Port of ``ReservoirSampleState<DoubleVal>`` (reference ``median.cc:88-111``):
    bounded sample buffer, ``source_size`` row counter, and weight keys in
    ``[0, 1]`` (``-1`` = not yet assigned, ``median.cc:58-59``). Spark/Arrow
    handle serialization, so the reference's manual buffer management
    (``median.cc:113-115, 138-141``) has no equivalent here — only the
    semantic content survives.
    """

    __slots__ = ("vals", "keys", "max_samples", "source_size", "rng")

    def __init__(self, max_samples: int, seed: int = DEFAULT_SEED):
        if max_samples <= 0:
            raise ValueError("max_samples must be positive")
        self.vals: np.ndarray = np.empty(0, dtype=np.float64)
        self.keys: np.ndarray = np.empty(0, dtype=np.float64)  # -1 => unkeyed
        self.max_samples = int(max_samples)
        self.source_size = 0
        self.rng = np.random.default_rng(seed)

    # -- update: Algorithm-R accumulate (median.cc:128-163) -----------------

    def update(
        self,
        values: np.ndarray,
        max_samples: int | None = None,
        null_mask: np.ndarray | None = None,
    ) -> None:
        """Absorb a batch of non-null values (vectorized Algorithm R).

        The first ``max_samples`` values fill the reservoir
        (``median.cc:149-150``); after saturation, the *i*-th observed value
        replaces a uniformly random slot with probability ``max_samples / i``
        (``median.cc:151-153``). ``max_samples`` ratchets up, never down
        (``median.cc:157-162``).

        NULL skip (``median.cc:130``): when ``null_mask`` is given (True =
        SQL NULL) only genuine NULLs are dropped and NaN *data* values are
        sampled like any double — exactly the reference (which skips only
        ``is_null``, ``median.cc:130-131``) and the JVM Aggregator
        (``ReservoirAggregator.java``, ``Double.compare`` total order, NaN
        sorts last — as does ``np.sort``). Without a mask all NaN are
        dropped, the fallback ``test_reservoir_properties.py`` pins.
        """
        if max_samples is not None and int(max_samples) > self.max_samples:
            self.max_samples = int(max_samples)
        values = np.asarray(values, dtype=np.float64)
        if null_mask is not None:
            values = values[~np.asarray(null_mask, dtype=bool)]
        else:
            values = values[~np.isnan(values)]
        if values.size == 0:
            return
        k = self.max_samples
        pos = 0
        if self.vals.size < k:
            take = min(k - self.vals.size, values.size)
            self.vals = np.concatenate([self.vals, values[:take]])
            self.keys = np.concatenate([self.keys, np.full(take, -1.0)])
            self.source_size += take
            pos = take
        rest = values[pos:]
        if rest.size:
            # Row indices (1-based stream position) for the remaining values.
            idx = self.source_size + 1 + np.arange(rest.size, dtype=np.int64)
            accept = self.rng.integers(0, idx) < k  # P(accept) = k / i
            hit = np.nonzero(accept)[0]
            if hit.size:
                slots = self.rng.integers(0, k, size=hit.size)
                # Sequential semantics: later rows overwrite earlier ones.
                self.vals[slots] = rest[hit]
                self.keys[slots] = -1.0
            self.source_size += int(rest.size)

    # -- serialize: assign weight keys (median.cc:165-194) ------------------

    def assign_keys(self) -> None:
        """Give unkeyed samples keys approximating the top-``num_samples``
        keys of a ``source_size``-row weighted reservoir:
        ``key = (source_size - r) / source_size`` with ``r`` uniform in
        ``[0, num_samples)`` (``median.cc:176-192``) — so larger partitions
        win merges proportionally.
        """
        n = self.vals.size
        if n == 0 or self.source_size == 0:
            return
        unkeyed = self.keys < 0
        m = int(unkeyed.sum())
        if m:
            r = self.rng.integers(0, n, size=m).astype(np.float64)
            self.keys[unkeyed] = (self.source_size - r) / self.source_size

    # -- merge: key-weighted combine (median.cc:228-282) --------------------

    def merge(self, other: "ReservoirState") -> None:
        """Combine two keyed partials: keep the ``max_samples`` samples with
        the largest keys (the reference maintains a min-heap on key and
        evicts the minimum, ``median.cc:263-280``); ``max_samples`` is the
        max of the two (``median.cc:242-254``), ``source_size`` sums
        (``median.cc:281``).
        """
        self.max_samples = max(self.max_samples, other.max_samples)
        vals = np.concatenate([self.vals, other.vals])
        keys = np.concatenate([self.keys, other.keys])
        k = self.max_samples
        if vals.size > k:
            top = np.argpartition(keys, vals.size - k)[-k:]
            vals, keys = vals[top], keys[top]
        self.vals, self.keys = vals, keys
        self.source_size += other.source_size

    # -- finalize: upper median (median.cc:284-304) -------------------------

    def finalize(self) -> float | None:
        """Empty input => SQL NULL (``median.cc:295-298``); else sort by value
        and return the element at index ``n // 2`` — the *upper* median for
        even counts, no interpolation (``median.cc:299-301``).
        """
        return self.finalize_percentile(0.5)

    def finalize_percentile(self, p: float) -> float | None:
        """Generalization of the reference's finalize rule to any p in
        [0, 1]: element at index ``min(floor(n*p), n-1)`` of the sorted
        sample — for p=0.5 this IS ``n // 2``, the reference's upper-median
        convention (``median.cc:299-301``); no interpolation, always an
        actual data element."""
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"percentile p must be in [0, 1], got {p}")
        if self.vals.size == 0:
            return None
        idx = min(int(np.floor(self.vals.size * p)), self.vals.size - 1)
        return float(np.sort(self.vals)[idx])

    def sample_values(self) -> np.ndarray:
        return self.vals.copy()
