"""``appx_median_bounded`` — bounded-memory approximate median.

Re-implements the reference library's one aggregate function
(reference ``median.h:27-29``, ``median.cc:45-47``): an approximate median
computed by weighted reservoir sampling with a caller-supplied cap
(``max_samples``) on aggregation-state memory.

Every batch median and percentile runs on one implementation, the JVM
``Aggregator`` in :mod:`rocana_impala_udfs_spark.jvm`, which Spark plans as
a partial/final ObjectHashAggregate. :func:`appx_median_bounded` and
:func:`appx_percentile_bounded` are its Column-level calls; the SQL names
(``appx_median_bounded`` and its variants) are registered by
``register_all``. Reference semantics: NULL values are skipped
(``median.cc:130``), empty input yields SQL NULL (``median.cc:295-298``),
even-count groups return the *upper* median ``sorted(vals)[n // 2]`` with
no interpolation (``median.cc:301``), and ``max_samples`` ratchets up,
never down (``median.cc:157-162``).

:class:`ReservoirState` is the same protocol as a Python object. It carries
the streaming medians' state across micro-batches
(``streaming/median_stream.py``), backs the ``reservoir_sample``
primitive, and is the executable spec the property tests check.

Randomness: the reference uses boost ``ranlux64_3`` + ``rand()``
(``median.cc:105,190``); bit-parity is impossible and not a goal (reference
``median-test.cc:30-31`` uses fuzzy comparison for the same reason). The
JVM Aggregator draws from ``ThreadLocalRandom``; :class:`ReservoirState`
uses numpy's PCG64 with a fixed default seed so test runs are reproducible.
The result is *exact* (hence deterministic) whenever ``n <= max_samples``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

DEFAULT_SEED = 42


def appx_median_bounded(col: Column | str, max_samples: int) -> Column:
    """Bounded-memory approximate median of ``col`` as a DOUBLE aggregate
    Column: the JVM function registered as ``appx_median_bounded_double``.
    Exact whenever the group has at most ``max_samples`` non-null rows."""
    from rocana_impala_udfs_spark.jvm import udaf_column

    return udaf_column("appx_median_bounded_double", col, F.lit(max_samples))


def appx_percentile_bounded(col: Column | str, p: float, max_samples: int) -> Column:
    """The same reservoir at any percentile ``p`` in [0, 1]: the sorted
    sample at index ``min(floor(n*p), n-1)`` (p=0.5 is
    :func:`appx_median_bounded`), as a DOUBLE aggregate Column — the JVM
    function registered as ``appx_percentile_bounded``."""
    from rocana_impala_udfs_spark.jvm import udaf_column

    if not 0.0 <= p <= 1.0:
        raise ValueError(f"percentile p must be in [0, 1], got {p}")
    return udaf_column(
        "appx_percentile_bounded", col, F.lit(float(p)), F.lit(max_samples)
    )


# ---------------------------------------------------------------------------
# Faithful reservoir state — the five-phase protocol as a Python object
# ---------------------------------------------------------------------------


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
        sorts last — as does ``np.sort``). Arrow callers pass this mask
        (the validity bitmap of a ``pyarrow.Array`` distinguishes NULL from
        NaN). Without a mask (pandas callers, where the Arrow→pandas bridge
        conflates NULL and NaN into NaN) all NaN are dropped — fine for
        every NaN-free fixture and driver key, and pinned as the documented
        fallback in tests/test_reservoir_properties.py.
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


# ---------------------------------------------------------------------------
# reservoir_sample (Arrow grouped-agg UDF)
# ---------------------------------------------------------------------------


def _group_state(x, k) -> ReservoirState:
    """Build the per-group reservoir from Arrow arrays (x = values,
    k = per-row max_samples). The Arrow validity bitmap distinguishes SQL
    NULL from NaN data, so NULLs are skipped and NaN is sampled — the
    reference's exact rule (``median.cc:130-131``) and the JVM
    Aggregator's (``ReservoirAggregator.java``)."""
    import pyarrow.compute as pc

    ks = np.asarray(k.drop_null(), dtype=np.float64)
    max_samples = int(ks.max()) if ks.size else 100
    state = ReservoirState(max_samples)
    vals = x.to_numpy(zero_copy_only=False)
    mask = pc.is_null(x, nan_is_null=False).to_numpy(zero_copy_only=False)
    state.update(vals, null_mask=mask)
    return state


def make_reservoir_sample_udf():
    """The underlying primitive exposed directly:
    ``reservoir_sample(x, k) -> ARRAY<DOUBLE>`` — a bounded uniform sample of
    the group's non-null values (sorted for determinism of the unsaturated
    case). Reusable building block the reference keeps internal."""

    @arrow_udf("array<double>")
    def reservoir_sample_udf(x: pa.Array, k: pa.Array) -> list:
        # np.sort (not Python sorted): NaN data values sort last, matching
        # Double.compare / the reference's total order.
        return np.sort(_group_state(x, k).sample_values()).tolist()

    return reservoir_sample_udf


# ---------------------------------------------------------------------------
# Exact upper median as a relational composition (typed generalization)
# ---------------------------------------------------------------------------


def truncate_bytes(col: Column | str, n: int = 10) -> Column:
    """The reference's string-sample truncation (``median.cc:49,67-86``):
    ``ReservoirSample<StringVal>`` keeps only the first
    ``MAX_STRING_SAMPLE_LEN = 10`` BYTES of each sampled string, so ordering
    and the returned median are over truncated values. Byte semantics, not
    codepoints: we slice the UTF-8 ``binary`` form, so a multi-byte char cut
    at the boundary yields a replacement char on decode (the closest a
    STRING column gets to the reference's raw ``uint8_t val[10]``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring(c.cast("binary"), 1, n).cast("string")


def exact_weighted_upper_median(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    group_cols: list[str] | None = None,
    out: str = "wmedian",
) -> DataFrame:
    """Weighted generalization of the reference's upper-median rule: with
    positive integer weights, pick the smallest value whose CUMULATIVE
    weight reaches ``W//2 + 1`` — at unit weights this is exactly the
    element at sorted position ``n//2`` (``median.cc:301``), so the
    unweighted operator is the w≡1 special case.

    The cumulative weight is strictly increasing, so exactly one row per
    group satisfies ``cw - w < thr <= cw``; value ties don't affect the
    output (tied rows share the value).  Integer weights keep the
    threshold arithmetic exact in any engine.  Scale shape: weights
    collapse onto the DISTINCT-value frame first, so the cumulative
    window never sees raw-row cardinality (see
    :func:`exact_weighted_quantile`).
    """
    return exact_weighted_quantile(df, value_col, weight_col, 1, 2, group_cols, out)


def exact_weighted_quantile(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    p_num: int,
    p_den: int,
    group_cols: list[str] | None = None,
    out: str = "wquantile",
) -> DataFrame:
    """Weighted quantile at the RATIONAL probability ``p_num/p_den`` with
    the upper-pick rule: smallest value whose cumulative integer weight
    reaches ``(p_num·W)//p_den + 1``.  At 1/2 this is
    :func:`exact_weighted_upper_median`; a rational p keeps the threshold
    in exact BIGINT arithmetic (a float p would put an ulp on the pick
    boundary).

    Scale shape (r7): weights first collapse onto the per-group
    DISTINCT-value frame (rows tied on value merge their weights — the
    threshold-crossing value is unchanged because the crossing rule only
    sees cumulative weight at value granularity), so the cumulative
    window runs over the value-domain-bounded frame, never raw rows, and
    the intra-tie cumulative ordering ambiguity disappears."""
    if not (0 < p_num < p_den):
        raise ValueError(f"need 0 < p_num/p_den < 1, got {p_num}/{p_den}")
    group_cols = group_cols or []
    part = (
        Window.partitionBy(*[F.col(c) for c in group_cols])
        if group_cols
        else Window.partitionBy(F.lit(1))
    )
    w_cum = part.orderBy(F.col(value_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    filtered = df.filter(
        F.col(value_col).isNotNull() & (F.col(weight_col) > 0)
    )
    per_v = filtered.groupBy(*group_cols, value_col).agg(
        F.sum(F.col(weight_col).cast("bigint")).alias("_w")
    )
    ranked = per_v.select(
        *group_cols,
        F.col(value_col),
        "_w",
        F.sum("_w").over(w_cum).alias("_cw"),
        F.sum("_w").over(part).alias("_tw"),
    )
    thr = F.expr(f"div({p_num} * _tw, {p_den})") + 1
    picked = ranked.filter((F.col("_cw") >= thr) & (F.col("_cw") - F.col("_w") < thr))
    return picked.select(*group_cols, F.col(value_col).alias(out))


def exact_upper_median(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    out: str = "median",
) -> DataFrame:
    """Exact median with the reference's upper-median rule, for ANY orderable
    type (the generalization the reference signposts via its
    ``SampleValLess`` comparators for DECIMAL/TIMESTAMP/STRING,
    ``median.cc:196-221``, but never wires up).

    Pure relational composition — ``row_number``/``count`` windows, picks the
    element at sorted position ``n // 2`` (0-based; ``median.cc:301``).
    Distributed as a per-group sort; exact medians fundamentally need the
    sort, the approx paths above avoid it.
    """
    group_cols = group_cols or []
    part = Window.partitionBy(*[F.col(c) for c in group_cols]) if group_cols else Window.partitionBy(F.lit(1))
    w_rank = part.orderBy(F.col(value_col))
    filtered = df.filter(F.col(value_col).isNotNull())
    ranked = filtered.select(
        *group_cols,
        F.col(value_col),
        F.row_number().over(w_rank).alias("_rn"),
        F.count(F.lit(1)).over(part).alias("_n"),
    )
    picked = ranked.filter(F.col("_rn") == (F.col("_n") / 2).cast("int") + 1)
    return picked.select(*group_cols, F.col(value_col).alias(out))
