"""``appx_median_bounded`` — bounded-memory approximate median.

Re-implements the reference library's one aggregate function
(reference ``median.h:27-29``, ``median.cc:45-47``): an approximate median
computed by weighted reservoir sampling with a caller-supplied cap
(``max_samples``) on aggregation-state memory.

Every median and percentile runs on one implementation, the JVM
``Aggregator`` in :mod:`rocana_impala_udfs_spark.jvm`, which Spark plans as
a partial/final ObjectHashAggregate. :func:`appx_median_bounded` and
:func:`appx_percentile_bounded` are its Column-level calls; the SQL names
(``appx_median_bounded`` and its variants) are registered by
``register_all``. Reference semantics: NULL values are skipped
(``median.cc:130``), empty input yields SQL NULL (``median.cc:295-298``),
even-count groups return the *upper* median ``sorted(vals)[n // 2]`` with
no interpolation (``median.cc:301``), and ``max_samples`` ratchets up,
never down (``median.cc:157-162``).

The same Aggregator backs the ``reservoir_sample`` primitive
(``operators/reservoir.py``) and the running stream median
(``streaming/median_stream.py``), so the package carries no Python copy
of the reservoir; ``tests/reservoir_spec.py`` keeps one as the executable
spec the property tests check.

Randomness: the reference uses boost ``ranlux64_3`` + ``rand()``
(``median.cc:105,190``); bit-parity is impossible and not a goal (reference
``median-test.cc:30-31`` uses fuzzy comparison for the same reason). The
JVM Aggregator draws from ``ThreadLocalRandom``. The result is *exact*
(hence deterministic) whenever ``n <= max_samples``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


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
