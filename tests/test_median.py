"""Tests for appx_median_bounded — ports the reference's two test cases
(median-test.cc:58-82) and fills its documented gaps (SURVEY §5): NULL
interleaving, multi-group, saturated reservoirs, even-count upper median,
max_samples ratchet, weighted merge."""

from __future__ import annotations

import numpy as np
import pytest

from reservoir_spec import ReservoirState

from rocana_impala_udfs_spark.functions.median import exact_upper_median
from rocana_impala_udfs_spark.operators.reservoir import appx_median_bounded_agg

ABS = 1e-5  # FuzzyCompare tolerance, median-test.cc:32-36


# -- reference case 1: empty input => NULL (median-test.cc:58-64) -----------


def test_empty_input_is_null_sql(spark):
    df = spark.createDataFrame([], "x double")
    df.createOrReplaceTempView("empty_doubles")
    out = spark.sql(
        "SELECT CAST(appx_median_bounded(x, 10) AS DOUBLE) AS m FROM empty_doubles"
    ).collect()
    assert len(out) == 1 and out[0].m is None


def test_empty_input_is_null_operator(spark):
    df = spark.createDataFrame([], "x double")
    rows = appx_median_bounded_agg(df, "x", 10).collect()
    assert len(rows) == 1 and rows[0][0] is None


# -- reference case 2: exact when unsaturated (median-test.cc:66-82) --------


def test_exact_when_unsaturated_sql(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1001)], "x double")
    df.createOrReplaceTempView("sequence_1001")
    row = spark.sql(
        "SELECT CAST(appx_median_bounded(x, 1001) AS DOUBLE) AS m FROM sequence_1001"
    ).collect()[0]
    assert row.m == pytest.approx(500.0, abs=ABS)


def test_exact_when_unsaturated_operator(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1001)], "x double").repartition(4)
    rows = appx_median_bounded_agg(df, "x", 1001).collect()
    assert rows[0][0] == pytest.approx(500.0, abs=ABS)


# -- the README demo (README.md:50-61) --------------------------------------


def test_readme_demo(spark):
    df = spark.createDataFrame([(1.1,), (2.2,), (3.3,), (4.4,), (5.5,)], "x double")
    df.createOrReplaceTempView("numbers")
    row = spark.sql(
        "SELECT CAST(appx_median_bounded(x, 5) AS DOUBLE) AS m FROM numbers"
    ).collect()[0]
    assert row.m == pytest.approx(3.3, abs=ABS)


# -- gap: NULL skip (median.cc:130) -----------------------------------------


def test_null_skip(spark):
    rows = [(1.0,), (None,), (2.0,), (None,), (3.0,)]
    df = spark.createDataFrame(rows, "x double")
    out = appx_median_bounded_agg(df, "x", 100).collect()
    assert out[0][0] == pytest.approx(2.0, abs=ABS)
    df.createOrReplaceTempView("nullable_doubles")
    row = spark.sql(
        "SELECT appx_median_bounded_double(x, 100) AS m FROM nullable_doubles"
    ).collect()[0]
    assert row.m == pytest.approx(2.0, abs=ABS)


def test_all_null_is_null(spark):
    df = spark.createDataFrame([(None,), (None,)], "x double")
    assert appx_median_bounded_agg(df, "x", 10).collect()[0][0] is None


def test_nan_parity_python_vs_jvm_udaf(spark):
    """NULLs are skipped and NaN data is SAMPLED, exactly like the
    reference (median.cc:130-131 skips only is_null), on every registered
    name and on the DataFrame operator. Double.compare's total order sorts
    NaN last; a path that dropped NaN would return 2.0 on the first input
    and 1.0 on the second."""
    import math

    calls = {
        "appx_median_bounded": "CAST(appx_median_bounded(x, 100) AS DOUBLE)",
        "appx_median_bounded_1call": "CAST(appx_median_bounded_1call(x, 100) AS DOUBLE)",
        "appx_median_bounded_ref_format": (
            "CAST(appx_median_bounded_ref_format(x, 100) AS DOUBLE)"
        ),
        "appx_median_bounded_double": "appx_median_bounded_double(x, 100)",
        "appx_percentile_bounded": "appx_percentile_bounded(x, 0.5, 100)",
    }
    rows = [(1.0,), (2.0,), (float("nan"),), (3.0,), (None,)]
    nan_median = [(1.0,), (float("nan"),)]
    for data, check in [
        # upper median of [1, 2, 3, NaN] under the total order: index 4//2 = 2
        (rows, lambda m: m == 3.0),
        # NaN lands AS the median when the total order puts it at n // 2
        (nan_median, math.isnan),
    ]:
        df = spark.createDataFrame(data, "x double")
        df.createOrReplaceTempView("_nan_parity")
        for name, call in calls.items():
            m = spark.sql(f"SELECT {call} AS m FROM _nan_parity").collect()[0].m
            assert check(m), (name, data, m)
        m = appx_median_bounded_agg(df, "x", 100).collect()[0].median
        assert check(m), ("appx_median_bounded_agg", data, m)


# -- gap: even-count upper median, no interpolation (median.cc:301) ---------


def test_even_count_upper_median(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,), (4.0,)], "x double")
    out = appx_median_bounded_agg(df, "x", 100).collect()
    assert out[0][0] == pytest.approx(3.0, abs=ABS)  # sorted[4//2], NOT 2.5


# -- gap: multi-group with skewed sizes + shuffle (median.cc:176-192) -------


def test_grouped_skewed(spark):
    rows = []
    rows += [("big", float(i)) for i in range(1000)]  # median 500
    rows += [("small", float(i)) for i in range(10)]  # median 5
    rows += [("even", float(i)) for i in range(4)]  # upper median 2
    df = spark.createDataFrame(rows, "grp string, x double").repartition(4)
    out = {r["grp"]: r["median"] for r in appx_median_bounded_agg(df, "x", 2000, ["grp"]).collect()}
    assert out["big"] == pytest.approx(500.0, abs=ABS)
    assert out["small"] == pytest.approx(5.0, abs=ABS)
    assert out["even"] == pytest.approx(2.0, abs=ABS)


# -- gap: saturated reservoir is statistically near the true median ---------


def test_saturated_statistical(spark):
    n = 20000
    df = spark.createDataFrame([(float(i),) for i in range(n)], "x double").repartition(4)
    est = appx_median_bounded_agg(df, "x", 501).collect()[0][0]
    # rank-error band: with k=501 samples the sample median's rank error is
    # ~N/(2*sqrt(k)) ≈ 450 rows at 1 sd; allow 4 sd.
    assert abs(est - (n / 2)) < 4 * n / (2 * np.sqrt(501))


def test_saturated_state_is_bounded():
    st = ReservoirState(64)
    st.update(np.arange(100000, dtype=np.float64))
    assert st.vals.size == 64 and st.source_size == 100000


# -- gap: max_samples ratchets up, never down (median.cc:157-162) -----------


def test_max_samples_ratchet():
    st = ReservoirState(10)
    st.update(np.arange(50, dtype=np.float64), max_samples=30)
    assert st.max_samples == 30 and st.vals.size == 30
    st.update(np.arange(50, dtype=np.float64), max_samples=5)
    assert st.max_samples == 30  # never down


# -- merge: source_size weighting (median.cc:228-282) -----------------------


def test_merge_weights_by_source_size():
    rng_seen = []
    for trial in range(20):
        a = ReservoirState(50, seed=100 + trial)
        a.update(np.full(10000, 1.0))
        a.assign_keys()
        b = ReservoirState(50, seed=200 + trial)
        b.update(np.full(100, 2.0))
        b.assign_keys()
        a.merge(b)
        frac_big = float((a.vals == 1.0).mean())
        rng_seen.append(frac_big)
    # The 10000-row partial should dominate the merged reservoir.
    assert np.mean(rng_seen) > 0.8
    assert a.source_size == 10100


def test_merge_exact_when_both_unsaturated():
    a = ReservoirState(100)
    a.update(np.arange(10, dtype=np.float64))
    a.assign_keys()
    b = ReservoirState(100)
    b.update(np.arange(10, 21, dtype=np.float64))
    b.assign_keys()
    a.merge(b)
    assert a.finalize() == pytest.approx(10.0, abs=ABS)  # 21 values 0..20


# -- reservoir_sample SQL primitive ----------------------------------------


def test_reservoir_sample_sql(spark):
    df = spark.createDataFrame([(float(i),) for i in range(5)], "x double")
    df.createOrReplaceTempView("five")
    row = spark.sql("SELECT reservoir_sample(x, 10) AS s FROM five").collect()[0]
    assert row.s == [0.0, 1.0, 2.0, 3.0, 4.0]


def test_reservoir_sample_agg_unsaturated_exact(spark):
    from rocana_impala_udfs_spark.operators.reservoir import reservoir_sample_agg

    df = spark.createDataFrame(
        [("a", float(i)) for i in range(20)] + [("b", 7.0)], "grp string, x double"
    )
    out = {r.grp: r.samples for r in reservoir_sample_agg(df, "x", 100, ["grp"]).collect()}
    assert out["a"] == [float(i) for i in range(20)]  # sorted, complete
    assert out["b"] == [7.0]


def test_reservoir_sample_agg_saturated_bounded(spark):
    from rocana_impala_udfs_spark.operators.reservoir import reservoir_sample_agg

    df = spark.createDataFrame([(float(i),) for i in range(1000)], "x double").repartition(4)
    out = reservoir_sample_agg(df, "x", 50, None).collect()[0].samples
    assert len(out) == 50  # state bounded at max_samples across partials
    assert set(out) <= {float(i) for i in range(1000)}  # members of the input
    assert len(set(out)) == 50  # samples drawn without replacement


def test_reservoir_sample_global_empty_is_one_null_row(spark):
    from rocana_impala_udfs_spark.operators.reservoir import reservoir_sample_agg

    out = reservoir_sample_agg(spark.createDataFrame([], "x double"), "x", 10).collect()
    assert len(out) == 1 and out[0].samples is None


def test_reservoir_sample_agg_keeps_group_key_type(spark):
    from rocana_impala_udfs_spark.operators.reservoir import reservoir_sample_agg

    df = spark.createDataFrame([(1, 2.0), (1, 1.0), (20, 3.0)], "g int, x double")
    out = reservoir_sample_agg(df, "x", 10, ["g"])
    assert out.schema["g"].dataType.simpleString() == "int"
    assert out.schema["samples"].dataType.simpleString() == "array<double>"
    assert {r.g: r.samples for r in out.collect()} == {1: [1.0, 2.0], 20: [3.0]}


def test_reservoir_sample_samples_nan_skips_null_in_double_compare_order(spark):
    """NULL is skipped (median.cc:130); NaN is a value, and the sample is
    sorted by Double.compare: -Inf < -0.0 < 0.0 < ... < +Inf < NaN."""
    import math

    df = spark.createDataFrame(
        [(float("nan"),), (None,), (0.0,), (float("inf"),), (-0.0,), (float("-inf"),), (None,)],
        "x double",
    ).repartition(3)
    df.createOrReplaceTempView("nan_null")
    s = spark.sql("SELECT reservoir_sample(x, 10) AS s FROM nan_null").collect()[0].s
    assert len(s) == 5
    assert s[0] == float("-inf") and s[3] == float("inf") and math.isnan(s[4])
    assert math.copysign(1.0, s[1]) == -1.0 and s[1] == 0.0
    assert math.copysign(1.0, s[2]) == 1.0 and s[2] == 0.0


# -- exact_upper_median relational composition (typed generalization) -------


def test_exact_upper_median_double(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 4.0), ("b", 7.0)],
        "grp string, x double",
    )
    out = {r["grp"]: r["median"] for r in exact_upper_median(df, "x", ["grp"]).collect()}
    assert out == {"a": 3.0, "b": 7.0}


def test_exact_upper_median_string(spark):
    df = spark.createDataFrame([("x", "apple"), ("x", "pear"), ("x", "banana")], "grp string, s string")
    out = exact_upper_median(df, "s", ["grp"]).collect()
    assert out[0]["median"] == "banana"


def test_exact_upper_median_global(spark):
    df = spark.createDataFrame([(float(i),) for i in range(101)], "x double")
    assert exact_upper_median(df, "x").collect()[0]["median"] == 50.0


# -- string-compat return type (README.md:40, median.cc:303) ----------------


def test_string_return_type(spark):
    df = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    df.createOrReplaceTempView("three")
    row = spark.sql("SELECT appx_median_bounded(x, 10) AS m FROM three").collect()[0]
    assert isinstance(row.m, str) and float(row.m) == pytest.approx(2.0, abs=ABS)


# -- 10-byte string truncation (median.cc:49,67-86) -------------------------


def test_truncate_bytes_ascii(spark):
    from rocana_impala_udfs_spark.functions.median import truncate_bytes

    df = spark.createDataFrame([("abcdefghijKLMNOP",), ("short",)], "s string")
    out = [r.t for r in df.select(truncate_bytes("s", 10).alias("t")).collect()]
    assert out == ["abcdefghij", "short"]


def test_truncate_bytes_is_bytes_not_codepoints(spark):
    from rocana_impala_udfs_spark.functions.median import truncate_bytes

    # 'ééééé' = 10 UTF-8 bytes; adding a 6th é crosses the byte budget and
    # the reference's uint8_t[10] buffer would cut mid-codepoint.
    s6 = "é" * 6  # 12 bytes
    df = spark.createDataFrame([(s6,)], "s string")
    got = df.select(truncate_bytes("s", 10).alias("t")).collect()[0].t
    assert got.startswith("é" * 5)
    assert got != s6  # truncated by BYTES: 6 chars would be 12 bytes
    assert len(got.encode("utf-8", errors="replace")) >= 10  # kept 10 raw bytes


def test_truncated_median_uses_prefix_order(spark):
    from rocana_impala_udfs_spark.functions.median import exact_upper_median, truncate_bytes

    # Full-string order: aaaaaaaaaaZZ < aaaaaaaaab, same as 10-byte-prefix
    # order here, but the RETURNED value must be the truncated sample,
    # exactly like ReservoirSample<StringVal>::GetValue (median.cc:81-86).
    df = spark.createDataFrame(
        [("g", "aaaaaaaaaaZZ"), ("g", "aaaaaaaaab"), ("g", "b")], "grp string, s string"
    )
    t = df.select("grp", truncate_bytes("s", 10).alias("s10"))
    out = exact_upper_median(t, "s10", ["grp"], out="m").collect()[0].m
    assert out == "aaaaaaaaab"


# -- STRING return precision pin (ToStringVal divergence, median.cc:29-37) --


def test_string_return_full_precision_round_trip(spark):
    # Double.toString round-trips the double exactly; the reference's
    # stringstream would emit only 6 significant digits (that form is
    # appx_median_bounded_ref_format). CAST-back must be lossless.
    df = spark.createDataFrame([(51504.36,), (51504.36,), (51504.36,)], "x double")
    df.createOrReplaceTempView("_prec3")
    row = spark.sql("SELECT CAST(appx_median_bounded(x, 10) AS DOUBLE) AS m FROM _prec3").collect()[0]
    assert row.m == 51504.36


def test_string_return_cpp_stringstream_parity(spark):
    # appx_median_bounded_ref_format pins byte parity with the reference's
    # ToStringVal (median.cc:29-37): stringstream default precision(6) ==
    # C %g with 6 significant digits, which Python's "%.6g" implements.
    # Hand-pinned cases cover integral ("500"), rounded to 6 sig digits
    # ("51504.4"), and scientific switchover ("1e+07"); the rest check
    # zero, sign, both exponent switchovers and a two-digit exponent
    # against the "%.6g" oracle.
    pinned = {500.0: "500", 51504.36: "51504.4", 1e7: "1e+07"}
    vals = [0.0, -3.25, 1e-5, 0.0001234, 500.0, 51504.36, 123456.0, 1234567.0, 1e7, 1e16]
    spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals) for _ in range(3)], "i int, x double"
    ).createOrReplaceTempView("_cppfmt")
    got = {
        r.i: r.s
        for r in spark.sql(
            "SELECT i, appx_median_bounded_ref_format(x, 10) AS s FROM _cppfmt GROUP BY i"
        ).collect()
    }
    for i, v in enumerate(vals):
        assert got[i] == "%.6g" % v, (v, got[i])
    assert {v: got[vals.index(v)] for v in pinned} == pinned


def test_percentile_generalization_p50_equals_median(spark):
    from rocana_impala_udfs_spark.operators.reservoir import (
        appx_median_bounded_agg,
        appx_percentile_bounded_agg,
    )
    from rocana_impala_udfs_spark.sources.io import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    med = appx_median_bounded_agg(li, "l_extendedprice", 100_000, ["l_returnflag"], out="v")
    p50 = appx_percentile_bounded_agg(li, "l_extendedprice", 0.5, 100_000, ["l_returnflag"], out="v")
    assert {(r.l_returnflag, r.v) for r in med.collect()} == {
        (r.l_returnflag, r.v) for r in p50.collect()
    }


def test_percentile_exact_when_unsaturated(spark):
    from rocana_impala_udfs_spark.operators.reservoir import appx_percentile_bounded_agg

    df = spark.range(0, 1001).selectExpr("CAST(id AS DOUBLE) AS x")
    for p, expect in [(0.0, 0.0), (0.25, 250.0), (0.9, 900.0), (1.0, 1000.0)]:
        got = appx_percentile_bounded_agg(df, "x", p, 5000, out="v").collect()[0].v
        assert got == expect, (p, got)


def test_percentile_saturated_statistical(spark):
    # saturated reservoir: p90 of uniform 0..9999 with k=500 samples should
    # land within a few percentile points of 9000
    from rocana_impala_udfs_spark.operators.reservoir import appx_percentile_bounded_agg

    df = spark.range(0, 10_000).selectExpr("CAST(id AS DOUBLE) AS x")
    got = appx_percentile_bounded_agg(df, "x", 0.9, 500, out="v").collect()[0].v
    assert 8500 <= got <= 9500, got


def test_percentile_sql_udaf_route(spark):
    spark.range(0, 101).selectExpr("CAST(id AS DOUBLE) AS x").createOrReplaceTempView("_pct_n")
    row = spark.sql("SELECT appx_percentile_bounded(x, 0.75, 1000) AS v FROM _pct_n").collect()[0]
    assert row.v == 75.0


def test_weighted_median_unit_weights_recover_upper_median(spark):
    """With w ≡ 1 the weighted rule must pick exactly the element at
    sorted position n//2 — the reference's upper median (median.cc:301)."""
    from rocana_impala_udfs_spark.functions.median import exact_weighted_upper_median

    df = spark.createDataFrame(
        [("g", float(v), 1) for v in [5, 1, 4, 2, 3]], "g string, x double, w int"
    )
    got = exact_weighted_upper_median(df, "x", "w", ["g"], out="m").collect()
    want = exact_upper_median(df, "x", ["g"], out="m").collect()
    assert got[0]["m"] == want[0]["m"] == 3.0
    # even n: upper median rule picks element n//2 (0-based)
    df6 = spark.createDataFrame(
        [("g", float(v), 1) for v in [1, 2, 3, 4]], "g string, x double, w int"
    )
    assert exact_weighted_upper_median(df6, "x", "w", ["g"], out="m").collect()[0]["m"] == 3.0


def test_weighted_median_hand_example(spark):
    """values 1,2,3 with weights 1,1,4: W=6, threshold 4 → cumulative
    weights 1,2,6 → first value reaching 4 is 3. Also check the weight
    concentrated on a small value drags the median down."""
    from rocana_impala_udfs_spark.functions.median import exact_weighted_upper_median

    df = spark.createDataFrame(
        [("a", 1.0, 1), ("a", 2.0, 1), ("a", 3.0, 4), ("b", 1.0, 10), ("b", 2.0, 1), ("b", 3.0, 1)],
        "g string, x double, w int",
    )
    out = {r["g"]: r["m"] for r in exact_weighted_upper_median(df, "x", "w", ["g"], out="m").collect()}
    assert out == {"a": 3.0, "b": 1.0}


def test_weighted_quantile_library_matches_expansion(spark):
    """Exercise the LIBRARY code path (not a re-derivation) at several
    rational p: exact_weighted_quantile on a weighted frame must return
    the element at index (p_num*N)//p_den of the weight-expanded sorted
    multiset."""
    from rocana_impala_udfs_spark.functions.median import exact_weighted_quantile

    pairs = [(5.0, 3), (1.0, 2), (4.0, 1), (2.0, 6), (3.0, 4)]
    df = spark.createDataFrame(
        [("g", v, w) for v, w in pairs], "g string, x double, w int"
    )
    expanded = sorted(v for v, w in pairs for _ in range(w))
    for p_num, p_den in [(1, 4), (1, 2), (3, 4), (9, 10)]:
        got = exact_weighted_quantile(df, "x", "w", p_num, p_den, ["g"], out="q").collect()
        assert got[0]["q"] == expanded[(p_num * len(expanded)) // p_den], (p_num, p_den)
    import pytest as _pt

    with _pt.raises(ValueError):
        exact_weighted_quantile(df, "x", "w", 5, 4, ["g"])


def test_exact_kth_selection_properties(spark):
    """Histogram-narrowing selection equals a full sort's answer for many
    k values, with duplicates and a forced multi-round path (tiny
    local_limit) — the scale-correct exact order statistic."""
    from rocana_impala_udfs_spark.operators.selection import exact_kth_value

    import numpy as np

    rng = np.random.default_rng(6)
    data = np.concatenate(
        [rng.normal(0, 100, 3000), np.repeat(42.5, 500), rng.uniform(-5, 5, 1500)]
    )
    df = spark.createDataFrame([(float(v),) for v in data], "x double")
    want = np.sort(data)
    for k in [1, 2, 500, 2500, len(data) // 2 + 1, len(data) - 1, len(data)]:
        got = exact_kth_value(df, "x", k=k, buckets=64, local_limit=100)
        assert got == want[k - 1], k
    # empty => None; k out of range raises
    empty = spark.createDataFrame([], "x double")
    assert exact_kth_value(empty, "x") is None
    import pytest as _pt

    with _pt.raises(ValueError):
        exact_kth_value(df, "x", k=0)


def test_jvm_onecall_udaf_reference_cases(spark):
    """The one-statement JVM Aggregator reproduces the upstream test
    vector (0..1000 @ k=1001 => 500, median-test.cc:66-78), returns NULL
    on empty input (median-test.cc:58-64), and ratchets k; its physical
    plan is a genuine partial+final aggregation (no whole-group ship)."""
    from rocana_impala_udfs_spark import register_all

    register_all(spark)
    spark.range(0, 1001).createOrReplaceTempView("_jvm_nums")
    df = spark.sql(
        "SELECT CAST(appx_median_bounded_1call(CAST(id AS DOUBLE), 1001) AS DOUBLE) AS m"
        " FROM _jvm_nums"
    )
    assert df.collect()[0].m == 500.0
    # partial+final split in the plan — the property the Python grouped-agg
    # UDAF cannot provide
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_appx_median_bounded_1call" in plan, plan
    assert plan.count("ObjectHashAggregate") >= 2, plan
    # empty input => SQL NULL
    row = spark.sql(
        "SELECT appx_median_bounded_1call(CAST(id AS DOUBLE), 5) AS m"
        " FROM range(0)"
    ).collect()
    assert row[0].m is None
    # NULL values skipped (median.cc:130): nulls don't count toward n
    spark.sql(
        "SELECT CAST(id AS DOUBLE) AS x FROM range(0, 11)"
        " UNION ALL SELECT CAST(NULL AS DOUBLE)"
    ).createOrReplaceTempView("_jvm_withnull")
    got = spark.sql(
        "SELECT CAST(appx_median_bounded_1call(x, 100) AS DOUBLE) AS m FROM _jvm_withnull"
    ).collect()[0].m
    assert got == 5.0


def test_jvm_onecall_udaf_saturated_statistical(spark):
    """Saturated regime (k << n): the sampled median lands inside the
    central band of the distribution — the reservoir's statistical
    contract, same bar as test_saturated_statistical."""
    from rocana_impala_udfs_spark import register_all

    register_all(spark)
    spark.range(0, 20000).createOrReplaceTempView("_jvm_sat")
    got = spark.sql(
        "SELECT CAST(appx_median_bounded_1call(CAST(id AS DOUBLE), 401) AS DOUBLE) AS m"
        " FROM _jvm_sat"
    ).collect()[0].m
    # true median 10000; 401 uniform samples put the sample median within
    # +-2500 with probability ~1 - 1e-22 (Hoeffding)
    assert 7500 <= got <= 12500


def test_ddl_registration_parity(spark):
    """VERDICT r12 #4: the reference registers with pure SQL DDL
    (reference README.md:40-46); Spark's equivalent statement is
    ``CREATE FUNCTION ... AS 'class' USING JAR ...``, which loads an
    aggregate through the UserDefinedAggregateFunction API — the typed
    Aggregator needs functions.udaf() from code, so AppxMedianBoundedDDL
    adapts the same reservoir protocol to the DDL-loadable API (every
    phase delegates to AppxMedianBounded). Pins: DDL registration works
    against a live session, the documented CAST idiom answers, grouped
    results in the exact regime match the Aggregator path bit-for-bit,
    and NULL semantics survive the adapter."""
    from rocana_impala_udfs_spark.jvm import JAR_PATH

    spark.sql(
        "CREATE OR REPLACE FUNCTION appx_median_bounded_ddl "
        "AS 'rocana.spark.udaf.AppxMedianBoundedDDL' "
        f"USING JAR '{JAR_PATH}'"
    )
    cls_rows = spark.sql("DESCRIBE FUNCTION appx_median_bounded_ddl").collect()
    assert any("AppxMedianBoundedDDL" in r.function_desc for r in cls_rows)

    spark.range(0, 101).selectExpr(
        "CAST(id AS DOUBLE) AS x", "CAST(id % 3 AS INT) AS g"
    ).createOrReplaceTempView("_ddl_numbers")
    one = spark.sql(
        "SELECT CAST(appx_median_bounded_ddl(x, 200) AS DOUBLE) AS m "
        "FROM _ddl_numbers"
    ).collect()
    assert one[0].m == 50.0

    # grouped, exact regime: DDL adapter == typed Aggregator
    ddl = spark.sql(
        "SELECT g, CAST(appx_median_bounded_ddl(x, 200) AS DOUBLE) AS m "
        "FROM _ddl_numbers GROUP BY g ORDER BY g"
    ).collect()
    agg = spark.sql(
        "SELECT g, CAST(appx_median_bounded_1call(x, 200) AS DOUBLE) AS m "
        "FROM _ddl_numbers GROUP BY g ORDER BY g"
    ).collect()
    assert [r.asDict() for r in ddl] == [r.asDict() for r in agg]

    # NULL skip + all-NULL group => NULL, through the DDL path
    spark.sql(
        "SELECT CAST(NULL AS DOUBLE) AS x UNION ALL SELECT CAST(NULL AS DOUBLE)"
    ).createOrReplaceTempView("_ddl_nulls")
    assert (
        spark.sql(
            "SELECT appx_median_bounded_ddl(x, 10) AS m FROM _ddl_nulls"
        ).collect()[0].m
        is None
    )


def test_sliding_frame_window_udaf_exact(spark):
    """VERDICT r12 #5: the JVM Aggregator as a SLIDING analytic
    (ROWS BETWEEN n PRECEDING AND CURRENT ROW) — Spark's WindowExec
    re-evaluates the typed Aggregator per frame, so in the exact regime
    (frame size ≤ k) every frame's upper median must equal the
    brute-force sort of that frame."""
    import random

    random.seed(7)
    vals = {g: [float(random.randint(1, 50)) for _ in range(60)] for g in range(3)}
    rows = [(g, i, vals[g][i]) for g in vals for i in range(60)]
    spark.createDataFrame(rows, "g int, i long, x double").createOrReplaceTempView(
        "_sliding_t"
    )
    got = spark.sql(
        """SELECT g, i, CAST(appx_median_bounded_1call(x, 100) OVER (
               PARTITION BY g ORDER BY i
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE) AS m
           FROM _sliding_t"""
    ).collect()
    assert len(got) == 180
    for r in got:
        frame = sorted(vals[r.g][max(0, r.i - 4): r.i + 1])
        assert r.m == frame[len(frame) // 2], (r.g, r.i)
