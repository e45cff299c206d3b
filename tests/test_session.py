"""Tests for the data-volume-driven initial shuffle partitioning
(VERDICT r13 #1: the 100× shuffle-block OOM fix must be the shipped
default, not an env knob).

The calibration anchor is empirical — the r13 sweep's 100× point (2.51 GB
scan input) OOM'd under core-count initial maps and ran clean at 256 —
so the tests pin the FORMULA's fixed points rather than re-running the
100× workload: floor at the core count for bench-SF dirs, ceil(bytes/8MiB)
for scale dirs, the 32768 practical ceiling, and the fact that load_table
actually applies it.

r15 (ADVICE r14 #1): sizing is STICKY-MAX per session — Spark reads the
conf at execution time, so a lazily-built big-dir frame must keep its
sizing even if a smaller dir is loaded before it executes. The old
"returns to floor" pin is replaced by the sticky pin plus the explicit
``reset_autosize`` epoch boundary.
"""

from __future__ import annotations

import os

import pytest

from rocana_impala_udfs_spark.session import (
    _DIR_BYTES_MEMO,
    _MAX_INITIAL_PARTITIONS,
    _TARGET_SCAN_BYTES_PER_PARTITION,
    autosize_initial_partitions,
    reset_autosize,
)
from rocana_impala_udfs_spark.sources.io import load_table

CONF = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _fresh_sizing_epoch(spark):
    """Each test gets its own sizing epoch, and the (session-scoped) spark
    fixture leaves this module back at the core-count floor so the fake
    big dirs probed here never slow later test modules."""
    reset_autosize(spark)
    yield
    reset_autosize(spark)
    autosize_initial_partitions(spark, SF_SMOKE)


def _fake_dir(tmp_path, name: str, nbytes: int) -> str:
    """A directory whose apparent size is ``nbytes`` without writing the
    bytes (sparse truncate) — os.path.getsize reports st_size."""
    d = tmp_path / name
    d.mkdir()
    f = d / "table.parquet"
    with open(f, "wb") as fh:
        fh.truncate(nbytes)
    return str(d)


def test_small_dir_floors_at_core_count(spark, tmp_path):
    d = _fake_dir(tmp_path, "small", 1 << 20)  # 1 MiB ≪ 8 MiB target
    n = autosize_initial_partitions(spark, d)
    assert n == spark.sparkContext.defaultParallelism
    assert spark.conf.get(CONF) == str(n)


def test_scale_dir_sizes_from_bytes(spark, tmp_path):
    # the r13 100× fixed point: 2.51 GB -> ceil(2.51e9 / 8 MiB) = 300,
    # comfortably past the empirically-required 256
    d = _fake_dir(tmp_path, "big", 2_510_068_075)
    n = autosize_initial_partitions(spark, d)
    assert n == -(-2_510_068_075 // _TARGET_SCAN_BYTES_PER_PARTITION) == 300
    assert spark.conf.get(CONF) == "300"


def test_sticky_max_within_epoch(spark, tmp_path):
    # ADVICE r14 #1: the conf is read at EXECUTION time — a deferred
    # big-dir frame must never execute under a later small-dir setting,
    # so within an epoch the applied count only ratchets up
    big = _fake_dir(tmp_path, "big2", 5 << 30)
    small = _fake_dir(tmp_path, "small2", 1 << 20)
    n_big = autosize_initial_partitions(spark, big)
    assert n_big > spark.sparkContext.defaultParallelism
    assert autosize_initial_partitions(spark, small) == n_big
    assert spark.conf.get(CONF) == str(n_big)


def test_reset_starts_new_epoch(spark, tmp_path):
    # finer-than-needed initial maps cost +30-40% on shuffle-heavy keys at
    # sf0.1 (r13 measurement) — reset_autosize is the deliberate way back
    # down (the scaling sweeps call it at each SF point boundary)
    big = _fake_dir(tmp_path, "big3", 5 << 30)
    small = _fake_dir(tmp_path, "small3", 1 << 20)
    assert autosize_initial_partitions(spark, big) > spark.sparkContext.defaultParallelism
    reset_autosize(spark)
    n = autosize_initial_partitions(spark, small)
    assert n == spark.sparkContext.defaultParallelism
    assert spark.conf.get(CONF) == str(n)


def test_uniform_reduce_keys_sizes_coarser(spark, tmp_path):
    # VERDICT r14 #2 / SCALING_r14 finding 6: a declared-uniform load uses
    # the 128 MiB target — at the r13/r14 100× fixed point (2.51 GB) that
    # floors at the core count, reproducing the MEASURED-fast coarse
    # regime (275 s / 19 GB vs 415 s / 37.5 GB fine) — while still growing
    # past the floor for genuinely huge scans (1000×-sized dir → 188).
    d = _fake_dir(tmp_path, "uni100x", 2_510_068_075)
    n = autosize_initial_partitions(spark, d, uniform_reduce_keys=True)
    # ceil(2.51 GB / 128 MiB) = 19 ≤ 32, so the shipped local[32] floors
    # at the core count — exactly the measured-fast coarse regime
    assert n == max(spark.sparkContext.defaultParallelism, 19)
    reset_autosize(spark)
    d2 = _fake_dir(tmp_path, "uni1000x", 25_100_680_750)
    n2 = autosize_initial_partitions(spark, d2, uniform_reduce_keys=True)
    assert n2 == -(-25_100_680_750 // (128 << 20)) == 188


def test_uniform_never_lowers_a_fine_requirement(spark, tmp_path):
    # the declaration is per-load and the FINEST requirement wins the
    # epoch: a skew-unknown (fine) load's setting must survive a later
    # coarse-declared load against the same bytes
    d = _fake_dir(tmp_path, "mixed", 2_510_068_075)
    n_fine = autosize_initial_partitions(spark, d)
    assert n_fine == 300
    n_after = autosize_initial_partitions(spark, d, uniform_reduce_keys=True)
    assert n_after == 300
    assert spark.conf.get(CONF) == "300"


def test_cap_at_practical_ceiling(spark, tmp_path):
    d = _fake_dir(tmp_path, "huge", 1 << 40)  # 1 TiB apparent
    assert autosize_initial_partitions(spark, d) == _MAX_INITIAL_PARTITIONS


def test_load_table_applies_autosize(spark):
    load_table(spark, SF_SMOKE, "region")
    assert SF_SMOKE in {k for k in _DIR_BYTES_MEMO}
    assert spark.conf.get(CONF) == str(spark.sparkContext.defaultParallelism)


def test_metadata_files_excluded(spark, tmp_path):
    d = tmp_path / "withmeta"
    d.mkdir()
    with open(d / "_SUCCESS", "wb") as fh:
        fh.truncate(1 << 30)
    with open(d / ".hidden.crc", "wb") as fh:
        fh.truncate(1 << 30)
    with open(d / "part-0.parquet", "wb") as fh:
        fh.truncate(1 << 20)
    assert autosize_initial_partitions(spark, str(d)) == (
        spark.sparkContext.defaultParallelism
    )


# ---------------------------------------------------------------------------
# r16: streaming state-partition autosizing (optimization round 1)
# ---------------------------------------------------------------------------
# A stateful streaming query's shuffle.partitions is its state-store
# partition count and AQE cannot coalesce it; the replay runners size it
# from the REPLAYED bytes (same 8 MiB target) with a 4-partition machinery
# floor — except Python-stateful queries, whose per-batch work parallelizes
# across state partitions, which keep the core-count floor.


def test_stream_partitions_floor_and_bytes(spark, tmp_path):
    from rocana_impala_udfs_spark.session import (
        _STREAM_MIN_PARTITIONS,
        _STREAM_TARGET_BYTES_PER_PARTITION,
        autosize_stream_state_partitions,
    )

    small = _fake_dir(tmp_path, "s_small", 1 << 20)  # 1 MiB -> floor
    assert autosize_stream_state_partitions(spark, small) == _STREAM_MIN_PARTITIONS
    big = _fake_dir(tmp_path, "s_big", 2 << 30)  # 2 GiB -> bytes/8MiB
    assert autosize_stream_state_partitions(spark, big) == (
        (2 << 30) // _STREAM_TARGET_BYTES_PER_PARTITION
    )


def test_stream_partitions_python_stateful_floor_is_cores(spark, tmp_path):
    from rocana_impala_udfs_spark.session import autosize_stream_state_partitions

    small = _fake_dir(tmp_path, "s_py", 1 << 20)
    assert autosize_stream_state_partitions(
        spark, small, python_stateful=True
    ) == spark.sparkContext.defaultParallelism


def test_run_to_table_applies_and_restores_state_partitions(spark, last_stateful_progress):
    """End to end through the exact driver-key path: the JVM-stateful
    complete-mode key runs its state at the machinery floor (pinned via
    the query's own StreamingQueryProgress), the Python-stateful tws key
    keeps core-count state partitions, and in both cases the session conf
    is RESTORED afterwards (batch operators read it as a parallelism
    target)."""
    from rocana_impala_udfs_spark.plans.temporal import TEMPORAL_QUERIES
    from rocana_impala_udfs_spark.session import _STREAM_MIN_PARTITIONS

    before = spark.conf.get("spark.sql.shuffle.partitions")
    TEMPORAL_QUERIES["stream_daily_event_stats"](spark, SF_SMOKE).collect()
    ops = (last_stateful_progress() or {}).get("stateOperators") or []
    assert [o.get("numShufflePartitions") for o in ops] == [_STREAM_MIN_PARTITIONS]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before

    TEMPORAL_QUERIES["stream_tws_ewma_user_value"](spark, SF_SMOKE).collect()
    ops = (last_stateful_progress() or {}).get("stateOperators") or []
    assert [o.get("numShufflePartitions") for o in ops] == [
        spark.sparkContext.defaultParallelism
    ]
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_stream_state_partitions_sized_from_the_query_own_replay(
    spark, monkeypatch, last_stateful_progress
):
    """The state partition count comes from the directory the query
    replays, not from whichever replay was built last in the process:
    with a per-partition target small enough that the sf0.001 and sf0.01
    replays size differently, a query over the sf0.001 replay built
    BEFORE the sf0.01 one still runs at the sf0.001 size."""
    from pyspark.sql import functions as F

    from rocana_impala_udfs_spark import session
    from rocana_impala_udfs_spark.streaming import replay

    stream_a, dir_a = replay.replay_events_stream(spark, SF_SMOKE)
    sf_b = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
    _stream_b, dir_b = replay.replay_events_stream(spark, sf_b)
    monkeypatch.setattr(
        session, "_STREAM_TARGET_BYTES_PER_PARTITION", session._dir_bytes(dir_a) // 5
    )
    n_a = session.autosize_stream_state_partitions(spark, dir_a)
    assert n_a != session.autosize_stream_state_partitions(spark, dir_b)

    agg = stream_a.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    assert replay.run_to_table(agg, mode="complete").count() > 0
    ops = last_stateful_progress()["stateOperators"]
    assert [o["numShufflePartitions"] for o in ops] == [n_a]


def test_scoped_conf_restores_set_unset_on_raise_and_nested(spark):
    from rocana_impala_udfs_spark.session import scoped_conf

    unset_key = "spark.rocana.test.scopedConf"
    set_key = "spark.sql.shuffle.partitions"
    assert spark.conf.get(unset_key, None) is None
    before = spark.conf.get(set_key)

    with scoped_conf(spark, {unset_key: "a", set_key: "7"}):
        assert spark.conf.get(unset_key) == "a"
        assert spark.conf.get(set_key) == "7"
        with scoped_conf(spark, {unset_key: "b"}):
            assert spark.conf.get(unset_key) == "b"
            assert spark.conf.get(set_key) == "7"
        assert spark.conf.get(unset_key) == "a"
    assert spark.conf.get(unset_key, None) is None
    assert spark.conf.get(set_key) == before

    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {unset_key: "c", set_key: "9"}):
            raise RuntimeError("body failed")
    assert spark.conf.get(unset_key, None) is None
    assert spark.conf.get(set_key) == before


def test_default_core_count_is_the_process_affinity(monkeypatch):
    """With SPARK_GRAFT_CPUS unset, get_spark sizes ``local[N]`` and the
    shuffle partitions to the cores this process may run on; when set, the
    variable wins. A recording builder stands in for SparkSession's, so no
    second JVM starts."""
    import types

    from rocana_impala_udfs_spark import session

    class Builder:
        def __init__(self):
            self.conf = {}

        def appName(self, name):
            return self

        def master(self, master):
            self.conf["master"] = master
            return self

        def config(self, key, value):
            self.conf[key] = value
            return self

        def getOrCreate(self):
            return self.conf

    monkeypatch.setattr(session, "SparkSession", types.SimpleNamespace(builder=Builder()))
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    conf = session.get_spark()
    assert (conf["master"], conf["spark.sql.shuffle.partitions"]) == ("local[3]", "3")
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    conf = session.get_spark()
    assert (conf["master"], conf["spark.sql.shuffle.partitions"]) == ("local[5]", "5")
