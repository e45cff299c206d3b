from __future__ import annotations

import json

import pytest

from rocana_impala_udfs_spark import get_spark, register_all

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # local[4] + >1 shuffle partitions so partial/merge paths genuinely run
    # (mirrors the reference harness's multi-distribution execution,
    # median-test.cc:30-31).
    s = get_spark("rocana-tests", master="local[4]", shuffle_partitions=4)
    register_all(s)
    yield s


@pytest.fixture
def jobs_in_group(spark):
    """A function that runs ``fn()`` under job group ``group`` and returns
    its result and the ids of the jobs it submitted (listener bus drained
    first, so a job that ran is visible to the status tracker)."""

    def run(group, fn):
        sc = spark.sparkContext
        sc.setJobGroup(group, group, False)
        try:
            out = fn()
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture
def last_stateful_progress(spark):
    """A function returning the last progress, as a dict, that a streaming
    query with state operators reported since the previous call (None if
    there was none). It reads a ``StreamingQueryListener`` registered for
    the test, after draining Spark's listener bus."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        last = None

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress = json.loads(event.progress.json)
            if progress.get("stateOperators"):
                self.last = progress

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Listener()
    spark.streams.addListener(listener)

    def read():
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        last, listener.last = listener.last, None
        return last

    yield read
    spark.streams.removeListener(listener)
