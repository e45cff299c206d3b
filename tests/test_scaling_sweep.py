"""The key-measurement tool's per-run measure (tools/scaling_sweep.py):
one execution of a key read from outside the engine, through perfbench's
status-store reader and streaming-progress listener."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import scaling_sweep  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_meter_reads_stream_state_sink_rows_and_shuffle_bytes(spark):
    """At sf0.001 (local[4], 4 shuffle partitions) the CDC latest-wins key
    holds 15 state rows and its complete-mode memory sink receives 60 rows
    over its 4 triggers; a batch join writes shuffle bytes and runs no
    stream."""
    import __spark_entry__ as entry

    qs = entry.queries()
    meter = scaling_sweep.Meter(spark)
    try:
        cdc = meter.run(qs["stream_cdc_latest_state"], SF)
        join = meter.run(qs["join_revenue_by_nation"], SF)
    finally:
        meter.close()
    assert cdc["stream"]["state_rows"] == 15
    assert cdc["stream"]["sink_rows"] == 60
    assert cdc["stream"]["triggers"] == 4
    assert cdc["rows_out"] == qs["stream_cdc_latest_state"](spark, SF).count()
    assert join["exec"]["shuffle_write_bytes"] > 0
    assert join["exec"]["jobs"] > 0 and "stream" not in join
