"""Sources/sinks: format round-trips and partition pruning — the scan/sink
surface the reference delegates to its host engine (SURVEY §2.2)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from rocana_impala_udfs_spark.sources.io import (
    load_table,
    write_csv,
    write_json,
    write_parquet,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="io_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_parquet_partitioned_write_and_prune(spark, tmpdir):
    o = load_table(spark, SF, "orders")
    write_parquet(o, f"{tmpdir}/orders", partition_by=["o_orderstatus"])
    back = spark.read.parquet(f"{tmpdir}/orders")
    assert back.count() == o.count()
    pruned = back.filter(F.col("o_orderstatus") == "F")
    # Partition pruning: the filter must land in PartitionFilters, not a
    # post-scan Filter over all partitions.
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split("PushedFilters")[0]
    assert pruned.count() == o.filter(F.col("o_orderstatus") == "F").count()


def test_csv_roundtrip(spark, tmpdir):
    c = load_table(spark, SF, "customer").select("c_custkey", "c_name", "c_acctbal")
    write_csv(c, f"{tmpdir}/customer")
    back = spark.read.option("header", "true").option("inferSchema", "true").csv(f"{tmpdir}/customer")
    assert back.count() == c.count()
    assert set(back.columns) == set(c.columns)
    a = {r.c_custkey: r.c_acctbal for r in c.collect()}
    b = {r.c_custkey: r.c_acctbal for r in back.collect()}
    assert a == pytest.approx(b)


def test_orc_roundtrip(spark, tmpdir):
    p = load_table(spark, SF, "part")
    p.write.mode("overwrite").orc(f"{tmpdir}/part")
    back = spark.read.orc(f"{tmpdir}/part")
    assert back.count() == p.count()
    assert back.schema == p.schema


def test_orc_managed_table_pushdown_and_fidelity(spark):
    """io_orc_roundtrip_stats substrate: the managed zstd ORC table
    round-trips every column class bit-exactly, and a filtered read-back
    pushes the predicate into the ORC scan (the property that makes ORC a
    real 100 TB interchange format, not just a write target)."""
    from rocana_impala_udfs_spark.sources.io import orc_roundtrip_table

    li = load_table(spark, SF, "lineitem")
    back = orc_roundtrip_table(spark, li, "orc_rt_test_lineitem")
    assert back.schema == li.schema
    # bit-exact doubles and timestamps across encode->decode
    a = li.orderBy("l_orderkey", "l_linenumber").collect()
    b = back.orderBy("l_orderkey", "l_linenumber").collect()
    assert a == b
    # predicate pushdown reaches the ORC scan
    plan = (
        back.filter(F.col("l_quantity") < 5.0)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "l_quantity" in plan
    spark.sql("DROP TABLE IF EXISTS orc_rt_test_lineitem")


def test_json_roundtrip(spark, tmpdir):
    n = load_table(spark, SF, "nation")
    write_json(n, f"{tmpdir}/nation")
    back = spark.read.json(f"{tmpdir}/nation")
    assert back.count() == n.count()
    assert {r.n_name for r in back.collect()} == {r.n_name for r in n.collect()}


def test_bucketed_join_skips_shuffle(spark):
    """Bucketing co-locates the orders⋈lineitem fact-fact join: with both
    sides bucketed 8-ways on the join key, the sort-merge join reads buckets
    directly — no Exchange on either side. This is the 100 TB strategy for
    repeated fact-fact joins (one-time bucketed write, shuffle-free reads)."""
    o = load_table(spark, SF, "orders")
    li = load_table(spark, SF, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    # A stale warehouse dir (e.g. from an interrupted run with a different
    # metastore) blocks managed-table creation even after DROP.
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        shutil.rmtree(f"{warehouse}/{t}", ignore_errors=True)
    (o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").format("parquet").saveAsTable("b_orders"))
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").format("parquet").saveAsTable("b_lineitem"))
    try:
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        # hint("merge"): at test scale Catalyst would broadcast instead and
        # never exercise the bucketed path; at fact-fact scale SMJ is what
        # it picks anyway.
        joined = (
            bo.hint("merge")
            .join(bl, bo.o_orderkey == bl.l_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # No shuffle on either join key — bucket layout satisfies the join's
        # distribution requirement. (The groupBy still exchanges on
        # o_orderstatus; that one is expected.)
        assert "Exchange hashpartitioning(o_orderkey" not in plan
        assert "Exchange hashpartitioning(l_orderkey" not in plan
        expect = o.join(li, o.o_orderkey == li.l_orderkey).groupBy("o_orderstatus").count()
        assert {(r.o_orderstatus, r["count"]) for r in joined.collect()} == {
            (r.o_orderstatus, r["count"]) for r in expect.collect()
        }
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_column_pruning_reaches_scan(spark):
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    plan = li._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema  # unreferenced column not read


def test_python_datasource_partitioned_deterministic(spark):
    """Custom Spark-4 Python DataSource: registered format is planned like a
    built-in, rows land in the declared partitions, and the stream is
    seed-deterministic across reads."""
    from rocana_impala_udfs_spark.sources.pyds import register

    register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 1000)
        .option("partitions", 8)
        .load()
    )
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 1000
    a = df.orderBy("event_id").limit(5).collect()
    b = (
        spark.read.format("synthetic_events")
        .option("rows", 1000)
        .option("partitions", 8)
        .load()
        .orderBy("event_id")
        .limit(5)
        .collect()
    )
    assert a == b
    # pushdown-compatible: the scan composes with filters/aggregates
    n_types = df.select("event_type").distinct().count()
    assert n_types == 5


def test_python_datasource_streaming_reader(spark):
    """The same custom source consumed as a micro-batch stream: rows arrive
    in offset order, dedupe-free, and match the deterministic generator."""
    import time

    from rocana_impala_udfs_spark.sources.pyds import register

    register(spark)
    stream = (
        spark.readStream.format("synthetic_events").option("rowsperbatch", 50).load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("pyds_stream")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) FROM pyds_stream").collect()[0][0]
            if n >= 150:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM pyds_stream ORDER BY event_id").collect()
    assert len(rows) >= 150
    ids = [r.event_id for r in rows]
    assert ids == list(range(len(ids)))  # contiguous offsets, no gaps/dupes
    # deterministic: batch read of the same ids agrees row-for-row
    batch = {
        r.event_id: (r.user_id, r.event_type, r.value)
        for r in spark.read.format("synthetic_events")
        .option("rows", len(ids))
        .load()
        .collect()
    }
    assert set(batch) == set(ids)
    # row-for-row value agreement, not just matching id sets
    for r in rows:
        assert batch[r.event_id] == (r.user_id, r.event_type, r.value)


def test_clustered_write_gives_disjoint_file_ranges(spark, tmp_path):
    """The range-clustered layout must produce files whose parquet footer
    min/max ranges barely overlap — the property that lets a filtered scan
    skip whole files at scale."""
    import os

    import pyarrow.parquet as pq

    from rocana_impala_udfs_spark.sources.io import write_clustered_parquet

    li = load_table(spark, SF, "lineitem")
    out = str(tmp_path / "clustered")
    write_clustered_parquet(li, out, "l_extendedprice", num_files=6)

    ranges = []
    for name in os.listdir(out):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(out, name)).metadata
        col_idx = next(
            i for i in range(md.num_columns)
            if md.row_group(0).column(i).path_in_schema == "l_extendedprice"
        )
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) >= 4
    ranges.sort()
    # consecutive file ranges must not materially overlap (range partitioner
    # boundaries are exact; equal boundary values may straddle)
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2 or (hi1 - lo2) < (hi2 - lo1) * 0.01, (hi1, lo2)
    # round-trip: the clustered copy holds exactly the same rows
    assert spark.read.parquet(out).count() == li.count()


def test_zorder_write_skips_on_both_dimensions(spark, tmpdir):
    """Z-order layout gives BOTH clustered columns file-level pruning
    power: for a narrow filter on either column, the fraction of files
    whose footer [min,max] overlaps the filter must be well under 1.0 —
    the property a 1-D range-clustered layout only has for its sort key."""
    import os

    import pyarrow.parquet as pq

    from rocana_impala_udfs_spark.operators.zorder import write_zorder_parquet

    p = load_table(spark, SF, "part").select(
        "p_partkey",
        F.col("p_size").cast("bigint").alias("x"),
        F.floor(F.col("p_retailprice") / 40.0).cast("bigint").alias("y"),
    )
    out = f"{tmpdir}/zorder"
    write_zorder_parquet(p, out, "x", "y", bits=6, num_files=16)

    def file_ranges(col):
        ranges = []
        for name in os.listdir(out):
            if not name.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(out, name)).metadata
            idx = next(
                i for i in range(md.num_columns)
                if md.row_group(0).column(i).path_in_schema == col
            )
            stats = [md.row_group(rg).column(idx).statistics for rg in range(md.num_row_groups)]
            ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
        return ranges

    for col, lo, hi in (("x", 10, 13), ("y", 10, 13)):
        ranges = file_ranges(col)
        assert len(ranges) >= 8
        overlapping = sum(1 for mn, mx in ranges if not (mx < lo or mn > hi))
        # a narrow band on either axis must skip at least a third of files
        assert overlapping <= len(ranges) * 2 / 3, (col, overlapping, len(ranges))
    assert spark.read.parquet(out).count() == p.count()


def test_binaryfile_source_feeds_real_decoders(spark, tmp_path):
    """Media ingestion path: raw image files on disk -> spark.read.format
    ("binaryFile") -> the real PPM/PNG decoders. This is how a production
    corpus enters the engine (one row per object, content as a binary
    column + path/length metadata), so the source must compose with the
    codec operators directly."""
    import numpy as np
    from pyspark.sql import functions as F
    from rocana_impala_udfs_spark.operators.multimodal import (
        decode_image_auto,
        encode_png,
        encode_ppm,
    )

    d = tmp_path / "media"
    d.mkdir()
    rng = np.random.default_rng(7)
    imgs = {}
    for i in range(3):
        img = rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
        imgs[f"img{i}.ppm"] = img
        (d / f"img{i}.ppm").write_bytes(encode_ppm(img))
    png_img = rng.integers(0, 256, size=(6, 4, 3), dtype=np.uint8)
    imgs["img3.png"] = png_img
    (d / "img3.png").write_bytes(encode_png(png_img))

    df = spark.read.format("binaryFile").load(str(d))
    assert set(df.columns) == {"path", "modificationTime", "length", "content"}
    rows = df.select(
        F.element_at(F.split("path", "/"), -1).alias("name"), "content", "length"
    ).collect()
    assert len(rows) == 4
    for r in rows:
        decoded = decode_image_auto(bytes(r.content))
        assert decoded.shape == imgs[r.name].shape
        assert (decoded == imgs[r.name]).all()
        assert r.length == len(bytes(r.content))


def test_bloom_parquet_writes_real_footers_and_prunes(spark, tmp_path):
    """write_bloom_parquet must put real bloom filters in the files:
    neither pyarrow nor duckdb in this container exposes bloom offsets,
    so the evidence is byte-level — the SAME rows written with the bloom
    options produce materially larger files (the serialized filter,
    ~ndv bytes), repartition(1) on both sides so layout is identical."""
    import os

    from rocana_impala_udfs_spark.sources.io import write_bloom_parquet, write_parquet

    o = load_table(spark, SF, "orders").repartition(1)
    plain_out = str(tmp_path / "plain")
    bloom_out = str(tmp_path / "bloomed")
    write_parquet(o, plain_out)
    write_bloom_parquet(o, bloom_out, ["o_orderkey"], ndv=50_000)

    def pq_bytes(d):
        return sum(
            os.path.getsize(os.path.join(d, n))
            for n in os.listdir(d)
            if n.endswith(".parquet")
        )

    plain_b, bloom_b = pq_bytes(plain_out), pq_bytes(bloom_out)
    # a 50k-ndv filter serializes to tens of KB; same data otherwise
    assert bloom_b > plain_b + 8_000, (plain_b, bloom_b)

    # behavioral check: reading back with a point predicate on an absent
    # key returns nothing and the plan pushes the filter to the scan
    df = spark.read.parquet(bloom_out).filter(F.col("o_orderkey") == -12345)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "o_orderkey" in plan
    assert df.count() == 0


def _jobs_in_group(spark, group, fn):
    """Run ``fn()`` under job group ``group``; return its result and the
    ids of the jobs it submitted (listener bus drained first, so a job
    that ran is visible to the status tracker)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_warm_path_runs_no_job(spark, tmp_path):
    """The second load of a table reuses the remembered schema: no
    schema-inference job, same schema, same rows."""
    shutil.copy(f"{SF}/orders.parquet", tmp_path / "orders.parquet")
    sf = str(tmp_path)
    cold, cold_jobs = _jobs_in_group(
        spark, "io-schema-cold", lambda: load_table(spark, sf, "orders")
    )
    # the cold read infers the schema with a job — what the warm read skips
    assert cold_jobs
    warm, warm_jobs = _jobs_in_group(
        spark, "io-schema-warm", lambda: load_table(spark, sf, "orders")
    )
    assert warm_jobs == []
    assert warm.schema == cold.schema
    assert sorted(warm.collect()) == sorted(cold.collect())


def test_load_table_reinfers_after_rewrite(spark, tmp_path):
    """A rewritten table (new files) is re-inferred: an added column and a
    retyped column show up on the next load."""
    sf = str(tmp_path)
    path = f"{sf}/t.parquet"
    write_parquet(spark.createDataFrame([(1, "x")], "a int, b string"), path)
    assert load_table(spark, sf, "t").schema.simpleString() == "struct<a:int,b:string>"
    write_parquet(
        spark.createDataFrame([("1", "x", 2.5)], "a string, b string, c double"), path
    )
    back = load_table(spark, sf, "t")
    assert back.schema.simpleString() == "struct<a:string,b:string,c:double>"
    assert [tuple(r) for r in back.collect()] == [("1", "x", 2.5)]


def test_load_table_self_join_not_ambiguous(spark):
    """Two loads of one table are distinct relations, so a self-join
    resolves each side's columns without an ambiguity error."""
    from collections import Counter

    a = load_table(spark, SF, "nation")
    b = load_table(spark, SF, "nation")
    joined = a.join(b, a["n_regionkey"] == b["n_regionkey"]).select(
        a["n_name"], b["n_name"].alias("peer")
    )
    per_region = Counter(r.n_regionkey for r in a.select("n_regionkey").collect())
    assert joined.count() == sum(n * n for n in per_region.values())


def test_load_table_events_ts_timestamp_on_warm_path(spark):
    """The events ts normalization still applies when the schema comes
    from the remembered entry rather than a fresh inference."""
    from pyspark.sql.types import TimestampType

    cold = load_table(spark, SF, "events")
    warm, warm_jobs = _jobs_in_group(
        spark, "io-events-warm", lambda: load_table(spark, SF, "events")
    )
    assert warm_jobs == []
    assert isinstance(warm.schema["ts"].dataType, TimestampType)
    assert warm.agg(F.min("ts"), F.max("ts")).collect() == cold.agg(
        F.min("ts"), F.max("ts")
    ).collect()


def test_load_table_concurrent_loads_agree(spark, tmp_path):
    """Concurrent query builders in one session share the remembered
    schemas: every load of one table from many threads returns the
    table's inferred schema and its rows."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    shutil.copy(f"{SF}/nation.parquet", tmp_path / "nation.parquet")
    sf = str(tmp_path)
    ref = spark.read.parquet(f"{sf}/nation.parquet")
    want, n = ref.schema, ref.count()
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futs = [pool.submit(load_table, spark, sf, "nation") for _ in range(32)]
            frames = [f.result(timeout=120) for f in futs]
    finally:
        sys.setswitchinterval(interval)
    assert all(df.schema == want for df in frames)
    assert {df.count() for df in frames[:4]} == {n}
