"""Bounded stream replay → batch-comparable result.

The bridge that makes Structured Streaming DRIVER-CHECKABLE: a streaming
query over a bounded replay of a table, run to completion into a memory
sink, returns an ordinary DataFrame — so a streaming operator can carry the
same DuckDB oracle as its batch twin instead of living only in pytest.

Exactness contract, by output mode:

- COMPLETE: after the final micro-batch, complete mode's result table IS
  the batch aggregation of everything replayed — no watermark-dependent
  row drops, no update-mode duplicates in the sink.
- APPEND (+ watermark, TIME-ORDERED replay only): a window/session emits
  exactly once, when the final watermark (global max ts − delay) passes
  its end — a deterministic function of the data, so the closed sink is
  oracle-checkable too (``stream_hourly_append_watermark``,
  ``stream_session_windows_append``; the end==watermark boundary is
  CLOSED, pinned by the r15 synthetic experiment).
- UPDATE via ``run_foreach_batch_merge``: per-trigger delta emissions are
  last-writer-wins-merged into a keyed target; the final target equals
  the complete-mode final table (a key's newest emission carries its
  full aggregate state), so the same batch oracle applies.

Remaining streaming==batch properties for raw update/append sinks stay
pinned in tests/test_streaming.py.

Scale note: the replay writes the normalized table once to a temp dir and
streams it back with maxFilesPerTrigger=1, so the query genuinely runs as
multiple micro-batches with state carried between them — not one giant
batch in disguise.

Performance note (r16): the runners size the query's state-store partition
count (``spark.sql.shuffle.partitions``, which AQE cannot coalesce for
stateful workloads) from the bytes of the replay directories named in the
query's own plan, via ``session.autosize_stream_state_partitions``, and
start ``transformWithState`` queries on the RocksDB store (the only one
Spark 4.1 runs them on). The confs are set through ``session.scoped_conf``
around ``start()`` alone and restored as soon as the query has started:
``start()`` clones the session conf, so the running query keeps its values
while the session (and every other thread's query) gets the old ones back.
Results are partitioning-invariant (keyed aggregation state, watermark
advancement and foreachBatch deltas do not depend on the reduce partition
count); what changes is per-micro-batch task count and state-store file
count — measured 2-3× of every JVM-stateful benched key's warm time at
sf0.1.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading
import uuid

from pyspark.sql import DataFrame, SparkSession

from rocana_impala_udfs_spark.session import (
    autosize_stream_state_partitions,
    scoped_conf,
)
from rocana_impala_udfs_spark.sources.io import load_table


_REPLAY_DIRS: dict = {}
# Every replay and restart directory lives under one per-process root,
# created on first use and removed when the process exits.
_ROOT: str | None = None
_ROOT_LOCK = threading.Lock()

ROCKSDB_STATE_STORE = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
}
# transformWithState state needs per-state column families, which only the
# RocksDB store has in Spark 4.1 (tests/test_streaming.py pins the default
# store's refusal). Changelog checkpointing (r17) makes each commit upload
# the batch's state delta instead of a full RocksDB snapshot — the tws
# keys' largest per-trigger line before; results are unchanged.
_TWS_CONFS = {
    **ROCKSDB_STATE_STORE,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}
# The stateful Python operators, matched by node name (ADVICE r16 #4): the
# generic "InPandas" substring also matches stateless mapInPandas kernels.
_PYTHON_STATE_NODES = (
    "FlatMapGroupsInPandasWithState",
    "TransformWithStateInPySpark",
    "TransformWithStateInPandas",
)


def _stream_confs(out: DataFrame, python_stateful: bool | None) -> dict:
    """The confs ``out`` must start under, read from its analyzed plan:

    - its file-source directories size the state partition count
      (``spark.sql.shuffle.partitions``); a query that replays no directory
      keeps the session value;
    - the Python-stateful floor applies when the plan has a stateful
      Python operator (those parallelize real Python compute across state
      partitions), unless the caller declares ``python_stateful`` — a plan
      function that KNOWS its Python state is domain-bounded (a handful of
      group keys) passes False to keep the machinery floor;
    - a ``transformWithState`` operator adds the RocksDB store.
    """
    plan = out._jdf.queryExecution().analyzed()
    text = plan.toString()
    dirs = []
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        leaf = leaves.next()
        if leaf.nodeName() == "StreamingRelation":
            path = leaf.dataSource().options().get("path")
            if path.isDefined() and os.path.isdir(path.get()):
                dirs.append(path.get())
    confs = {}
    if dirs:
        if python_stateful is None:
            python_stateful = any(n in text for n in _PYTHON_STATE_NODES)
        n = autosize_stream_state_partitions(
            out.sparkSession, *dirs, python_stateful=python_stateful
        )
        confs["spark.sql.shuffle.partitions"] = str(n)
    if "TransformWithState" in text:
        confs.update(_TWS_CONFS)
    return confs


def _tmp_dir(prefix: str) -> str:
    """A new directory under the process's replay root, which is created
    (again, if something removed it) on first use and removed at exit."""
    global _ROOT
    with _ROOT_LOCK:
        if _ROOT is None or not os.path.isdir(_ROOT):
            _ROOT = tempfile.mkdtemp(prefix="rocana_replay_")
            atexit.register(shutil.rmtree, _ROOT, True)
        return tempfile.mkdtemp(prefix=prefix, dir=_ROOT)


def _run(
    out: DataFrame,
    writer,
    python_stateful: bool | None = None,
    capture_plan: list | None = None,
) -> None:
    """Start ``writer`` (``out.writeStream`` with its sink set) under
    :func:`_stream_confs`, drain every available input and stop. The confs
    are scoped to ``start()`` alone (the query runs on its clone of them),
    so no other thread's query or batch plan sees them while this one
    drains. A ``StreamingQueryListener`` sees the query's progress."""
    with scoped_conf(out.sparkSession, _stream_confs(out, python_stateful)):
        q = writer.start()
    try:
        q.processAllAvailable()
        if capture_plan is not None:
            capture_plan.append(q._jsq.explainInternal(False))
    finally:
        q.stop()


def replay_events_stream(
    spark: SparkSession, sf_dir: str, copies: int = 1, files: int = 4
) -> tuple[DataFrame, str]:
    """Write the normalized events table to a temp dir (``copies`` times —
    >1 plants exact duplicates for dedup operators) split into ``files``
    files, and open it as a file-source stream, one file per micro-batch.
    Returns (stream_df, replay directory). The written replay is memoized per
    (sf_dir, copies, files) for the process lifetime — repeated runs
    (bench does 3) skip the rewrite; ``cleanup`` drops the memo too.
    """
    ev = load_table(spark, sf_dir, "events")
    key = (sf_dir, copies, files)
    d = _REPLAY_DIRS.get(key)
    if d is None or not os.path.isdir(d):
        d = _tmp_dir("replay_events_")
        for i in range(copies):
            # repartition, not coalesce: the source table is often a single
            # scan partition, and coalesce cannot INCREASE partition count —
            # the replay would collapse to one file / one micro-batch.
            ev.repartition(max(files // copies, 1)).write.mode(
                "append" if i else "overwrite"
            ).parquet(d)
        _REPLAY_DIRS[key] = d
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    return stream, d


def replay_events_stream_ordered(
    spark: SparkSession, sf_dir: str, files: int = 4
) -> tuple[DataFrame, str]:
    """Time-ordered bounded replay for WATERMARK semantics: each file
    holds one contiguous ts range and files are written (hence streamed)
    in ascending time order, like a real event feed. The round-robin
    replay is only valid for complete-mode aggregations — its every batch
    spans the whole timeline, so after batch 1 the watermark would
    classify most later rows as late and drop them, which is exactly the
    behavior append-mode keys must NOT trigger on in-order data.

    One file per micro-batch, ranges from exact ts quantiles; within-file
    disorder is harmless (the watermark only advances between batches).
    Memoized like :func:`replay_events_stream`.
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import functions as F

    return _ordered_replay(
        spark,
        ev.withColumn("_us", F.unix_micros("ts")),
        order_col="_us",
        drop_order_col=True,
        memo_key=(sf_dir, "ordered", files),
        files=files,
        prefix="replay_events_ord_",
        schema=ev.schema,
    )


def run_to_table(
    out: DataFrame,
    mode: str = "complete",
    capture_plan: list | None = None,
    python_stateful: bool | None = None,
) -> DataFrame:
    """Run a streaming aggregation to completion into a memory sink and
    return the final result table (batch DataFrame).

    ``capture_plan``: when a list is passed, the query's EXECUTED physical
    plan string (``explainInternal`` of the last micro-batch) is appended to
    it before the query stops — tests pin operator choices (e.g.
    ``TransformWithStateInPandasExec``) through the exact driver-key path.
    """
    name = "replay_" + uuid.uuid4().hex[:12]
    _run(
        out,
        out.writeStream.format("memory").queryName(name).outputMode(mode),
        python_stateful,
        capture_plan,
    )
    return out.sparkSession.table(name)


def run_foreach_batch_merge(
    out: DataFrame,
    key_cols: list,
    python_stateful: bool | None = None,
) -> DataFrame:
    """PRODUCTION SINK SHAPE for update-mode state (VERDICT r15 #4): run
    ``out`` with ``foreachBatch`` and MERGE each trigger's delta into a
    keyed target, last-writer-wins per ``key_cols`` — the Structured
    Streaming idiom for maintaining a materialized view in an external
    store, certifying the UPDATE path without complete-mode re-emission
    and without a sink that accumulates every historical emission.

    The merge is implemented as an append-only upsert log plus a
    compaction read — exactly what a warehouse MERGE INTO does under the
    hood, kept fully distributed (no driver collect): each batch appends
    its delta stamped with the batch id; the final read keeps, per key,
    the row from the newest batch. Correctness: an update-mode emission
    for a key carries the key's FULL aggregate state at that trigger, and
    a key's newest emission happens at the last trigger that touched it —
    after which no further input for it arrived — so newest-per-key IS
    the final state, equal to the complete-mode table and hence to the
    batch oracle.

    Scale: the streaming state is identical to the complete-mode twin
    (O(keys) aggregate state), but per-trigger SINK traffic is O(changed
    keys), not O(all keys), and the log is bounded by total deltas; a
    production deployment compacts it continuously (Delta/Iceberg MERGE)
    — here the one-shot compaction read is the certified equivalent.

    The compacted target (one row per key) is materialized with an eager
    ``localCheckpoint`` and the log directory is deleted before return, so
    no ``merge_log_*`` directory outlives the call.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    log_dir = tempfile.mkdtemp(prefix="merge_log_")

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.withColumn("_merge_bid", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(log_dir)

    try:
        _run(
            out,
            out.writeStream.outputMode("update").foreachBatch(_append),
            python_stateful,
        )
        log = out.sparkSession.read.parquet(log_dir)
        w = Window.partitionBy(*key_cols).orderBy(F.col("_merge_bid").desc())
        return (
            log.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_merge_bid")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)


def cleanup(path: str) -> None:
    """Remove a replay dir and forget its memo entry. The query keys keep
    memoized replays for the process lifetime (a few MB under the replay
    root, which is removed at exit; rebuilt lazily if removed); tests use
    this for explicit teardown."""
    for k, v in list(_REPLAY_DIRS.items()):
        if v == path:
            del _REPLAY_DIRS[k]
    if path and os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)


def run_with_restart(spark: SparkSession, sf_dir: str, build_agg) -> DataFrame:
    """CHECKPOINT-RECOVERY harness: run a complete-mode aggregation over
    the first half of the replay files, STOP the query, add the remaining
    files, and restart a fresh query from the SAME checkpoint. The file
    source's committed offsets prevent re-reading (no double counting)
    and the state store restores the aggregation state (no loss) — so the
    final table must equal the batch aggregate of everything, which is
    the oracle. ``build_agg`` maps the stream DataFrame to the complete-
    mode aggregation."""
    ev = load_table(spark, sf_dir, "events")
    _, src = replay_events_stream(spark, sf_dir)
    files = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
    # The two-phase split needs at least one file on EACH side: with a
    # single file, phase 2 would copy nothing, the restarted query would
    # run zero micro-batches, and its fresh memory sink would come back
    # EMPTY — a silently wrong result rather than an error (r9 ADVICE).
    # Unreachable with the current 4-file replay layout; fail loudly if
    # the layout ever changes.
    if len(files) < 2:
        raise ValueError(
            f"run_with_restart needs >= 2 replay files to split across the "
            f"restart, found {len(files)} in {src}"
        )
    stage = _tmp_dir("restart_stage_")
    cp = _tmp_dir("restart_cp_")

    def run_once():
        s = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stage)
        )
        name = "restart_" + uuid.uuid4().hex[:12]
        agg = build_agg(s)
        _run(
            agg,
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", cp),
        )
        return name

    try:
        for f in files[: max(len(files) // 2, 1)]:
            shutil.copy(os.path.join(src, f), os.path.join(stage, f))
        run_once()  # phase 1: half the data, then a clean stop
        for f in files[max(len(files) // 2, 1):]:
            shutil.copy(os.path.join(src, f), os.path.join(stage, f))
        name = run_once()  # phase 2: recovered state + only the new files
        return spark.table(name)
    finally:
        # both queries are stopped and the memory table is materialized,
        # so neither directory is read again
        shutil.rmtree(stage, ignore_errors=True)
        shutil.rmtree(cp, ignore_errors=True)


def _ordered_replay(
    spark: SparkSession,
    src: DataFrame,
    order_col: str,
    drop_order_col: bool,
    memo_key: tuple,
    files: int,
    prefix: str,
    schema,
) -> tuple[DataFrame, str]:
    """Shared ordered-replay writer: split ``src`` into ``files`` contiguous
    ``order_col`` ranges (exact quantiles at test scale), write them with
    strictly ascending mtimes (the file source picks oldest-mtime first, so
    replay order == range order deterministically), memoized per
    ``memo_key``. Degenerate inputs (empty table / all-NULL order column)
    collapse to however many ranges the quantiles support — never an
    index error, at worst a single-file replay."""
    from pyspark.sql import functions as F

    d = _REPLAY_DIRS.get(memo_key)
    if d is None or not os.path.isdir(d):
        d = _tmp_dir(prefix)
        qs = [i / files for i in range(1, files)]
        cuts = src.approxQuantile(order_col, qs, 0.0) if files > 1 else []
        bounds = [None, *cuts, None]
        seen: set = set()
        t0 = None
        for i in range(len(bounds) - 1):
            part = src
            if bounds[i] is not None:
                part = part.filter(F.col(order_col) > bounds[i])
            if bounds[i + 1] is not None:
                part = part.filter(F.col(order_col) <= bounds[i + 1])
            if drop_order_col:
                part = part.drop(order_col)
            part.coalesce(1).write.mode("append" if i else "overwrite").parquet(d)
            for f in sorted(os.listdir(d)):
                fp = os.path.join(d, f)
                if f.endswith(".parquet") and f not in seen:
                    seen.add(f)
                    if t0 is None:
                        t0 = os.path.getmtime(fp)
                    os.utime(fp, (t0 + i, t0 + i))
        _REPLAY_DIRS[memo_key] = d
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(d)
    )
    return stream, d


def replay_documents_stream_ordered(
    spark: SparkSession, sf_dir: str, files: int = 3
) -> tuple[DataFrame, str]:
    """Doc-id-ordered bounded replay of the documents table — the ingest
    feed for streaming index-maintenance operators (arrival order :=
    doc_id order, one contiguous id range per micro-batch file, ascending
    mtimes like :func:`replay_events_stream_ordered`). Memoized."""
    docs = load_table(spark, sf_dir, "documents")
    return _ordered_replay(
        spark,
        docs,
        order_col="doc_id",
        drop_order_col=False,
        memo_key=(sf_dir, "docs_ordered", files),
        files=files,
        prefix="replay_docs_ord_",
        schema=docs.schema,
    )
