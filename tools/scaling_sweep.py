#!/usr/bin/env python
"""Time any ``queries()`` key, batch or streaming, and fit how its cost
grows from 1x to 10x to 100x of sf0.1.

Every key gets the same steps at sf0.001 and then at each SF point: one
unmeasured warmup, then the fastest of ``--runs`` measured runs. The
sf0.001 time is ``fixed_sec``, the machinery cost of query startup,
state-store open and micro-batch scheduling.

Each run builds the key and executes its result with the ``noop`` writer,
which runs the whole plan and moves nothing to the driver: ``count()``
would let column pruning skip batch work, and ``collect()`` of a
10M-row sink would measure Arrow transfer, not the operator.

Per SF point the JSON row records ``sec`` (the fastest run), ``med_sec``
and ``runs_sec`` (every measured run), ``marginal_sec`` (``sec`` minus
``fixed_sec``), ``rows_out``, and, read from outside the engine through
perfbench's tracer (``perfbench/layers.py``):

- ``exec``: the fastest run's job and stage totals from the application
  status store: jobs, stages, tasks, executor run/CPU/GC seconds, input,
  output, shuffle read/write and spill bytes, and the wall its jobs
  covered;
- ``stream`` (keys that run a streaming query): the trigger breakdown
  from a ``StreamingQueryListener`` (triggers, addBatch, queryPlanning,
  source, WAL and state-commit seconds), the final state rows and bytes
  of its stateful operators, and the rows its sinks received over all
  triggers (null for a ``foreachBatch`` sink, which reports none).

``exponent_all`` / ``exponent_tail`` fit log(sec) ~ a + b*log(rows) over
all points / the last two. Fixed costs bias b DOWNWARD at small SFs, so
the tail fit (10x -> 100x) is the number SCALING_r13.md quotes;
``exponent_marginal_tail`` fits the tail on marginal time and
``exponent_state_rows`` fits state rows over all points. b ~ 1 is linear;
b > 1.5 with a clean fit is a scale bug.

Usage:
  python tools/scaling_sweep.py [--keys k1,k2,...] [--mults 1,10,100]
                                [--runs N] [--out FILE] [--isolate]

``--mults 1 --keys k1,k2 --runs N`` is the min-of-N warm timer at sf0.1:
only the SF points that will run must exist. The 10x and 100x points
read testdata_scaled/ (build with tools/make_scaled_sf.py).
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import layers  # noqa: E402

# (label, dir, row multiplier vs sf0.1)
SF_POINTS = [
    ("1x", "/root/testdata/sf0.1", 1),
    ("10x", os.path.join(REPO, "testdata_scaled", "sf1x"), 10),
    ("100x", os.path.join(REPO, "testdata_scaled", "sf10x"), 100),
]
FIXED_DIR = "/root/testdata/sf0.001"

DEFAULT_KEYS = [
    # The VERDICT r12 #1 list: the most expensive operator families, each
    # the head of a scale-critical class (banded LSH, prefix-filter join,
    # standing index probe, full pipeline, brute/LSH/IVF/PQ ANN,
    # pair-cosine semantic dedup, resampling stats, iterative graph), plus
    # two cheap relational controls whose known-linear scans anchor the fit.
    "dedup_minhash_pairs",
    "dedup_jaccard_threshold_sweep",
    "dedup_incremental_minhash",
    "dedup_simhash_pairs",
    "dedup_exact_docs",
    "llm_corpus_pipeline",
    "ann_cosine_top5",
    "ann_lsh_top5",
    "ann_ivf_fixed_top5",
    "ann_pq_top5",
    "semantic_dedup_fixed_pairs",
    "semantic_dedup_trained_kscaled",
    "stats_bootstrap_ci_price",
    "stats_stratified_bootstrap_ci",
    "graph_pagerank_parts",
    "q1_pricing_summary",
    "join_revenue_by_nation",
    # the r13 batch-2 extension: every remaining pair-generating /
    # self-join key
    "dedup_containment_pairs",
    "dedup_ngram_jaccard_pairs",
    "emb_neardup_pairs",
    "dedup_duplicated_spans",
    "entity_resolution_parts",
    "fuzzy_join_part_names_d2",
    "interval_overlap_pairs",
    "graph_triangle_parts",
    "linkage_best_match",
    # One streaming key per stateful-operator class (VERDICT r13 #2 and
    # r14 #5): bounded k-row grouped state (top-k), one-row-per-key
    # complete-mode state (CDC latest-wins) and its foreachBatch-merge
    # twins, transformWithState typed ValueState (tws EWMA),
    # horizon-bounded dedup state (O(distinct ids in horizon) by contract),
    # session windows (state = open sessions) and the stream-stream join
    # buffers (watermark+delay-bounded rows on both sides; the left-outer
    # twin also holds the null-emission timers).
    "stream_topk_events_per_type",
    "stream_topk_events_merge",
    "stream_cdc_latest_state",
    "stream_cdc_latest_merge",
    "stream_cdc_user_day_merge",
    "stream_cdc_user_day_complete",
    "stream_tws_ewma_user_value",
    "stream_dedup_within_watermark",
    "stream_session_windows",
    "stream_session_windows_append_bounded",
    "stream_stream_interval_join",
    "stream_join_left_outer_nulls",
]


def _extra_builders():
    """Sweep-only measurement harnesses that are not registry keys.

    ``semantic_dedup_trained_kscaled`` (VERDICT r13 #4): the TRAINED
    SemDeDup twin with the codebook grown ∝ corpus — k = n/125 (16 at 1×,
    160 at 10×, 1600 at 100×), the production rule SCALING_r13.md finding 3
    argued bounds within-cluster pair output; this row MEASURES it. The
    registry key ``semantic_dedup_pairs`` keeps its fixed k=16 default
    (its recall pytest contract); scaling k is a deployment parameter.

    ``stream_session_windows_append_bounded``: the registry key runs
    session windows in COMPLETE mode (the certification vehicle — its
    state is the whole materialized result by definition); this twin runs
    the PRODUCTION shape — time-ordered replay, 30-min watermark, APPEND
    mode — where closed sessions evict and state is O(open sessions).

    ``stream_cdc_user_day_complete``: complete-mode twin of
    ``stream_cdc_user_day_merge`` (same per-(user, day) latest-wins
    aggregate); it re-emits ALL keys every trigger, so its sink rows are
    T×K. The pairing quantifies what the foreachBatch merge sink saves at
    high key cardinality.
    """
    from pyspark.sql import functions as F

    from rocana_impala_udfs_spark.operators.similarity import semantic_dedup_pairs
    from rocana_impala_udfs_spark.sources.io import load_table
    from rocana_impala_udfs_spark.streaming.replay import (
        replay_events_stream_ordered,
        run_to_table,
    )

    def semantic_trained_kscaled(spark, d):
        emb = load_table(spark, d, "embeddings")
        nlist = max(16, emb.count() // 125)
        return semantic_dedup_pairs(emb, threshold=0.95, nlist=nlist)

    def session_append(spark, d):
        stream, _dir = replay_events_stream_ordered(spark, d)
        agg = (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        return run_to_table(agg, mode="append")

    def cdc_user_day_complete(spark, d):
        stream, _dir = replay_events_stream_ordered(spark, d)
        rows = stream.select(
            "user_id",
            F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"),
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
            "value",
        )
        latest = rows.groupBy("user_id", "day").agg(
            F.max_by(
                F.struct("value", "ts_us", "event_id"),
                F.struct(F.col("ts_us"), F.col("event_id")),
            ).alias("s"),
            F.count(F.lit(1)).alias("n_events"),
        )
        return run_to_table(latest, mode="complete")

    return {
        "semantic_dedup_trained_kscaled": semantic_trained_kscaled,
        "stream_session_windows_append_bounded": session_append,
        "stream_cdc_user_day_complete": cdc_user_day_complete,
    }


# Keys whose declared semantics cannot scale past a multiplier, with the
# largest multiplier worth running. Recorded in the JSON as
# ``capped_at_mult`` / ``capped_reason``.
MAX_MULT = {"semantic_dedup_fixed_pairs": 10, "stream_session_windows": 10}
CAP_REASON = {
    "semantic_dedup_fixed_pairs": (
        "output quadratic by declared semantics with the FIXED 8-centroid "
        "oracle codebook (pairs within clusters whose size grows with the "
        "corpus); production scales the codebook with the corpus, which "
        "bounds cluster sizes — MEASURED by the "
        "semantic_dedup_trained_kscaled row (k ∝ corpus, VERDICT r13 #4)"
    ),
    "stream_session_windows": (
        "complete-mode certification vehicle: every trigger re-emits the "
        "full session table into the in-JVM memory sink, so driver memory "
        "bounds the reachable SF (measured: heap OOM at 100x, r15); the "
        "append-mode bounded twin stream_session_windows_append_bounded "
        "is the production shape and runs uncapped"
    ),
}


def _listener():
    """perfbench's progress listener, with each event's number of state
    operators added (``make_stream_listener`` defines its class inside
    the function, hence ``type()``)."""

    class Listener(type(layers.make_stream_listener())):
        def onQueryProgress(self, event):
            super().onQueryProgress(event)
            with self.lock:
                self.progress[-1]["state_ops"] = len(event.progress.stateOperators or [])

    return Listener()


def _stream_record(progress: list[dict]) -> dict:
    """``stream_summary``'s trigger breakdown, with the state and sink
    figures taken over every progress event rather than the data triggers
    alone: the final no-data batch can evict watermarked state and emit
    append-mode rows. State is the last stateful event's total; sink rows
    are null when a data trigger's sink reported -1 (``foreachBatch``)."""
    rec = layers.stream_summary(progress)
    stateful = [p for p in progress if p["state_ops"]]
    last = stateful[-1] if stateful else {"state_ops": 0, "state_rows": None, "state_mem": None}
    no_count = any(p["sink_rows"] < 0 for p in progress if p["input_rows"])
    rec.update(
        state_operators=last["state_ops"],
        state_rows=last["state_rows"],
        state_mem_bytes=last["state_mem"],
        sink_rows=None if no_count else sum(max(p["sink_rows"], 0) for p in progress),
    )
    return rec


class Meter:
    """Runs one key execution and reads what it ran: its jobs from the
    application status store, its streaming queries' progress from a
    listener."""

    def __init__(self, spark):
        self.spark = spark
        self.reader = layers.StatusReader(spark)
        # a long-lived session has evicted its first jobs from the status
        # store; start from the newest one it still holds
        self.reader.next_job = max(
            spark.sparkContext.statusTracker().getJobIdsForGroup(), default=0
        )
        self.listener = _listener()
        spark.streams.addListener(self.listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def run(self, build, sf_dir: str) -> dict:
        """Build the key's result over ``sf_dir`` and execute it with the
        ``noop`` writer: wall seconds, output rows, job totals, and the
        streaming record when it ran a streaming query."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        self.reader.skip_existing()
        self.listener.take()
        rows = Observation()
        t0 = time.perf_counter()
        df = build(self.spark, sf_dir).observe(rows, F.count(F.lit(1)).alias("n"))
        df.write.format("noop").mode("overwrite").save()
        rec = {
            "sec": time.perf_counter() - t0,
            "rows_out": rows.get["n"],
            "exec": layers.job_totals(self.reader.new_jobs()),
        }
        progress = self.listener.take()
        if progress:
            rec["stream"] = _stream_record(progress)
        return rec


def _point(meter: Meter, build, sf_dir: str, runs: int) -> dict:
    """One unmeasured warmup, then the fastest of ``runs`` measured runs,
    with every run's time."""
    meter.run(build, sf_dir)
    recs = [meter.run(build, sf_dir) for _ in range(runs)]
    secs = [r["sec"] for r in recs]
    best = min(recs, key=lambda r: r["sec"])
    best["sec"] = round(best["sec"], 3)
    best["med_sec"] = round(statistics.median(secs), 3)
    best["runs_sec"] = [round(s, 3) for s in secs]
    return best


def _fit_exponent(xs: list[float], ys: list) -> float | None:
    """Least-squares slope of log(y) ~ log(x); None if degenerate."""
    pts = [(math.log(x), math.log(y)) for x, y in zip(xs, ys) if y and y > 0]
    if len(pts) < 2:
        return None
    n = len(pts)
    mx = sum(p[0] for p in pts) / n
    my = sum(p[1] for p in pts) / n
    sxx = sum((p[0] - mx) ** 2 for p in pts)
    if sxx == 0:
        return None
    return sum((p[0] - mx) * (p[1] - my) for p in pts) / sxx


def _run_isolated(keys: list[str], out_path: str, passthrough: list[str]) -> int:
    """--isolate: one fresh JVM per key, results merged into out_path.

    Retires the long-JVM artifact class the r14/r15 sweeps both hit at the
    100× containment point (TaskResultLost: cumulative storage pressure
    from earlier keys' checkpoint blocks evicting an in-flight
    IndirectTaskResult — the same key passes in a fresh JVM). The cost is
    paying session startup per key and losing warm-JVM comparability
    BETWEEN keys; within a key nothing changes (same warmup + min-of-runs
    protocol), so per-key numbers remain comparable to non-isolated runs."""
    import subprocess
    import tempfile

    merged: dict = {}
    rc_any = 0
    for key in keys:
        with tempfile.NamedTemporaryFile(suffix=".json", delete=False) as tf:
            part = tf.name
        cmd = [sys.executable, os.path.abspath(__file__), "--keys", key,
               "--out", part] + passthrough
        rc = subprocess.call(cmd)
        rc_any |= rc
        try:
            with open(part) as fh:
                merged.update(json.load(fh))
        except Exception:
            merged[key] = {"error": f"isolated run exited {rc} with no output"}
        finally:
            try:
                os.unlink(part)
            except OSError:
                pass
        with open(out_path, "w") as fh:
            json.dump(merged, fh, indent=1)
    print("wrote", out_path, "(isolated)")
    return rc_any


def _release_storage(sc) -> None:
    """Release this key's localCheckpoint blocks before the next key.

    The ContextCleaner frees them only after the Python frames are GC'd,
    and 100×-sized checkpoints from one key otherwise crowd the heap under
    the next key's shuffle (observed: a poisoned JVM failing every later
    key at 1×). GC alone is not enough: the r14 full sweep saw a
    TaskResultLost at the 100× containment point ~24k tasks into the
    session — storage pressure from prior keys' checkpoint blocks evicting
    an in-flight IndirectTaskResult block before the driver fetched it.
    Prior keys' checkpoints are never reused across keys, so a blocking
    unpersist of every still-registered block is safe and makes the
    storage floor per-key, not cumulative."""
    import gc

    gc.collect()
    try:
        sc._jvm.System.gc()
        it = sc._jsc.getPersistentRDDs().values().iterator()
        while it.hasNext():
            it.next().unpersist(True)
    except Exception:
        pass


def main() -> int:
    keys = DEFAULT_KEYS
    out_path = os.path.join(REPO, "scaling_sweep.json")
    runs = 2
    mults_filter: set[int] | None = None
    isolate = False
    passthrough: list[str] = []
    args = sys.argv[1:]
    while args:
        a = args.pop(0)
        if a == "--keys":
            keys = args.pop(0).split(",")
        elif a == "--out":
            out_path = args.pop(0)
        elif a == "--runs":  # measured runs per point (after 1 warmup)
            runs = int(args.pop(0))
            passthrough += ["--runs", str(runs)]
        elif a == "--mults":  # restrict SF points, e.g. --mults 100
            raw = args.pop(0)
            mults_filter = {int(m) for m in raw.split(",")}
            passthrough += ["--mults", raw]
        elif a == "--isolate":  # one fresh JVM per key (see _run_isolated)
            isolate = True
    if isolate:
        return _run_isolated(keys, out_path, passthrough)

    points = [p for p in SF_POINTS if mults_filter is None or p[2] in mults_filter]
    missing = [d for d in [FIXED_DIR] + [p[1] for p in points] if not os.path.isdir(d)]
    if missing:
        print(f"missing SF dirs {missing}: run tools/make_scaled_sf.py first")
        return 1

    from rocana_impala_udfs_spark import get_spark
    from rocana_impala_udfs_spark.session import reset_autosize
    import __spark_entry__ as entrymod

    # Retention raised so the status store never evicts the measured run's
    # own jobs and stages (VERDICT r14 #4: the 100× keys submit thousands
    # of stages per point). No initial-partition override: the engine
    # autosizes initialPartitionNum from the scanned directory's bytes
    # inside load_table, and the sweep runs the shipped defaults.
    spark = get_spark(
        "scaling-sweep",
        extra_conf={"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"},
    )
    meter = Meter(spark)
    qs = dict(entrymod.queries())
    qs.update(_extra_builders())

    results: dict[str, dict] = {}
    for key in keys:
        if key not in qs:
            print(f"skip {key}: not in queries()")
            continue
        row: dict = {"points": {}}
        if key in MAX_MULT:
            row["capped_at_mult"] = MAX_MULT[key]
            row["capped_reason"] = CAP_REASON[key]
        steps = [("fixed", FIXED_DIR, None)] + [
            p for p in points if p[2] <= MAX_MULT.get(key, p[2])
        ]
        fixed = 0.0
        for label, d, mult in steps:
            # each SF point is its own sizing epoch: sticky-max autosizing
            # (ADVICE r14 #1) would otherwise carry the 100× partition
            # count into the NEXT key's 1× point and distort its exponent
            reset_autosize(spark)
            try:
                rec = _point(meter, qs[key], d, runs)
            except Exception as exc:  # a key failing at scale IS a finding
                row["points"][label] = {"error": f"{type(exc).__name__}: {exc}"[:300],
                                        "mult": mult}
                print(f"{key} @{label}: FAILED {type(exc).__name__}", flush=True)
                break  # larger points would fail the same way
            if mult is None:
                fixed = row["fixed_sec"] = rec["sec"]
                continue
            rec["marginal_sec"] = round(max(rec["sec"] - fixed, 0.0), 3)
            rec["mult"] = mult
            row["points"][label] = rec
            st = rec.get("stream", {})
            print(
                f"{key} @{label}: {rec['sec']:.2f}s marginal={rec['marginal_sec']:.2f}s "
                f"shuffle_w={rec['exec']['shuffle_write_bytes'] / 1e6:.1f}MB "
                f"rows={rec['rows_out']} state_rows={st.get('state_rows')} "
                f"sink_rows={st.get('sink_rows')}",
                flush=True,
            )
        _release_storage(spark.sparkContext)
        ok = [p for p in row["points"].values() if "sec" in p]
        mults = [p["mult"] for p in ok]
        secs = [p["sec"] for p in ok]
        for name, ys, tail in (
            ("exponent_all", secs, False),
            ("exponent_tail", secs, True),
            ("exponent_marginal_tail", [p["marginal_sec"] for p in ok], True),
            ("exponent_state_rows", [p.get("stream", {}).get("state_rows") for p in ok], False),
        ):
            e = _fit_exponent(mults[-2:], ys[-2:]) if tail else _fit_exponent(mults, ys)
            row[name] = round(e, 3) if e is not None else None
        results[key] = row
        # flush after every key: a crash/kill mid-sweep keeps the evidence
        with open(out_path, "w") as fh:
            json.dump(results, fh, indent=1)

    print("wrote", out_path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
