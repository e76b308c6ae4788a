"""stream_replay: the events table replayed through the file source.

Input layout (from the run seed): ``COPIES`` copies of the events table,
copy k shifted by k x the table's time span (and its event ids by k x its
row count), so keyed state carries over from copy to copy; a seeded 2% of
rows delivered twice (at-least-once duplicates, which the dedup pipeline
removes); the rows cut into ``FILES`` ts-ordered files at seeded
boundaries, with each file's rows in arrival order, i.e. ts plus a seeded
jitter below ``JITTER_US`` (less than the watermark delay, so no row is
late); files get increasing mtimes so the replay order is fixed.

Each pipeline replays the files with ``maxFilesPerTrigger`` under
``availableNow`` (closed loop: the next micro-batch starts when the
previous one ends) into a memory sink, ended by ``sinks.drain_available``.
Its catch-up time runs from just before ``start()`` to the end of the last
micro-batch that carried input, taken from the progress timestamps (ST1's
processing-time timeout keeps the query alive after its input is done, so
the drain's wall clock would overstate it). After the replay, the sink's
rows are compared with the pipeline's batch twin over the same files.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from demo_apache_flink_streaming_mode_spark.operators import (
    joins, stateful as batch_stateful, windows)
from demo_apache_flink_streaming_mode_spark.schemas import TESTDATA_TABLES
from demo_apache_flink_streaming_mode_spark.streaming import (
    pipelines, sinks, sources, stateful)

COPIES = 2
FILES = 12
FILES_PER_TRIGGER = 3
JITTER_US = 5 * 60 * 1_000_000
DUP_FRAC = 0.02
DELAY = "10 minutes"
EVENTS = TESTDATA_TABLES["events"]


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def stage(events_path: str, out_dir: str, seed: int) -> None:
    """Write the seeded replay files."""
    rng = np.random.default_rng(seed)
    base = pq.read_table(events_path)
    n = base.num_rows
    # microseconds whatever the table's unit: a nanosecond ``ts`` would read
    # back as BIGINT under ``nanosAsLong`` and fail ``withWatermark``
    ts = base["ts"].cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
    span = int(ts.max() - ts.min()) + 1
    cols = {c: base[c].to_numpy(zero_copy_only=False) for c in base.column_names}
    parts = []
    for k in range(COPIES):
        p = dict(cols)
        p["event_id"] = cols["event_id"] + k * n
        p["ts"] = ts + k * span
        parts.append(p)
    rows = {c: np.concatenate([p[c] for p in parts]) for c in cols}
    dup = np.flatnonzero(rng.random(len(rows["ts"])) < DUP_FRAC)
    idx = np.sort(np.concatenate([np.arange(len(rows["ts"])), dup]), kind="stable")
    rows = {c: v[idx] for c, v in rows.items()}
    total = len(idx)
    step = total / FILES
    cuts = [0] + [int(round((i + rng.uniform(-0.25, 0.25)) * step))
                  for i in range(1, FILES)] + [total]
    arrival = rows["ts"] + rng.integers(0, JITTER_US, total)
    os.makedirs(out_dir, exist_ok=True)
    mtime0 = 1_700_000_000
    for i in range(FILES):
        lo, hi = cuts[i], cuts[i + 1]
        order = lo + np.argsort(arrival[lo:hi], kind="stable")
        table = pa.table({
            "event_id": rows["event_id"][order],
            "ts": pa.array(rows["ts"][order], pa.timestamp("us", tz="UTC")),
            "user_id": rows["user_id"][order],
            "event_type": rows["event_type"][order],
            "value": rows["value"][order],
            "props": rows["props"][order]})
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (mtime0 + i, mtime0 + i))


def _ms(iso: str) -> float:
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1e3


# --- pipelines: name -> (streaming form, batch twin) ----------------------

def _clicks_buys(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    def pick(t: str) -> DataFrame:
        return df.filter(F.col("event_type") == t).select("user_id", "ts", "event_id")
    return pick("click"), pick("purchase")


def a4_stream(s):
    return pipelines.tumbling_count(pipelines.with_event_time(s, "ts", DELAY),
                                    "ts", "1 day", keys=["user_id", "event_type"])


def a4_twin(b, wm):
    return (windows.tumbling_count(b, "ts", "1 day", keys=["user_id", "event_type"])
            .filter(F.col("window_start") + 86_400_000 <= wm))


def a6_stream(s):
    return pipelines.session_stats(pipelines.with_event_time(s, "ts", DELAY),
                                   "ts", "6 hours", "user_id")


def a6_twin(b, wm):
    return (windows.session_stats(b, "ts", "6 hours", "user_id")
            .filter(F.col("max_ts") + 21_600_000 <= wm))


def dedup_stream(s):
    return pipelines.dedup_stream(s, ["event_id"], ts="ts", delay=DELAY)


def dedup_twin(b, wm):
    return b.dropDuplicates(["event_id"])


def j1_stream(s):
    return pipelines.window_join(*_clicks_buys(s), "user_id", "ts", "1 hour", DELAY)


def j1_twin(b, wm):
    return (joins.window_join(*_clicks_buys(b), "user_id", "ts", "1 hour")
            .select("user_id", "window_start", "event_id_l", "event_id_r"))


def st1_stream(s):
    return stateful.repeat_action_alert(s, "user_id", "ts", "event_type",
                                        action="error", threshold_ms=3_600_000)


def st1_twin(b, wm):
    return batch_stateful.repeat_action_alert(b, "user_id", "ts", "event_type",
                                              action="error", threshold_ms=3_600_000)


PIPELINES = {
    "a4_tumbling": (a4_stream, a4_twin),
    "a6_session": (a6_stream, a6_twin),
    "dedup": (dedup_stream, dedup_twin),
    "j1_window_join": (j1_stream, j1_twin),
    "st1_repeat_alert": (st1_stream, st1_twin),
}


def replay(spark: SparkSession, name: str, src: str, work: str, tag: str,
           counter=None) -> dict:
    """Replay ``src`` through pipeline ``name`` into the memory table
    ``<tag>_<name>``; returns the query's progress and timings. With
    ``counter``, the py4j round trips of building the pipeline are
    counted."""
    table = f"{tag}_{name}"
    rec = {"table": table, "progress": [], "error": None, "py4j_calls": 0}
    try:
        if counter:
            counter.calls, counter.armed = 0, True
        t0 = time.perf_counter()
        s = sources.file_stream(spark, src, EVENTS, fmt="parquet",
                                max_files_per_trigger=FILES_PER_TRIGGER)
        out = PIPELINES[name][0](s)
        rec["construct_s"] = time.perf_counter() - t0
        if counter:
            counter.armed = False
            rec["py4j_calls"] = counter.calls
        rec["start_ms"] = time.time() * 1e3
        q = (out.writeStream.format("memory").queryName(table)
             .outputMode("append")
             .option("checkpointLocation", os.path.join(work, "ckpt", table))
             .trigger(availableNow=True).start())
        rec["run_id"] = str(q.runId)
        sinks.drain_available(q, timeout_s=100)
        err = q.exception()
        rec["error"] = None if err is None else str(err)[:400]
        rec["progress"] = [json.loads(p.json) for p in q.recentProgress]
    except Exception:
        rec["error"] = traceback.format_exc(limit=3)
    finally:
        if counter:
            counter.armed = False
    if rec["error"]:
        _log(f"PIPELINE FAIL {name}: {rec['error']}")
    return rec


def catch_up(rec: dict) -> dict:
    """Catch-up seconds, input rows and input micro-batch latencies."""
    inputs = [p for p in rec["progress"] if p["numInputRows"] > 0]
    if not inputs:
        return {"catch_up_s": 0.0, "rows": 0, "batch_ms": []}
    end_ms = max(_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]
                 for p in inputs)
    return {"catch_up_s": (end_ms - rec["start_ms"]) / 1e3,
            "rows": sum(p["numInputRows"] for p in inputs),
            "batch_ms": [p["durationMs"]["triggerExecution"] for p in inputs]}


def check(spark: SparkSession, name: str, src: str, rec: dict) -> list[str]:
    """Compare the sink's rows with the batch twin over the same files."""
    if rec["error"]:
        return [rec["error"]]
    if not any(p["numInputRows"] > 0 for p in rec["progress"]):
        return [f"{name}: no micro-batch carried input"]
    twin = PIPELINES[name][1]
    wm_iso = rec["progress"][-1].get("eventTime", {}).get("watermark")
    wm = _ms(wm_iso) if wm_iso else 0.0
    want = twin(spark.read.schema(EVENTS).parquet(src), wm)
    got = spark.table(rec["table"]).select(*want.columns)
    key = lambda r: tuple("" if v is None else str(v) for v in r)
    want_rows = sorted((tuple(r) for r in want.collect()), key=key)
    got_rows = sorted((tuple(r) for r in got.collect()), key=key)
    if not want_rows:
        return [f"{name}: the batch twin is empty, nothing was checked"]
    if got_rows != want_rows:
        return [f"{name}: {len(got_rows)} rows streamed, {len(want_rows)} "
                f"expected; first differences "
                f"{[r for r in got_rows if r not in set(want_rows)][:3]} / "
                f"{[r for r in want_rows if r not in set(got_rows)][:3]}"]
    return []


def layer_metrics(records: dict) -> dict:
    """Workload totals of the streaming per-layer metrics."""
    def med(key: str) -> float:
        vals = [p["durationMs"].get(key, 0) for r in records.values()
                for p in r["progress"] if p["numInputRows"] > 0]
        return float(np.median(vals)) if vals else 0.0

    def ops(r):
        return [op for p in r["progress"] for op in p.get("stateOperators", [])]

    def state_ms(key: str) -> float:
        vals = [op.get(key, 0) for r in records.values()
                for p in r["progress"] if p["numInputRows"] > 0
                for op in p.get("stateOperators", [])]
        return float(np.median(vals)) if vals else 0.0

    m = {
        "catalyst.query_planning_ms": med("queryPlanning"),
        "sources.latest_offset_ms": med("latestOffset"),
        "sources.get_batch_ms": med("getBatch"),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.commit_offsets_ms": med("commitOffsets"),
        "streaming.state_rows_total": sum(
            max((op.get("numRowsTotal", 0) for op in ops(r)), default=0)
            for r in records.values()),
        "streaming.state_rows_updated": sum(
            op.get("numRowsUpdated", 0) for r in records.values() for op in ops(r)),
        "streaming.state_memory_bytes": sum(
            max((op.get("memoryUsedBytes", 0) for op in ops(r)), default=0)
            for r in records.values()),
        "streaming.state_commit_ms": state_ms("commitTimeMs"),
        "streaming.state_update_ms": state_ms("allUpdatesTimeMs"),
        "streaming.state_removal_ms": state_ms("allRemovalsTimeMs"),
        "streaming.rows_dropped_by_watermark": sum(
            op.get("numRowsDroppedByWatermark", 0)
            for r in records.values() for op in ops(r)),
    }
    for name, r in records.items():
        c = catch_up(r)
        m[f"streaming.rows_per_s.{name}"] = (
            c["rows"] / c["catch_up_s"] if c["catch_up_s"] else 0.0)
    return m
