"""Per-layer counters read from outside the program.

Everything here runs outside the timed region, except the py4j counter,
which wraps the gateway client's ``send_command`` (one Python call per
py4j round trip) and only counts while armed.

Sources:

- Spark's core status store (``sc._jsc.sc().statusStore()``): jobs of a
  job group, their stages and the stages' task metrics.
- The SQL status store (``sharedState().statusStore()``): per-node SQL
  metrics, used for the Python-worker nodes (``PythonSQLMetrics``).
- Streaming progress, delivered by a ``StreamingQueryListener`` that
  writes each event as one JSON line.

Both status stores are populated with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import Counter

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# SQL metric names of the Python-worker nodes (Spark 4.1 PythonSQLMetrics)
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_TOTAL = "time to run Python workers"
PY_ROWS = "number of output rows"

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


def parse_sql_metric(text: str) -> float:
    """Value of one formatted SQL metric: ``1,234`` for sums, or the total
    line of ``total (min, med, max ...)\\n1.2 KiB (...)`` for size and
    timing metrics (sizes in bytes, times in seconds)."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]*)", text)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return v * _SIZE.get(unit, _TIME.get(unit, 1.0))


class Py4jCounter:
    """Counts the py4j round trips of the thread that set ``armed``, while
    it is set (the memory sampler's calls from its own thread are not
    counted)."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.inner = self.client.send_command
        self._thread = None
        self.calls = 0

        def send_command(*a, **kw):
            if self._thread == threading.get_ident():
                self.calls += 1
            return self.inner(*a, **kw)

        self.client.send_command = send_command

    @property
    def armed(self) -> bool:
        return self._thread is not None

    @armed.setter
    def armed(self, on: bool) -> None:
        self._thread = threading.get_ident() if on else None

    def close(self) -> None:
        self.client.send_command = self.inner


class JobLedger:
    """Reads what Spark ran for a job group after the group finished."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def sql_mark(self) -> int:
        return int(self.sql.executionsCount())

    def jobs(self, group: str) -> dict:
        """Jobs, stages, tasks and task metrics of one job group."""
        out = Counter()
        wall = 0.0
        seen = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(jid)
            out["jobs"] += 1
            start, end = _opt(job.submissionTime()), _opt(job.completionTime())
            if start is not None and end is not None:
                wall += (end.getTime() - start.getTime()) / 1e3
            for sid in _seq(job.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never submitted
                    continue
                if st.status().toString() != "COMPLETE":  # e.g. skipped
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["jvm_gc_s"] += st.jvmGcTime() / 1e3
                out["input_bytes"] += st.inputBytes()
                out["input_rows"] += st.inputRecords()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
        out["job_wall_s"] = wall
        return dict(out)

    def python_metrics(self, since: int) -> dict:
        """Python-worker SQL metrics of the SQL executions after mark
        ``since``, summed over every Python node."""
        out = Counter()
        for ex in _seq(self.sql.executionsList(since, 1 << 20)):
            eid = ex.executionId()
            graph = self.sql.planGraph(eid)
            values = self.sql.executionMetrics(eid)
            for node in _seq(graph.allNodes()):
                metrics = {m.name(): m.accumulatorId() for m in _seq(node.metrics())}
                if PY_SENT not in metrics:
                    continue
                for key, name in (("python_bytes_sent", PY_SENT),
                                  ("python_bytes_received", PY_RECEIVED),
                                  ("python_boot_s", PY_BOOT),
                                  ("python_total_s", PY_TOTAL),
                                  ("python_rows_out", PY_ROWS)):
                    if name in metrics:
                        text = _opt(values.get(metrics[name]))
                        if text:
                            out[key] += parse_sql_metric(text)
        return dict(out)


def jvm_python_layers(tot: dict, busy_wall_s: float, cores: int) -> dict:
    """The sources / operators.jvm / operators.python per-layer metrics
    from summed ``JobLedger`` counters; ``busy_wall_s`` is the wall time
    the jobs ran in, for ``core_busy_frac``."""
    run_s = tot.get("executor_run_s", 0.0)
    out = {
        "sources.input_bytes": tot.get("input_bytes", 0),
        "sources.input_rows": tot.get("input_rows", 0),
        "operators.jvm.core_busy_frac": (
            run_s / (busy_wall_s * cores) if busy_wall_s else 0.0),
    }
    for key in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "jvm_gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
                "spill_bytes"):
        out[f"operators.jvm.{key}"] = tot.get(key, 0)
    for key in ("python_total_s", "python_boot_s", "python_bytes_sent",
                "python_bytes_received", "python_rows_out"):
        out[f"operators.python.{key}"] = tot.get(key, 0)
    return out


class ProgressLog(StreamingQueryListener):
    """Writes every streaming event as one JSON line."""

    def __init__(self, path: str):
        self.f = open(path, "a")
        self.terminated: set[str] = set()

    def _write(self, kind: str, payload: dict) -> None:
        self.f.write(json.dumps({"event": kind, "at": time.time(), **payload}) + "\n")
        self.f.flush()

    def onQueryStarted(self, event) -> None:
        self._write("started", {"name": event.name, "runId": str(event.runId),
                                "timestamp": event.timestamp})

    def onQueryProgress(self, event) -> None:
        self._write("progress", json.loads(event.progress.json))

    def onQueryTerminated(self, event) -> None:
        self._write("terminated", {"runId": str(event.runId),
                                   "exception": event.exception})
        self.terminated.add(str(event.runId))

    def wait_terminated(self, run_id: str, timeout_s: float = 10.0) -> None:
        """Wait until the listener bus has delivered the query's end."""
        deadline = time.monotonic() + timeout_s
        while run_id not in self.terminated and time.monotonic() < deadline:
            time.sleep(0.05)

    def close(self) -> None:
        self.f.close()


def read_progress(path: str) -> dict[str, list[dict]]:
    """Progress events of a ``ProgressLog`` file, per query run id."""
    out: dict[str, list[dict]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            if ev["event"] == "progress":
                out.setdefault(ev["runId"], []).append(ev)
    return out
