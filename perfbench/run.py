"""Benchmark of the engine: batch query passes and a stream replay.

Run from the repository root:

    python3 perfbench/run.py --workload batch_core --seed 1 --seconds 10 --trace 0

Workloads (see ``perfbench/DESIGN.md`` for why each exists and which layer
metric should move which end-to-end metric):

- ``batch_core``: registry queries of the Flink-reference and TPC-H
  families (no Python workers);
- ``stream_replay``: five streaming pipelines replaying the events table
  through the file source.

Every file a run writes, its generated input tables included, stays under
``.bench_build/perfbench`` in the working directory. With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics of a traced
replay, and ``trace.overhead_frac`` compares that replay's time with the
untraced timing of the same run. Per-query and per-batch ledgers are
written under ``.bench_build/perfbench/ledger``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import threading
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PKG = "demo_apache_flink_streaming_mode_spark"
# the smallest scale at which events and orders reach
# sources.batch._SPLIT_MIN_ROWS, so load_table splits them as it does at
# sf0.1 and above
SF = 0.025
DRIVER_MEM = "2g"
WORKLOADS = ("batch_core", "stream_replay")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (``statistics.quantiles`` inclusive)."""
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * pct / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values: list[float]) -> float:
    vals = [v for v in values if v > 0]
    return math.exp(sum(map(math.log, vals)) / len(vals)) if vals else 0.0


def host_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def host_ram_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / (1 << 20)
    return 0.0


def prepare_env(work: str) -> None:
    """Process environment for the Spark JVM and its Python workers; set
    before the JVM starts."""
    cores = host_cores()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        # session.get_spark defaults to 48g, more than the host has
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # the mapInPandas workers import the package from the repo root
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "pyspark-shell"),
    }
    os.environ.update(env)


def cold_setup(workload: str, data_dir: str, src: str, seed: int):
    """The set-up a new process meets: ``session.get_spark``, which
    launches the JVM, the session's first job, and for ``stream_replay``
    staging the replay files into ``src``. Returns the session, the
    seconds to its first job's end and the seconds of the whole set-up
    (imports excluded)."""
    import stream
    from demo_apache_flink_streaming_mode_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.range(0, 1000, 1, spark.sparkContext.defaultParallelism) \
        .selectExpr("sum(id)").collect()
    session_s = time.perf_counter() - t0
    if workload == "stream_replay":
        stream.stage(os.path.join(data_dir, "events.parquet"), src, seed)
    return spark, session_s, time.perf_counter() - t0


def calibrate(spark) -> float:
    """The host-control job of ``bench.py`` (no I/O, no query code), timed
    after a small run of the same job has compiled it."""
    for rows in (2_000_000, 200_000_000):
        t0 = time.perf_counter()
        (spark.range(0, rows, 1, 32)
         .selectExpr("bit_xor(xxhash64(id)) as h")
         .write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t0


def _status_kb(pid: int, field: str, name: str = "status") -> int:
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, stack = [], list(children.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


class PeakMemory(threading.Thread):
    """Peak memory while the workload runs: the Spark JVM's peak resident
    set (its VmHWM, which counts heap pages only once the heap has grown
    into them), the JVM's own peak heap use (the summed peak usage of its
    heap memory pools, reset when the workload starts), and the peak of
    the summed proportional set size (shared pages split between the
    processes that map them) of the Python worker processes, sampled every
    0.2 s."""

    def __init__(self, spark):
        super().__init__(daemon=True)
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self.heap_pools = [p for p in mf.getMemoryPoolMXBeans()
                           if p.getType().toString() == "Heap memory"]
        for p in self.heap_pools:
            p.resetPeakUsage()
        self.python_kb = 0
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(0.2):
            kb = sum(_status_kb(p, "Pss:", "smaps_rollup")
                     for p in _descendants(self.jvm_pid))
            self.python_kb = max(self.python_kb, kb)

    def stop(self) -> tuple[float, float, float]:
        """Returns MB: (JVM resident, JVM heap used, Python workers)."""
        self.done.set()
        self.join()
        heap = sum(p.getPeakUsage().getUsed() for p in self.heap_pools)
        return (_status_kb(self.jvm_pid, "VmHWM:") / 1024.0, heap / (1 << 20),
                self.python_kb / 1024.0)


def stop_jvm(spark) -> None:
    """Stop the session and wait until the JVM (and with it every Python
    worker) has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def run_batch(spark, data_dir: str, seed: int, seconds: float,
              traced: bool, ledger_dir: str) -> tuple[dict, int, int]:
    import batch
    import ledger as tr

    queries = batch.core_queries()
    failed: Counter = Counter()

    t0 = time.perf_counter()
    checked = batch.check_pass(spark, queries, data_dir, seed)
    log(f"check pass {time.perf_counter() - t0:.1f}s")
    n_checked = sum(1 for c in checked.values() if c["problems"])
    if traced:
        counter = tr.Py4jCounter(spark)
        t0 = time.perf_counter()
        untraced, traced_runs, attempted = batch.traced_passes(
            spark, queries, data_dir, seed, counter, failed)
        counter.close()
        log(f"traced passes {time.perf_counter() - t0:.1f}s")
        layers = batch.layer_metrics(traced_runs,
                                     spark.sparkContext.defaultParallelism)
        both = [n for n in untraced if n in traced_runs]
        layers["trace.overhead_frac"] = (
            sum(traced_runs[n][0]["time_s"] for n in both)
            / sum(untraced[n]["time_s"] for n in both) - 1.0)
        dump(ledger_dir, f"batch_core-seed{seed}.json",
             {"checks": checked, "untraced": untraced, "traced": traced_runs})
        metrics = {"layers": layers}
    else:
        samples, attempted = batch.timed_passes(
            spark, queries, data_dir, seed, max(1, round(seconds / 10)), failed)
        per_q = batch.summarize(samples)
        times = [r["time_s"] for r in per_q.values()]
        exec_ms = [r["exec_s"] * 1e3 for r in per_q.values()]
        metrics = {
            "total_s": sum(times),
            "query_p50_s": percentile(times, 50),
            "query_p85_s": percentile(times, 85),
            "stream_rows_per_s": geomean([
                checked[n]["input_rows"] / r["time_s"]
                for n, r in per_q.items() if checked[n]["input_rows"]]),
            "batch_p50_ms": percentile(exec_ms, 50),
            "batch_p90_ms": percentile(exec_ms, 90),
        }
    return metrics, attempted + len(queries), sum(failed.values()) + n_checked


def run_stream(spark, src: str, work: str, seed: int, traced: bool,
               ledger_dir: str) -> tuple[dict, int, int]:
    import stream

    # warm-up on the first file, results discarded: A4 warms the file
    # source, state store and sink, A6 the session-window operators (cold,
    # its first micro-batch took 1.6x its others and fell among J1's and
    # ST1's in the pooled batch percentiles), ST1 the Python workers
    warm = os.path.join(work, "stream-warm")
    os.makedirs(warm)
    first = sorted(os.listdir(src))[0]
    shutil.copy2(os.path.join(src, first), warm)
    t0 = time.perf_counter()
    for name in ("a4_tumbling", "a6_session", "st1_repeat_alert"):
        stream.replay(spark, name, warm, work, "warm")
    log(f"warm-up {time.perf_counter() - t0:.1f}s")
    if traced:
        return traced_stream(spark, src, work, seed, ledger_dir)

    recs = {name: stream.replay(spark, name, src, work, "timed")
            for name in stream.PIPELINES}
    t0 = time.perf_counter()
    failed = sum(1 for name, rec in recs.items()
                 if log_problems(stream.check(spark, name, src, rec)))
    log(f"checks {time.perf_counter() - t0:.1f}s")
    catch = {name: stream.catch_up(rec) for name, rec in recs.items()}
    for name, c in catch.items():
        log(f"{name}: {c['rows']} rows in {c['catch_up_s']:.2f}s, "
            f"input batches {c['batch_ms']} ms")
    secs = [c["catch_up_s"] for c in catch.values()]
    batch_ms = [ms for c in catch.values() for ms in c["batch_ms"]]
    metrics = {
        "total_s": sum(secs),
        "query_p50_s": percentile(secs, 50),
        "query_p85_s": percentile(secs, 85),
        "stream_rows_per_s": geomean([c["rows"] / c["catch_up_s"]
                                      for c in catch.values() if c["catch_up_s"]]),
        "batch_p50_ms": percentile(batch_ms, 50) if batch_ms else 0.0,
        "batch_p90_ms": percentile(batch_ms, 90) if batch_ms else 0.0,
    }
    return metrics, len(recs) + len(batch_ms), failed


def traced_stream(spark, src: str, work: str, seed: int,
                  ledger_dir: str) -> tuple[dict, int, int]:
    """Each pipeline replayed once traced (progress listener, job ledger,
    py4j counter) and once untraced, alternating which goes first."""
    import stream
    import ledger as tr

    jl = tr.JobLedger(spark)
    counter = tr.Py4jCounter(spark)
    log_path = os.path.join(ledger_dir, f"stream_replay-seed{seed}.progress.jsonl")
    if os.path.exists(log_path):
        os.remove(log_path)
    untraced, traced = {}, {}
    for i, name in enumerate(stream.PIPELINES):
        steps = ("untraced", "traced") if i % 2 == 0 else ("traced", "untraced")
        for step in steps:
            if step == "untraced":
                untraced[name] = stream.replay(spark, name, src, work, step)
                continue
            listener = tr.ProgressLog(log_path)
            spark.streams.addListener(listener)
            mark = jl.sql_mark()
            rec = stream.replay(spark, name, src, work, step, counter)
            if rec.get("run_id"):
                listener.wait_terminated(rec["run_id"])
                rec["jobs"] = jl.jobs(rec["run_id"])
            spark.streams.removeListener(listener)
            listener.close()
            rec["python"] = jl.python_metrics(mark)
            traced[name] = rec
    counter.close()
    by_run = tr.read_progress(log_path)
    for rec in traced.values():
        rec["progress"] = by_run.get(rec.get("run_id"), [])
    failed = sum(1 for recs in (untraced, traced) for name, rec in recs.items()
                 if log_problems(stream.check(spark, name, src, rec)))
    tot: Counter = Counter()
    wall = 0.0
    for rec in traced.values():
        tot.update({k: v for k, v in rec.get("jobs", {}).items() if k != "job_wall_s"})
        tot.update(rec["python"])
        wall += rec.get("jobs", {}).get("job_wall_s", 0.0)
    layers = stream.layer_metrics(traced)
    layers.update(tr.jvm_python_layers(tot, wall, spark.sparkContext.defaultParallelism))
    construct_s = sum(r.get("construct_s", 0.0) for r in traced.values())
    layers.update({
        "plans.construct_s": construct_s,
        "plans.construct_self_s": construct_s,
        "plans.py4j_calls": sum(r["py4j_calls"] for r in traced.values()),
        "operators.jvm.exec_s": wall,
        "trace.overhead_frac": (
            sum(stream.catch_up(r)["catch_up_s"] for r in traced.values())
            / sum(stream.catch_up(r)["catch_up_s"] for r in untraced.values())
            - 1.0),
    })
    dump(ledger_dir, f"stream_replay-seed{seed}.json",
         {step: {name: {k: v for k, v in r.items() if k != "progress"}
                 for name, r in recs.items()}
          for step, recs in (("untraced", untraced), ("traced", traced))})
    attempted = sum(1 + len(stream.catch_up(r)["batch_ms"])
                    for recs in (untraced, traced) for r in recs.values())
    return {"layers": layers}, attempted, failed


def log_problems(problems: list[str]) -> bool:
    for p in problems:
        log(f"CHECK FAIL {p}")
    return bool(problems)


def dump(ledger_dir: str, name: str, payload) -> None:
    path = os.path.join(ledger_dir, name)
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, default=str)
    log(f"ledger: {os.path.relpath(path, ROOT)}")


def load_spec() -> dict:
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.perf_counter()

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        log(f"no {PKG}/ under {ROOT}: run from the repository root")
        return 2
    spec = load_spec()
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    ledger_dir = os.path.join(base, "ledger")
    os.makedirs(ledger_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_env(work)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

    import datagen
    data_dir = os.path.join(work, "tables")
    datagen.write_tables(data_dir, SF)
    spark = None
    try:
        src = os.path.join(work, "stream")
        spark, session_s, setup_s = cold_setup(args.workload, data_dir, src,
                                               args.seed)
        calib_s = calibrate(spark)
        log(f"setup {setup_s:.2f}s calib {calib_s:.2f}s")
        memory = PeakMemory(spark)
        memory.start()
        if args.workload == "stream_replay":
            metrics, attempted, failed = run_stream(
                spark, src, work, args.seed, bool(args.trace), ledger_dir)
        else:
            metrics, attempted, failed = run_batch(
                spark, data_dir, args.seed, args.seconds, bool(args.trace),
                ledger_dir)
        metrics["setup_s"] = setup_s
        metrics["peak_rss_mb"], heap_mb, python_mb = memory.stop()
        log(f"peak memory: JVM {metrics['peak_rss_mb']:.0f} MB resident, "
            f"{heap_mb:.0f} MB heap used; Python workers {python_mb:.0f} MB")
        layers = metrics.pop("layers", {})
        layers["operators.jvm.heap_peak_mb"] = heap_mb
        layers["operators.python.python_peak_pss_mb"] = python_mb
        layers["session.session_start_s"] = session_s
        layers["session.calib_s"] = calib_s
    finally:
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    log(f"run took {time.perf_counter() - t_start:.1f}s")

    print(json.dumps({"host": {"nproc": host_cores(),
                               "ram_gb": round(host_ram_gb(), 1),
                               "calib_s": calib_s, "sf": SF,
                               "workload": args.workload, "seed": args.seed}}))
    entries = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else metrics
    out = {e["name"]: {"value": source.get(e["name"], 0.0), "unit": e["unit"]}
           for e in entries}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
