"""batch_core: registry queries, checked against their oracle, then timed.

One operation is one registry query. Each run:

1. check pass (untimed, also the warm-up at the bench scale): every query
   of the workload runs once and its result is compared with its DuckDB
   ``oracle_sql`` through ``tests/oracle.compare``; a query without an
   oracle gets the rows-only check (it must run to a row count);
2. timed passes, one per 10 s of ``--seconds``: a fixed amount of work,
   so a slower host does not change what is measured. Each pass runs every
   query in a seed-permuted order; a query's time is ``Query.fn``
   (construct) + ``executedPlan()`` (plan) + noop write (exec) +
   ``clearCache()``;
3. with ``--trace 1``, instead of 2: two traced runs of every query,
   tagged by job groups (construct and execute apart) with the py4j round
   trips of ``Query.fn`` counted; the job, stage, task and Python-worker
   metrics are read after each run. One untraced run per query, placed
   before the first traced run for half of the queries and after it for
   the others, gives the tracing overhead.
"""

from __future__ import annotations

import random
import statistics
import sys
import time
import traceback
from collections import Counter

from pyspark.sql import SparkSession

import ledger as tr

# The Flink-reference / TPC-H registry families (no Python workers).
CORE_FAMILIES = ("core_transforms", "core_windows", "count_windows",
                 "keyed_state", "cep", "stream_joins", "timeseries",
                 "changelog", "events_ops", "quantiles", "tpch",
                 "join_layout", "sketches_hll", "sketches_cms")
# The timed subset of their queries, picked by ``profile_core.py`` to keep
# the full set's time distribution and construct share (see DESIGN.md).
CORE_QUERIES: tuple[str, ...] = (
    "a7_keyed_agg",
    "t1_parse_project",
    "t2_filter",
    "cep_action_bigrams",
    "a12_sliding_count_window",
    "cl_latest_state",
    "q13_order_distribution",
    "cl_state_summary",
    "q22_idle_balance",
    "q14_promo_revenue",
    "events_zorder_stats",
    "q15_top_supplier",
    "cep_funnel_rates",
    "sketch_hll_windowed",
    "q11_important_stock",
    "sketch_hll_merge",
)


def family_queries():
    """Every query of ``CORE_FAMILIES``, as (family, query) pairs."""
    from demo_apache_flink_streaming_mode_spark.plans.registry import FAMILIES, get
    return [(f, get(n)) for f in CORE_FAMILIES for n in FAMILIES[f]]


def core_queries():
    from demo_apache_flink_streaming_mode_spark.plans.registry import get
    return [get(n) for n in CORE_QUERIES]


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def check_pass(spark: SparkSession, queries, data_dir: str, seed: int) -> dict:
    """Untimed oracle check of every query, in a seed-permuted order.
    Returns per query its problems (empty when it matches) and the rows of
    the source files its final plan reads."""
    import oracle
    import pyarrow.parquet as pq
    con = oracle.duckdb_con(data_dir)
    order = list(queries)
    random.Random(seed).shuffle(order)
    out = {}
    for q in order:
        rec = {"problems": [], "input_rows": 0}
        try:
            df = q.fn(spark, data_dir)
            rec["input_rows"] = sum(
                pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows
                for f in df.inputFiles())
            if q.oracle is None:
                df.count()
            else:
                rec["problems"] = oracle.compare(df, con, q.oracle)
        except Exception as e:
            rec["problems"] = [f"raised {type(e).__name__}: {str(e)[:400]}"]
        spark.catalog.clearCache()
        if rec["problems"]:
            _log(f"CHECK FAIL {q.name}: {rec['problems']}")
        out[q.name] = rec
    con.close()
    return out


def time_query(spark: SparkSession, q, data_dir: str, sc=None,
               counter=None, group: str = "") -> dict:
    """One timed run of ``q``: construct, plan, noop write, clearCache.

    With ``sc`` (tracing) the construct and execute phases run under the
    job groups ``<group>:construct`` and ``<group>:exec``, and ``counter``
    counts the py4j round trips of the construct phase."""
    if sc is not None:
        sc.setJobGroup(f"{group}:construct", q.name)
        counter.calls, counter.armed = 0, True
    t0 = time.perf_counter()
    df = q.fn(spark, data_dir)
    t1 = time.perf_counter()
    if sc is not None:
        counter.armed = False
        sc.setJobGroup(f"{group}:exec", q.name)
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    spark.catalog.clearCache()
    t4 = time.perf_counter()
    out = {"construct_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2,
           "time_s": t4 - t0}
    if counter is not None:
        out["py4j_calls"] = counter.calls
    return out


def timed_passes(spark, queries, data_dir: str, seed: int, passes: int,
                 failed: Counter) -> tuple[dict, int]:
    """``passes`` timed passes; returns per-query samples and the number of
    timed executions."""
    samples: dict[str, list[dict]] = {q.name: [] for q in queries}
    start = time.perf_counter()
    for p in range(passes):
        order = list(queries)
        random.Random(seed * 1000 + p).shuffle(order)
        for q in order:
            try:
                samples[q.name].append(time_query(spark, q, data_dir))
            except Exception:
                failed[q.name] += 1
                _log(f"TIMED FAIL {q.name}\n{traceback.format_exc()}")
                spark.catalog.clearCache()
    _log(f"timed passes: {passes} in {time.perf_counter() - start:.1f}s")
    return samples, passes * len(queries)


def summarize(samples: dict) -> dict:
    """Per-query median of each phase over the timed passes."""
    out = {}
    for name, runs in samples.items():
        if runs:
            out[name] = {k: statistics.median(r[k] for r in runs) for k in runs[0]}
    return out


def _traced_run(spark, q, data_dir: str, jl, counter, group: str) -> dict:
    """One traced run of ``q`` plus what Spark ran for it."""
    sc = spark.sparkContext
    mark = jl.sql_mark()
    try:
        rec = time_query(spark, q, data_dir, sc=sc, counter=counter, group=group)
    finally:
        counter.armed = False
        sc._jsc.clearJobGroup()
    eager = jl.jobs(f"{group}:construct")
    execd = jl.jobs(f"{group}:exec")
    rec["eager_jobs"] = eager.get("jobs", 0)
    rec["eager_job_s"] = eager.get("job_wall_s", 0.0)
    jvm = Counter(eager)
    jvm.update(execd)
    rec.update({k: v for k, v in jvm.items() if k != "job_wall_s"})
    rec.update(jl.python_metrics(mark))
    return rec


def traced_passes(spark, queries, data_dir: str, seed: int, counter,
                  failed: Counter) -> tuple[dict, dict, int]:
    """Two traced runs of every query, and one untraced run placed just
    before the first traced run for half of the queries and just after it
    for the other half. Returns per query the untraced record, the list of
    traced records, and the number of runs."""
    jl = tr.JobLedger(spark)
    order = list(queries)
    random.Random(seed * 1000 + 999).shuffle(order)
    untraced: dict[str, dict] = {}
    traced: dict[str, list[dict]] = {}
    attempted = 0
    for rnd in range(2):
        for i, q in enumerate(order):
            steps = ["traced"]
            if rnd == 0:
                steps.insert(i % 2, "untraced")
            for step in steps:
                attempted += 1
                try:
                    if step == "untraced":
                        untraced[q.name] = time_query(spark, q, data_dir)
                    else:
                        traced.setdefault(q.name, []).append(_traced_run(
                            spark, q, data_dir, jl, counter, f"{q.name}#{rnd}"))
                except Exception:
                    failed[q.name] += 1
                    _log(f"TRACED FAIL {q.name}\n{traceback.format_exc()}")
                    spark.catalog.clearCache()
    return untraced, traced, attempted


def layer_metrics(traced: dict[str, list[dict]], cores: int) -> dict:
    """Workload totals of the per-layer metrics: per query the median of
    its traced runs, summed over the queries."""
    tot = Counter()
    for runs in traced.values():
        tot.update({k: statistics.median(r[k] for r in runs)
                    for k in runs[0] if isinstance(runs[0][k], (int, float))})
    calls = [[r["py4j_calls"] for r in runs] for runs in traced.values()]
    out = {
        "plans.construct_s": tot["construct_s"],
        "plans.construct_self_s": tot["construct_s"] - tot["eager_job_s"],
        "plans.py4j_calls": sum(statistics.median(c) for c in calls),
        "plans.py4j_calls_spread": sum(max(c) - min(c) for c in calls),
        "plans.eager_jobs": tot["eager_jobs"],
        "plans.eager_job_s": tot["eager_job_s"],
        "catalyst.plan_s": tot["plan_s"],
        "operators.jvm.exec_s": tot["exec_s"],
    }
    out.update(tr.jvm_python_layers(tot, tot["exec_s"] + tot["eager_job_s"], cores))
    return out
