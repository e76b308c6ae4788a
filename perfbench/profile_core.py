"""Profile every query of the ``batch_core`` families and pick the subset.

Run from the repository root:

    python3 perfbench/profile_core.py [--seed 1] [--size 16] [--max-rows 50000]

It generates the benchmark's tables, checks every query of the 14
``batch_core`` families against its oracle (the warm-up), runs each once
untimed-traced as ``batch.traced_passes`` does, and then picks ``--size``
queries stratified by time: the queries, sorted by untraced time, are cut
into ``--size`` bins of equal count, and from each bin the query whose
construct share (``Query.fn`` seconds / query seconds) is closest to the
bin's is taken, among those whose result has at most ``--max-rows`` rows:
the oracle check of every run compares results row by row in Python
(about 30 us a row), so a 262k-row result would cost each run more than
all the timed passes of the others. It prints the per-query ledger and the time distribution
and construct share of the full set next to those of the pick, and writes
both to ``.bench_build/perfbench/ledger/profile_core-seed<n>.json``. The
pick is copied into ``batch.CORE_QUERIES`` by hand, so the workload stays
fixed from commit to commit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def profile(families, untraced: dict, traced: dict,
            result_rows: dict) -> list[dict]:
    rows = []
    for family, q in families:
        runs = traced[q.name]
        med = {k: statistics.median(r[k] for r in runs)
               for k in ("construct_s", "eager_job_s", "plan_s", "exec_s")}
        t = untraced[q.name]["time_s"]
        rows.append({"name": q.name, "family": family, "time_s": t,
                     "construct_frac": med["construct_s"] / t,
                     "result_rows": result_rows[q.name], **med})
    return rows


def summary(rows: list[dict]) -> dict:
    times = sorted(r["time_s"] for r in rows)
    total = sum(times)
    return {
        "queries": len(rows),
        "total_s": total,
        "p25_s": run.percentile(times, 25),
        "p50_s": run.percentile(times, 50),
        "p75_s": run.percentile(times, 75),
        "p85_s": run.percentile(times, 85),
        "max_s": times[-1],
        "under_0.5s_frac": sum(t < 0.5 for t in times) / len(times),
        "construct_share": sum(r["construct_s"] for r in rows) / total,
        "eager_job_share": sum(r["eager_job_s"] for r in rows) / total,
        "plan_share": sum(r["plan_s"] for r in rows) / total,
        "exec_share": sum(r["exec_s"] for r in rows) / total,
        "families": dict(Counter(r["family"] for r in rows)),
    }


def pick(rows: list[dict], size: int, max_rows: int) -> list[dict]:
    ordered = sorted(rows, key=lambda r: r["time_s"])
    out = []
    for i in range(size):
        b = ordered[i * len(ordered) // size:(i + 1) * len(ordered) // size]
        share = statistics.mean(r["construct_frac"] for r in b)
        out.append(min((r for r in b if r["result_rows"] <= max_rows),
                       key=lambda r: abs(r["construct_frac"] - share)))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--size", type=int, default=16)
    ap.add_argument("--max-rows", type=int, default=50_000)
    args = ap.parse_args()
    base = os.path.join(run.ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"profile-{os.getpid()}")
    ledger_dir = os.path.join(base, "ledger")
    os.makedirs(ledger_dir, exist_ok=True)
    os.makedirs(work)
    run.prepare_env(work)
    sys.path[:0] = [run.ROOT, os.path.join(run.ROOT, "tests")]

    import batch
    import datagen
    import ledger as tr
    data_dir = os.path.join(work, "tables")
    datagen.write_tables(data_dir, run.SF)
    spark = None
    try:
        spark, _, _ = run.cold_setup("batch_core", data_dir, "", args.seed)
        calib_s = run.calibrate(spark)
        families = batch.family_queries()
        queries = [q for _, q in families]
        checked = batch.check_pass(spark, queries, data_dir, args.seed)
        counter = tr.Py4jCounter(spark)
        failed: Counter = Counter()
        untraced, traced, _ = batch.traced_passes(
            spark, queries, data_dir, args.seed, counter, failed)
        counter.close()
        result_rows = {q.name: q.fn(spark, data_dir).count() for q in queries}
    finally:
        if spark is not None:
            run.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    bad = [n for n, c in checked.items() if c["problems"]] + list(failed)
    if bad:
        run.log(f"failed: {bad}")
        return 1

    rows = profile(families, untraced, traced, result_rows)
    chosen = pick(rows, args.size, args.max_rows)
    result = {"sf": run.SF, "nproc": run.host_cores(), "calib_s": calib_s,
              "full": summary(rows), "pick": summary(chosen),
              "picked": [r["name"] for r in chosen], "queries": rows}
    path = os.path.join(ledger_dir, f"profile_core-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    for r in sorted(rows, key=lambda r: r["time_s"]):
        print(f"{r['name']:32s} {r['family']:16s} {r['time_s']:7.3f}s "
              f"construct {r['construct_frac']:.2f} rows {r['result_rows']:7d}"
              + ("  *" if r in chosen else ""))
    print(json.dumps({k: result[k] for k in ("calib_s", "full", "pick", "picked")},
                     indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
