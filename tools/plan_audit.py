"""Generate PLANS.md: a per-query physical-plan audit of the registry.

For every registry query this builds the executed plan (no execution)
and tabulates the scale-relevant node counts — shuffles, single-
partition funnels, sorts, nested-loop joins, whole-stage-codegen spans
— so plan quality is reviewable as a diff instead of 133 separate
``.explain()`` sessions. Re-run after registry changes:

    python tools/plan_audit.py            # writes PLANS.md at repo root

The same antipattern set is ENFORCED by tests/test_plans.py; this file
is the human-readable ledger of what the guard sees.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"


def audit() -> str:
    from demo_apache_flink_streaming_mode_spark.plans.registry import (
        ALL_QUERIES, _VERIFY_WINDOW)
    from demo_apache_flink_streaming_mode_spark.session import get_spark
    from tests.test_plans import BNLJ_ALLOWED

    from demo_apache_flink_streaming_mode_spark import session as sess

    spark = get_spark("plan_audit")
    # AQE defers codegen annotation to stage execution, so the audit
    # reads the static plan (same operators/exchanges, codegen spans
    # visible); the engine itself runs with AQE on (session.py).
    # ensure_runtime_confs skips re-application while its sentinel conf
    # (nanosAsLong) still reads "true" (so the direct spark.conf
    # override below sticks on its own); the RUNTIME_CONFS patch keeps
    # the override if a reset sentinel triggers a re-application.
    sess.RUNTIME_CONFS = dict(sess.RUNTIME_CONFS,
                              **{"spark.sql.adaptive.enabled": "false"})
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    window = set(_VERIFY_WINDOW)
    lines = [
        "# Physical-plan audit",
        "",
        "Generated by `python tools/plan_audit.py` (executed plans at "
        "sf0.001, no execution). Columns:",
        "",
        "- **xchg**: `Exchange` nodes (shuffles; broadcast exchanges "
        "counted separately as **bcast**). Every shuffle is data over "
        "the wire at 100 TB — lower is better, zero is a co-located "
        "plan.",
        "- **1part**: `Exchange SinglePartition` funnels. Acceptable "
        "only when fed by a bounded aggregate (global stats, bucket "
        "starts, top-k merge) — the guard in tests/test_plans.py "
        "checks the feeder for the windowed cases.",
        "- **sort**: standalone `Sort` nodes (excludes the match "
        "inside `SortMergeJoin` labels). Bucket-sorted layouts and "
        "hash aggregation keep this low.",
        "- **bnlj**: `BroadcastNestedLoopJoin` — allowed only for the "
        "labeled brute-force baselines and bounded 1-row/centroid "
        "attaches (the `BNLJ_ALLOWED` set, marked `allowed`).",
        "- **wscg**: whole-stage-codegen spans (distinct `*(n)` "
        "codegen ids in the tree) — JVM-compiled pipeline segments; "
        "expression work outside them is interpreted.",
        "",
        "`win` marks the 50 driver-verified window queries. Iterative "
        "queries (`graph_*`, trained IVF/PQ) cut lineage between "
        "rounds (`operators.scale.cut_lineage`), so their audited "
        "plan covers the final stage; the per-round plan shape is "
        "asserted in their own tests. The `ml_quality_*` trainers run "
        "their aggregation passes eagerly during query construction "
        "(the returned frame is the model-sized result), so their "
        "rows here show the serving plan only; the training pass's "
        "no-corpus-buffering contract is asserted in "
        "tests/test_ml.py.",
        "",
        "The composed recall reports (`sim_recall_rerank`, "
        "`sim_recall_ann`) deliberately re-plan their shared pipelines "
        "and rely on runtime exchange reuse to dedupe them, so their "
        "static xchg counts here OVERSTATE executed work; the reuse "
        "itself is pinned by "
        "`tests/test_plans.py::test_composed_reports_reuse_exchanges`, "
        "which executes them and asserts a floor of `ReusedExchange` "
        "nodes in the final adaptive plan (r8, VERDICT r7 item 3).",
        "",
        "| query | win | xchg | bcast | 1part | sort | bnlj | wscg |",
        "|---|---|---|---|---|---|---|---|",
    ]
    totals = {"xchg": 0, "bnlj_unexpected": 0}
    for q in ALL_QUERIES:
        plan = q.fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        bcast = plan.count("BroadcastExchange")
        xchg = plan.count("Exchange") - bcast
        onep = plan.count("Exchange SinglePartition")
        sort = len(re.findall(r"\bSort \[", plan))
        bnlj = plan.count("BroadcastNestedLoopJoin")
        wscg = len(set(re.findall(r"\*\((\d+)\)", plan)))
        bnlj_cell = "-"
        if bnlj:
            bnlj_cell = (f"{bnlj} allowed" if q.name in BNLJ_ALLOWED
                         else f"{bnlj} UNEXPECTED")
            if q.name not in BNLJ_ALLOWED:
                totals["bnlj_unexpected"] += 1
        totals["xchg"] += xchg
        lines.append(
            f"| {q.name} | {'y' if q.name in window else ''} | {xchg} "
            f"| {bcast} | {onep} | {sort} | {bnlj_cell} | {wscg} |")
    lines += [
        "",
        f"Total non-broadcast exchanges across the registry: "
        f"{totals['xchg']}; unexpected BNLJ count: "
        f"{totals['bnlj_unexpected']} (the plan-guard test fails the "
        "suite if this is ever nonzero).",
        "",
    ]
    return "\n".join(lines)


if __name__ == "__main__":
    out = audit()
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write(out)
    print(f"wrote {path} ({out.count(chr(10))} lines)")
