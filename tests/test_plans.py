"""Physical-plan regression guard (scale hygiene).

Builds every registry query's executed plan (no execution) and asserts
the interpreter/shuffle antipatterns stay out:

- SortAggregate: an aggregate fell out of HashAggregate (immutable
  buffer type, e.g. min/max over strings/arrays) — loses map-side
  partial aggregation.
- CartesianProduct: an unbounded cross join appeared.
- BroadcastNestedLoopJoin: allowed ONLY in the three deliberate
  brute-force baselines whose scale paths are the LSH/IVF variants.
"""

from __future__ import annotations

import re

import pytest

from demo_apache_flink_streaming_mode_spark.plans.registry import ALL_QUERIES, get

SF = "/root/testdata/sf0.001"

# sim_topk_ivf* BNLJ is the centroid-assignment cross join against a
# broadcast <= n_cells-row centroid table; text_bm25's is the 1-row
# global-stats (N, avgdl, df) attach — both bounded broadcast sides,
# O(N) passes, intended.
BNLJ_ALLOWED = {"dedup_embedding_cosine", "sim_topk_bruteforce",
                # binary quantization: the Hamming stage IS the
                # intended compressed linear scan (dim/8 bytes +
                # two XOR/popcount ops per candidate — how binary
                # indexes serve at scale); the exact re-rank is a
                # broadcast HASH join on the k*mult shortlist
                "sim_topk_binary",
                "sim_topk_int8", "sim_topk_ivf",
                "sim_topk_ivf_trained", "sim_topk_ivf_probe2", "text_bm25",
                "text_tfidf",
                # same bounded broadcast-centroid assignment pass as the
                # IVF family (ivf_assign's crossJoin with <= N_CELLS rows);
                # the pair scoring itself is a cell equi-join
                "dedup_semantic",
                # the same centroid-assignment pass plus text_tfidf's
                # 1-row broadcast corpus-size attach
                "corpus_topics",
                # corpus-trained centroid assignment for BOTH sides of
                # the incremental probe; the scoring is a cell equi-join
                "dedup_incremental_semantic",
                # the same bounded broadcast-centroid assignment pass as
                # the IVF family; the prototypicality score re-attach is
                # a broadcast HASH join on cell and ranking is a
                # cell-partitioned window — no pair join at all
                "corpus_prototypes",
                # the same bounded broadcast-centroid assignment pass;
                # sampling is a cell-partitioned hash-rank window
                "text_cluster_sample",
                # IVF-PQ: the bounded centroid-assignment pass (corpus
                # placement + query probe, <= N_CELLS rows broadcast);
                # the ADC scoring itself is a (cell, m, code) equi-join
                # (the rerank form embeds the same probe; its refine
                # stage is a broadcast HASH join on the shortlist)
                "sim_topk_ivfpq", "sim_topk_ivfpq_rerank",
                # embed the brute-force baseline by definition (they
                # ARE the exact references being measured against);
                # the judged sim_knn_label_vote itself votes over the
                # LSH equi-join path and stays OFF this list
                "sim_recall_ann", "sim_knn_label_vote_exact",
                "sim_knn_agreement", "sim_recall_rerank",
                # embeds the exact all-pairs baseline it measures
                # against, plus three 1-row count attaches
                "dedup_semantic_recall",
                # one 1-row broadcast total (the normalizer) attached
                # to a bounded per-source aggregate — same shape as the
                # count attaches above
                "text_mixture_plan",
                # gram-blocked exact leg is equi-join only; the BNLJ is
                # the three 1-row count attaches
                "dedup_minhash_recall",
                # text_bm25-style 1-row corpus-total broadcast attach
                "text_source_drift",
                # scalar-subquery threshold: a 1-row broadcast average
                # attached to every customer row (TPC-H Q22 shape) /
                # per-part value row (Q11 shape)
                "q22_idle_balance", "q11_important_stock",
                # 1-row broadcast total attached to the top-20 keys —
                # the same scalar-aggregate shape as Q22/Q11
                "events_key_skew_report",
                # 1-row broadcast token total N for the err_bound column
                "sketch_cms_heavy_hitters",
                # 1-row broadcast percentile-bounds attach (the
                # scale-safe NTILE replacement)
                "text_length_buckets"}


def _plan(spark, name: str) -> str:
    return get(name).fn(spark, SF)._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("query", ALL_QUERIES, ids=lambda q: q.name)
def test_no_plan_antipatterns(spark, query):
    plan = query.fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan, f"{query.name}: SortAggregate in plan"
    assert "CartesianProduct" not in plan, f"{query.name}: CartesianProduct in plan"
    if query.name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{query.name}: unexpected BroadcastNestedLoopJoin")


@pytest.mark.parametrize("name,table_col,filter_col,absent_col", [
    ("q6_forecast_revenue", "l_quantity", "l_shipdate", "l_orderkey"),
    ("q14_promo_revenue", "l_extendedprice", "l_shipdate", "l_linenumber"),
    ("q19_disjunctive_pricing", "l_quantity", "p_brand", "l_tax"),
    ("t2_filter", "event_id", "event_type", "props"),
])
def test_scan_pushdown_and_pruning(spark, name, table_col, filter_col,
                                   absent_col):
    """Filters reach the parquet scan and the scan reads only needed
    columns — the two properties that make a 100 TB scan cheap. Each
    FileScan node must (a) carry the query's filter column in its
    pushed DataFilters and (b) not read columns the query never
    touches."""
    plan = _plan(spark, name)
    scans = re.findall(r"FileScan parquet \[([^\]]*)\][^\n]*", plan)
    assert scans, f"{name}: no FileScan in plan"
    cols = ",".join(scans)
    assert table_col in cols
    assert absent_col not in cols, (
        f"{name}: scan reads {absent_col}, projection not pruned")
    filtered_scans = [s for s in re.findall(r"FileScan parquet [^\n]*", plan)
                      if filter_col in s]
    assert any("DataFilters: [" in s and filter_col in
               s.split("DataFilters:")[1] for s in filtered_scans), (
        f"{name}: {filter_col} filter not pushed to the scan")


@pytest.mark.parametrize("name,min_reused", [
    # measured r8 on Spark 4.1: 6 ReusedExchange nodes — the PQ
    # shortlist pipeline feeds both the rank<=k prefix and the exact
    # re-rank leg, deduped at runtime by AQE's stage reuse
    ("sim_recall_rerank", 3),
    # measured r8: 17 — the four ANN legs share the normalized corpus
    # and the two IVF legs share one trained codebook
    ("sim_recall_ann", 8),
    # measured r8: 6 with floor 3 — the exact-pair leg and the semantic
    # leg were each referenced by several count legs and deduped at
    # runtime. r12 restructured the report as a tag-union (each leg is
    # REFERENCED once by construction — the duplicate subtrees the
    # reuse used to dedupe no longer exist), leaving the semantic
    # leg's cell self-join exchange + the k-means/u shared subplans:
    # measured 2 on Spark 4.1. The floor still pins that the
    # remaining shared legs (the self-join's two identical sides)
    # dedupe instead of re-executing.
    ("dedup_semantic_recall", 2),
])
def test_composed_reports_reuse_exchanges(spark, name, min_reused):
    """The composed recall reports deliberately re-plan their shared
    pipelines (PQ shortlist / normalized corpus / trained centroids)
    and rely on exchange reuse to dedupe them — the docstrings say so,
    and r4 measured the eager-materialization alternative 40% slower.
    If a future planner change silently stops reusing, every shared
    leg re-executes and the query cost multiplies with no test
    noticing — so pin it: reuse happens at RUNTIME under AQE, so
    execute at sf0.001 and assert the final adaptive plan carries a
    healthy floor of ReusedExchange nodes (floors at ~half the
    measured counts to absorb planner drift while still catching a
    wholesale reuse loss)."""
    df = get(name).fn(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, "adaptive plan did not finalize"
    got = plan.count("ReusedExchange")
    assert got >= min_reused, (
        f"{name}: only {got} ReusedExchange nodes in the final plan "
        f"(expected >= {min_reused}) — shared pipelines are being "
        f"re-executed")


def test_w3_watermark_is_two_phase(spark):
    """The classify_late running max must NOT funnel the full stream
    through one task: the per-row window is hash-partitioned by the
    arrival bucket, and any single-partition exchange in the plan is
    the tiny bucket-head cummax, fed by an aggregate (one row per
    bucket), never by raw rows."""
    plan = _plan(spark, "w3_late_classify")
    assert "hashpartitioning(__bkt" in plan, "per-row window not bucket-partitioned"
    for m in re.finditer(r"Exchange SinglePartition", plan):
        tail = plan[m.end():]
        nxt = next((ln for ln in tail.splitlines()
                    if any(op in ln for op in
                           ("HashAggregate", "Scan", "Window", "Sort", "Exchange"))),
                   "")
        assert "HashAggregate" in nxt, (
            "single-partition exchange fed by non-aggregated data:\n" + nxt)


def test_doc_counts_match_registry():
    """README/SKILL registry counts are asserted, not hand-maintained:
    they drift one round otherwise (r4 VERDICT item #9)."""
    n = len(ALL_QUERIES)
    readme = open("/root/repo/README.md").read()
    got = re.findall(r"\((\d+) queries \+ DuckDB", readme)
    got += re.findall(r"All (\d+) registry queries", readme)
    assert got and all(int(g) == n for g in got), (
        f"README counts {got} != registry {n}")
    skill = open("/root/repo/.claude/skills/verify/SKILL.md").read()
    sgot = re.findall(r"\((\d+) registry queries", skill)
    assert sgot and all(int(g) == n for g in sgot), (
        f"SKILL.md counts {sgot} != registry {n}")


def test_pack_shards_prefix_sum_is_two_phase(spark):
    """text_pack_shards' scale claim, plan-asserted: the corpus-sized
    running sum is a KEYED window (partitioned on the order bucket —
    each partition bounded at ~N/num_buckets rows), the only
    SinglePartition exchange feeds the num_buckets-row bucket-starts
    window, and the starts attach back as a broadcast hash join. A
    global ORDER BY cumsum over the corpus would show up here as a
    second SinglePartition exchange."""
    plan = _plan(spark, "text_pack_shards")
    assert re.search(r"windowspecdefinition\(_b#\d+L?, _h#", plan), (
        "corpus running sum is not partitioned by the order bucket:\n"
        + plan)
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """At 100 TB a fact x filtered-dim join runs as a shuffle join
    (both sides past any broadcast threshold) and Catalyst's runtime
    bloom filter (on by default in the session) builds a filter from
    the dim side's selective predicate and applies it to the fact
    side BEFORE the shuffle — rows that cannot match never leave the
    scan stage. The default size thresholds sit far above the test
    fixture, so this test recreates the 100 TB plan shape at sf0.001
    (threshold down, broadcast off) and asserts the injection actually
    fires with this engine's readers and session confs."""
    from demo_apache_flink_streaming_mode_spark.sources.batch import load_table
    from pyspark.sql import functions as F
    app = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    bc = "spark.sql.autoBroadcastJoinThreshold"
    old_app, old_bc = spark.conf.get(app), spark.conf.get(bc)
    try:
        spark.conf.set(app, "1b")
        spark.conf.set(bc, "-1")
        li = load_table(spark, SF, "lineitem")
        orders = (load_table(spark, SF, "orders")
                  .filter(F.col("o_orderpriority") == "1-URGENT"))
        j = li.join(orders, li.l_orderkey == orders.o_orderkey)
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in opt, (
            "runtime bloom filter not injected:\n" + opt)
        # the filter must sit on the FACT side (probe l_orderkey)
        assert "might_contain" in opt and "l_orderkey" in (
            opt.split("might_contain")[1][:200]), opt
    finally:
        spark.conf.set(app, old_app)
        spark.conf.set(bc, old_bc)


def test_load_table_repairs_reset_runtime_confs(spark):
    """A runtime conf reset in the middle of a session is repaired on
    the next ``load_table``: ensure_runtime_confs checks its sentinel
    conf on every call instead of remembering that it ran once."""
    from demo_apache_flink_streaming_mode_spark.session import RUNTIME_CONFS
    from demo_apache_flink_streaming_mode_spark.sources.batch import load_table
    key = "spark.sql.legacy.parquet.nanosAsLong"
    assert RUNTIME_CONFS[key] == "true"
    spark.conf.unset(key)
    assert spark.conf.get(key) != "true"
    events = load_table(spark, SF, "events")
    assert spark.conf.get(key) == "true"
    assert dict(events.dtypes)["ts"] == "timestamp"
