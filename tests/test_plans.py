"""Physical-plan contract (SURVEY.md §5 item 5): pushdown reaches the
scan, dims broadcast, hot paths stay JVM-side.  These tests fail on a
refactor that keeps results but regresses the 100 TB plan."""

from __future__ import annotations

import pytest

from dbt_json_readr_spark import registry
from dbt_json_readr_spark.plans import explain
from dbt_json_readr_spark.plans.tpch import q5_region_revenue, q6_forecast_revenue

SF = "/root/testdata/sf0.001"

# mapInPandas is the sanctioned Arrow path for exactly one operator
ARROW_ALLOWED = {"multimodal_stub", "multimodal_decode"}
# streaming queries materialize through a memory sink — their returned
# DataFrame is the sink table, so plan introspection happens on the
# batch twins instead (test_streaming.py covers equivalence)
SKIP_PLAN = {"streaming_windowed_agg", "streaming_sessionization", "streaming_dedup"}


def test_q6_filters_pushed_to_scan(spark):
    df = q6_forecast_revenue(spark, SF)
    assert explain.has_pushed_filters(df)


def test_q6_scan_prunes_columns(spark):
    df = q6_forecast_revenue(spark, SF)
    schema = explain.scan_read_schema(df, "lineitem")
    assert schema  # found the scan
    # only the 4 columns the query touches — not the 11-column table
    for col in ("l_shipdate", "l_discount", "l_quantity", "l_extendedprice"):
        assert col in schema
    assert "l_orderkey" not in schema and "l_returnflag" not in schema


def test_q5_broadcasts_dimension_tables(spark):
    assert explain.has_broadcast_join(q5_region_revenue(spark, SF))


def test_no_forced_broadcast_of_scale_dependent_sides(spark):
    """VERDICT r4 item 2: customer grows linearly with scale factor and
    orders is a fact — neither may carry a FORCED broadcast hint in any
    TPC-H plan (AQE may still elect a runtime broadcast at small SF;
    that's fine because it can bail at large SF).  The analyzed-plan
    hint subtrees are the ground truth: no hinted subtree may contain
    orders columns, and none may contain customer columns except Q3's
    single sanctioned filtered-customer dim hint."""
    from dbt_json_readr_spark.plans import tpch

    cases = {
        # fn -> number of hinted subtrees allowed to contain c_custkey
        tpch.q3_shipping_priority: 1,  # the c_mktsegment-filtered dim
        tpch.q5_region_revenue: 0,
        tpch.q7_nation_trade: 0,
        tpch.q8_market_share: 0,
        tpch.q10_returned_items: 0,
        tpch.q18_large_orders: 0,
    }
    for fn, cust_allowed in cases.items():
        subs = explain.broadcast_hint_subtrees(fn(spark, SF))
        with_orders = [s for s in subs if "o_orderkey" in s or "o_custkey" in s]
        assert not with_orders, f"{fn.__name__}: forced broadcast hint over orders"
        with_cust = [s for s in subs if "c_custkey" in s]
        assert len(with_cust) <= cust_allowed, (
            f"{fn.__name__}: forced broadcast hint over customer-bearing side"
        )
    # q3's sanctioned hint really is the filtered customer dim, nothing more
    q3_subs = explain.broadcast_hint_subtrees(tpch.q3_shipping_priority(spark, SF))
    cust_sub = [s for s in q3_subs if "c_custkey" in s]
    assert len(cust_sub) == 1 and "c_mktsegment" in cust_sub[0]


@pytest.mark.parametrize(
    "key", [k for k in registry.queries() if k not in SKIP_PLAN]
)
def test_no_row_python_in_any_plan(spark, key):
    df = registry.queries()[key](spark, SF)
    assert explain.python_eval_nodes(df) == []
    if key not in ARROW_ALLOWED:
        assert explain.arrow_eval_nodes(df) == []


def test_new_llm_ops_scan_and_bucket_contracts(spark):
    """Scale-shape pins for the r2 operators: bounded corpus passes and
    no array-carrying collect_list anywhere (buckets hold bare ids)."""
    import re

    from dbt_json_readr_spark.plans import llm
    from dbt_json_readr_spark.plans.explain import formatted_plan

    budgets = {
        # (max parquet scans, rationale)
        "corpus_decontaminate": 2,   # eval-gram branch + ONE train pass
        "text_ngram_novelty": 2,     # freq-table build + join pass
        "text_repetition": 1,        # single exploded-gram pipeline
        "corpus_shard_plan": 1,      # hash + one shard shuffle
        "dedup_embedding_cosine": 3, # band pass + verify join sides
    }
    for key, max_scans in budgets.items():
        plan = formatted_plan(getattr(llm, key)(spark, SF))
        n = len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M))
        assert n <= max_scans, f"{key}: {n} scans > budget {max_scans}"
        assert not re.search(r"collect_list\(\s*struct", plan), (
            f"{key}: buckets must not collect payload-carrying structs"
        )


def test_minhash_dedup_two_pass_no_fat_buckets(spark):
    """The LSH operator is a two-pass plan by design: a sketch pass
    (exploded shingles → flat lane mins, pruned to lanes only) and a
    verify pass (shingle sets joined to the deduped candidate pairs).
    Pin that shape: at most 3 parquet scans of documents — one sketch
    pass pruned to minhash lanes, plus the verify pass's shingle-set
    subtree once per join side (Catalyst does not exchange-reuse the
    two; a measured alternative that single-scans via melt+regroup
    shuffles candidate-fat arrays and benches ~2× slower).  Crucially:
    no collect_list of shingle-carrying structs anywhere — buckets
    collect bare doc_ids, so a degenerate bucket buffers
    bucket_cap × 8 bytes, not megabytes of shingle arrays."""
    from dbt_json_readr_spark.plans.explain import formatted_plan
    from dbt_json_readr_spark.plans.llm import dedup_minhash_lsh

    import re

    df = dedup_minhash_lsh(spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    # each scan node appears once in the tree ("+- Scan parquet (1)") and
    # once as a detail header ("(1) Scan parquet") — count the headers
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M))
    assert n_scans <= 3, f"expected ≤3 documents scans (sketch + 2× verify), saw {n_scans}"
    assert not re.search(r"collect_list\(\s*struct", plan), (
        "buckets must collect bare doc_ids, not shingle-carrying structs"
    )


def test_topk_windows_get_partial_group_limit(spark):
    """Per-group top-k windows must show a PARTIAL WindowGroupLimit
    BEFORE the exchange — Catalyst's map-side rank pruning means only
    ≤k rows per group per map partition cross the shuffle.  Without it
    a 100 TB corpus funnels entirely through one reducer per query."""
    from dbt_json_readr_spark.plans.explain import formatted_plan
    from dbt_json_readr_spark.plans.events import top_customers_per_nation
    from dbt_json_readr_spark.plans.llm import ann_bruteforce_topk

    for fn in (ann_bruteforce_topk, top_customers_per_nation):
        plan = formatted_plan(fn(spark, "/root/testdata/sf0.001"))
        assert "WindowGroupLimit" in plan, f"{fn.__name__}: rank pruning missing"
        assert "Partial" in plan.split("WindowGroupLimit")[-1] or plan.count("WindowGroupLimit") >= 2, (
            f"{fn.__name__}: no partial (map-side) group limit"
        )


def test_kmeans_single_scan_and_bounded_cache(spark):
    """Iterative k-means must read the embeddings ONCE (comp persists
    across Lloyd rounds) and leave exactly the two result-backing
    handles pinned — without the cache discipline the 2-iteration
    lineage re-derives everything from the scan (measured 9 scans / 60
    exchanges)."""
    from dbt_json_readr_spark.plans import llm
    from dbt_json_readr_spark.plans.explain import live_parquet_scan_count

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    df = llm.embedding_kmeans(spark, SF)
    # JVM-tree count, NOT a regex over the formatted text: the text
    # prints each InMemoryRelation's stored rebuild plan (scan
    # included), which over-counts when this result legitimately reuses
    # a cache entry pinned by an earlier Lloyd caller in the session
    # (order-dependent false positive, r7)
    n_scans = live_parquet_scan_count(df)
    assert n_scans <= 1, f"kmeans re-scans the corpus: {n_scans} scans"
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after - before <= 2, f"cache leak: {after - before} pinned handles"


def test_minhash_sketch_cache_rotates_not_leaks(spark):
    """Repeated minhash invocations must pin at most TWO handles (the
    per-doc sketch + the auto-gate's candidate pairs, each latest-wins
    rotated in operators/dedup.py) — a bench loop over the operator
    would otherwise accumulate caches per call."""
    from dbt_json_readr_spark.plans import llm

    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for _ in range(3):
        llm.dedup_minhash_lsh(spark, SF).count()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after - before <= 2, f"cache leak: {after - before} pinned handles"
    # semantic reuse must not defeat rotation: a DIFFERENT input plan
    # (other sf_dir) must rotate the stale cache out, keeping the bound
    llm.dedup_minhash_lsh(spark, "/root/testdata/sf0.001").count()
    llm.dedup_minhash_lsh(spark, SF).count()
    after2 = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after2 - before <= 2, f"rotation leak: {after2 - before} pinned handles"


def test_new_audit_ops_broadcast_their_small_sides(spark):
    """The r3 audit/index operators must keep their dim-sized frames on
    the broadcast path — a shuffle join here is the 100 TB regression
    these pins exist to catch."""
    from dbt_json_readr_spark.plans import llm, tpch

    for fn in (
        tpch.join_prefilter_audit,         # bucket sets + key set broadcast
        tpch.q16_supplier_part_types,  # part dim + excluded suppliers broadcast
        tpch.q2_min_cost_supplier,     # part/supp dims + per-part mins broadcast
        tpch.q11_important_stock,      # EU supplier keys + scalar total broadcast
        tpch.q20_promotion_suppliers,  # cold parts + filtered partsupp broadcast
        tpch.q9_nation_profit,         # red-part partsupp + supplier-nation broadcast
        tpch.q21_waiting_suppliers,    # EU supplier dim broadcast
        llm.doc_posting_lists,             # top-term set broadcast
        llm.tokenizer_vocab_coverage,      # vocabulary broadcast
        llm.ann_ivf_kmeans_topk,           # centroids + probed queries broadcast
    ):
        df = fn(spark, SF)
        assert explain.has_broadcast_join(df), fn.__name__


def test_zone_map_and_skew_audits_are_single_scan(spark):
    """Layout audits must stay one pass over the fact table."""
    import re

    from dbt_json_readr_spark.plans import events, tpch
    from dbt_json_readr_spark.plans.explain import formatted_plan

    for fn, expected in ((tpch.lineitem_zorder_layout, 1), (events.events_skew_audit, 1)):
        plan = formatted_plan(fn(spark, SF))
        n = len(re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M))
        assert n <= expected, f"{fn.__name__}: {n} scans"


def test_r4_new_op_plan_contracts(spark):
    """Scale-shape pins for the r4 session-2 operators.

    - sparse cosine: candidate pairs come ONLY from the term equi-join
      (df/n broadcast; no nested-loop or cartesian anywhere)
    - fuzzy editdist: the band blocking must plan as an equi-join, not
      a cartesian + filter
    - table profile: all 11 columns profile from ONE scan (Expand for
      the multi-distinct, not one pass per column)
    - concurrency sweep: NO join of any kind — the whole point of the
      endpoint sweep is replacing the interval self-join
    """
    from dbt_json_readr_spark.plans import events as ev
    from dbt_json_readr_spark.plans import llm, tpch
    from dbt_json_readr_spark.plans.explain import formatted_plan, has_broadcast_join

    sparse = llm.doc_sparse_cosine_topk(spark, SF)
    p = formatted_plan(sparse)
    assert has_broadcast_join(sparse)
    # the only nested-loop is the 1-row broadcast-scalar n_docs join,
    # and it sits beneath the cached `weighted` frame — the pair join
    # itself is an equi-join on the term
    assert "CartesianProduct" not in p
    from dbt_json_readr_spark.session import live_cached

    assert len(live_cached("sparse_cosine", spark)) == 2

    p = formatted_plan(llm.dedup_fuzzy_editdist(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p

    p = formatted_plan(tpch.table_profile_audit(spark, SF))
    assert p.count(") Scan parquet") == 1
    assert "Expand" in p

    p = formatted_plan(ev.events_concurrency_sweep(spark, SF))
    assert "Join" not in p


# ---------------------------------------------------------------- r6
# VERDICT r5 item 7: the big shuffles (containment-LSH, sparse-cosine,
# minhash calibration) rely on AQE skew-join splitting at scale — B36
# salts manually, these do not.  Two contracts: (1) the splitting
# machinery actually FIRES in this engine's session when a shuffle is
# skewed past threshold, (2) the three largest shuffle plans execute as
# ADAPTIVE shuffle joins — the shape OptimizeSkewedJoin can split.  At
# sf0.1 their partitions sit far under the 256 MB default threshold, so
# asserting skew=true on them would be asserting a tuning accident;
# firing is proven on a synthetic skew with thresholds lowered.


def _executed_plan(df) -> str:
    # collect() drives THIS DataFrame's QueryExecution (count() would
    # build a different one), so AQE's final re-planned tree is visible
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_aqe_skew_join_machinery_fires(spark):
    from pyspark.sql import functions as F

    from dbt_json_readr_spark.session import prep

    prep(spark)
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        # 95% of left rows share one key → one shuffle partition far over
        # 2× the median → OptimizeSkewedJoin must split it
        left = spark.range(200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), F.lit("dim").alias("v")
        )
        joined = left.join(right, "k").select(F.count(F.lit(1)).alias("n"))
        plan = _executed_plan(joined)
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize(
    "key",
    ["dedup_containment_lsh", "doc_sparse_cosine_topk", "dedup_minhash_est_calibration"],
)
def test_largest_shuffles_are_adaptive_and_skew_eligible(spark, key):
    """The three most expensive shuffle plans must run under
    AdaptiveSparkPlan with skewJoin enabled and execute at least one
    SHUFFLE join (sort-merge / shuffled-hash) — the physical shape the
    skew splitter operates on.  A refactor that silently turns these
    into broadcast-only or non-adaptive plans loses the scale story.

    What is size-INVARIANT here is hint freedom, not the chosen join:
    at sf0.01 both the static planner (parquet size estimates) and AQE
    legitimately pick broadcasts; at 100× the same code plans shuffle
    joins that OptimizeSkewedJoin can split.  So the contract is:
    (a) the plan executes under AdaptiveSparkPlan with skewJoin
    enabled, and (b) NO analyzed-plan broadcast hint subtree contains
    corpus-scale columns (doc text / embeddings / per-doc rows) — a
    forced hint is the one thing that would pin the small-SF shape at
    100 TB and OOM (the sanctioned 1-row scalar broadcasts carry no
    corpus columns)."""
    df = registry.queries()[key](spark, "/root/testdata/sf0.01")
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
    for sub in explain.broadcast_hint_subtrees(df):
        assert "documents.parquet" not in sub and "embeddings.parquet" not in sub, (
            f"{key}: forced broadcast hint over a corpus-scale side"
        )
    plan = _executed_plan(df)
    assert "AdaptiveSparkPlan" in plan


def test_scratch_dir_bounded_per_slot(tmp_path, monkeypatch):
    """ADVICE r5: scratch dirs must not grow unboundedly in a long-
    lived driver.  Contract: per slot, the current AND previous
    generation stay readable (the r4 prior-handle guarantee), anything
    older is reclaimed."""
    import os

    from dbt_json_readr_spark import session as S

    monkeypatch.setattr(S, "_SCRATCH_LIVE", {})
    d1 = S.scratch_dir("slotA")
    d2 = S.scratch_dir("slotA")
    assert os.path.isdir(d1) and os.path.isdir(d2)  # prior survives
    d3 = S.scratch_dir("slotA")
    assert not os.path.exists(d1)                   # 2 generations back: gone
    assert os.path.isdir(d2) and os.path.isdir(d3)
    other = S.scratch_dir("slotB")                  # slots are independent
    assert os.path.isdir(d2) and os.path.isdir(d3) and os.path.isdir(other)
    for d in (d2, d3, other):
        __import__("shutil").rmtree(d, ignore_errors=True)


def test_r13_ann_sweep_plan_stays_truncated(spark):
    """r12 found ~170 s of ann_sweep_eval's 190 s action was DRIVER-side
    analysis of an exponentially-composed logical plan (2.1M formatted
    lines, 184k InMemoryTableScan refs); per-round localCheckpoint cut
    it to ~3.3k lines.  A cheap length pin catches the exponential tree
    returning (VERDICT r12 item 8)."""
    from dbt_json_readr_spark.plans import llm
    from dbt_json_readr_spark.plans.explain import formatted_plan

    plan = formatted_plan(llm.ann_sweep_eval(spark, SF))
    n_lines = plan.count("\n")
    assert n_lines < 50_000, f"sweep plan exploded again: {n_lines} lines"


def test_r13_lsh_recall_truth_keeps_parallelism(spark):
    """r12: AQE coalesced the few-MB aggregated-sets frame to ONE
    partition and the all-pairs truth join ran single-threaded (bytes
    understate compute).  The explicit REPARTITION_BY_NUM at the
    session's parallelism is exempt from AQE coalescing — pin that the
    exchange is still in the plan (VERDICT r12 item 8)."""
    from dbt_json_readr_spark.plans import llm
    from dbt_json_readr_spark.plans.explain import formatted_plan

    plan = formatted_plan(llm.dedup_lsh_recall(spark, SF))
    par = spark.sparkContext.defaultParallelism
    assert f"RoundRobinPartitioning({par}" in plan, (
        "dedup_lsh_recall lost its explicit repartition — the exact "
        "truth join will run single-threaded under AQE coalescing"
    )


def test_r13_containment_verify_shape_pinned(spark):
    """The r12/r13 containment-LSH verify must keep the all-broadcast
    shape under the auto-gates (candidates under the pair cap, sets
    under the byte cap): no SortMergeJoin may appear — at sf1 an
    unhinted set join sorted 4.1M pair rows carrying ~2 KB shingle
    arrays through an exchange (307 CPU·s vs 107)."""
    from dbt_json_readr_spark.plans import llm
    from dbt_json_readr_spark.plans.explain import formatted_plan

    plan = formatted_plan(llm.dedup_containment_lsh(spark, SF))
    assert "SortMergeJoin" not in plan, (
        "containment verify fell off the broadcast path at gate scale"
    )


def _verify_family(spark):
    """minhash, containment and incremental verifies over one crafted
    near-dup corpus (every doc pairs with every other)."""
    from dbt_json_readr_spark.operators import dedup as D

    base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    rows = [(i, base + f" tail {i % 3}") for i in range(1, 13)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = docs.filter("doc_id <= 8")
    new = docs.filter("doc_id > 8")
    return {
        "minhash": D.minhash_lsh_pairs(docs),
        "containment": D.minhash_containment_pairs(docs, threshold=0.5),
        "incremental": D.minhash_incremental_pairs(old, new),
    }


def test_shared_verify_intersects_once_and_broadcasts_sets(spark):
    """The dedup verify family shares ONE set-overlap builder: each
    optimized plan evaluates array_intersect exactly once (the eval_once
    barrier holds against the threshold filter's pushdown), and when
    the side gate picks sets both set sides are the broadcast BUILD
    sides — a BroadcastExchange directly over each projected set."""
    for name, df in _verify_family(spark).items():
        qe = df._jdf.queryExecution()
        assert qe.optimizedPlan().toString().count("array_intersect") == 1, name
        lines = qe.executedPlan().toString().splitlines()
        built = [lines[i + 1] for i, line in enumerate(lines[:-1]) if "BroadcastExchange" in line]
        assert any(" AS sh_a#" in b for b in built), name
        assert any(" AS sh_b#" in b for b in built), name


def test_shared_verify_candidate_side_branch_agrees(spark, monkeypatch):
    """With the set-bytes cap at 0 the gate broadcasts the candidates
    instead of the sets; every verify must return identical rows."""
    from dbt_json_readr_spark.operators import dedup as D

    sets_side = {k: sorted(map(tuple, df.collect())) for k, df in _verify_family(spark).items()}
    monkeypatch.setattr(D, "DEFAULT_SET_BCAST_BYTES_CAP", 0)
    for name, df in _verify_family(spark).items():
        hinted = explain.broadcast_hint_subtrees(df)
        assert hinted and not any("sh_a" in t or "sh_b" in t for t in hinted), name
        assert sorted(map(tuple, df.collect())) == sets_side[name], name
        assert sets_side[name], f"{name}: fixture produced no pairs"


def test_r13_release_iter_handle_frees_checkpoint_blocks(spark):
    """ADVICE r12 / VERDICT r12 item 9: DataFrame.unpersist() is a
    silent no-op for localCheckpoint()-ed frames, so both the direct
    release helper and slot rotation must actually free the LogicalRDD
    blocks — this pin makes the py4j reach-in (queryExecution/analyzed/
    rdd) upgrade-proof: a Spark rename breaks THIS test, not prod."""
    from dbt_json_readr_spark.session import release_iter_handle, rotate_cached

    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    df = spark.range(1000).localCheckpoint()
    assert jsc.getPersistentRDDs().size() == base + 1
    release_iter_handle(df)
    assert jsc.getPersistentRDDs().size() == base, (
        "release_iter_handle no longer frees checkpoint blocks"
    )
    # and through slot rotation (rotate_cached routes eviction through
    # release_iter_handle): rotating a checkpointed frame out of its
    # slot must free its blocks immediately, not at GC time
    a = spark.range(10).localCheckpoint()
    rotate_cached("r13_pin_slot", [a])
    b = spark.range(20).localCheckpoint()
    rotate_cached("r13_pin_slot", [b])
    assert jsc.getPersistentRDDs().size() == base + 1, (
        "rotation left the superseded checkpointed frame's blocks live"
    )
    release_iter_handle(b)
    from dbt_json_readr_spark.session import _CACHE_SLOTS

    _CACHE_SLOTS.get(spark, {}).pop("r13_pin_slot", None)
    assert jsc.getPersistentRDDs().size() == base
