"""Physical-plan properties that carry the 100 TB story: partition pruning
on the store layout, and bucketed co-located joins (the zero-shuffle path
for repeated fact-fact joins)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from arrow_parquet_logs_spark.plans.inspect import explain_str
from arrow_parquet_logs_spark.sources.tables import load_table


def test_partitioned_layout_prunes(spark, sf_dir, tmp_path):
    """container=/session= (here event_type=) Hive layout → partition filters
    never touch non-matching directories — the Spark replacement for the
    reference's SQLite file lookup (metadata.py:44-53)."""
    out = str(tmp_path / "part_events")
    ev = load_table(spark, sf_dir, "events")
    ev.write.partitionBy("event_type").parquet(out)
    q = spark.read.parquet(out).where(F.col("event_type") == "error").select("event_id")
    plan = explain_str(q)
    pf = [ln.strip() for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "event_type" in pf[0], plan
    assert q.count() == ev.where("event_type = 'error'").count()


def test_bucketed_join_skips_shuffle(spark, sf_dir, tmp_path):
    """Pre-bucketing both sides on the join key removes the per-query
    shuffle: SortMergeJoin with zero Exchange operators. At 100 TB this is
    the difference between re-shuffling 100 TB per join and none."""
    import shutil

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # hermetic: DROP TABLE is a no-op in a fresh metastore while an orphan
    # directory from an earlier run persists in the shared warehouse →
    # LOCATION_ALREADY_EXISTS; remove the locations before saveAsTable
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_lineitem", "b_orders"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("b_lineitem")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("b_orders")
    j = spark.table("b_lineitem").join(
        spark.table("b_orders"), F.col("l_orderkey") == F.col("o_orderkey")
    )
    # disable auto-broadcast so the bucketed SMJ path is what's planned
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = explain_str(j)
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # co-located: no shuffle at all
        assert j.count() == li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_tpch_star_joins_broadcast(spark, sf_dir):
    """Q7/Q8: every dimension side must plan broadcast — the fact table
    never shuffles for a dimension join at any scale."""
    from arrow_parquet_logs_spark.plans.inspect import assert_broadcast
    from arrow_parquet_logs_spark.queries import REGISTRY

    assert_broadcast(REGISTRY["tpch_q7_volume_shipping"].fn(spark, sf_dir), 4)
    assert_broadcast(REGISTRY["tpch_q8_market_share"].fn(spark, sf_dir), 6)


def test_q19_disjunction_pushes_quantity_bounds(spark, sf_dir):
    """Q19's OR-of-ANDs must still push the lineitem-local envelope
    (quantity bounds appear in the disjunctive pushed filter) rather than
    scanning unfiltered."""
    from arrow_parquet_logs_spark.plans.inspect import explain_str
    from arrow_parquet_logs_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["tpch_q19_disjunctive_revenue"].fn(spark, sf_dir))
    pushed = "\n".join(ln for ln in plan.splitlines() if "PushedFilters" in ln)
    assert "l_quantity" in pushed, plan


def test_interval_join_is_hash_not_nested_loop(spark, sf_dir):
    """The bucketized interval join must plan as an equi-join (hash or SMJ),
    never BroadcastNestedLoopJoin — the difference between O(n+w·span) and
    O(n·w) at scale."""
    from arrow_parquet_logs_spark.plans.inspect import explain_str
    from arrow_parquet_logs_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["events_burst_interval_join"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    ), plan


def test_srp_candidate_join_bounded(spark, sf_dir):
    """SRP-LSH candidate generation joins on (chunk, chunk_val) — an
    equi-join, and the plane table side is broadcast."""
    from arrow_parquet_logs_spark.plans.inspect import explain_str
    from arrow_parquet_logs_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["ann_srp_lsh_topk"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_new_query_plans_have_no_accidental_nested_loops(spark, sf_dir):
    """Funnel / retention / BM25 / winsorized-mean / full-outer plans: the
    only nested-loop or cartesian operators allowed are joins of 1-row
    aggregate frames (funnel's stage-count combine, BM25's scalar stats row)
    — a data-shaped nested loop would be quadratic at scale."""
    from arrow_parquet_logs_spark.queries import REGISTRY

    # these two intentionally cross-join 1-row aggregates; everything else
    # must plan entirely with hash/sort-merge joins
    one_row_cross = {"events_funnel_conversion", "docs_bm25_retrieval"}
    for name in (
        "events_funnel_conversion",
        "events_weekly_retention",
        "docs_bm25_retrieval",
        "events_winsorized_mean",
        "full_outer_segment_order_balance",
        "docs_repetition_signals",
        "lineitem_price_quantity_corr",
        "docs_pii_scrub",
        "docs_span_dedup",
        "docs_boilerplate_scrub",
        "docs_url_domains",
        "embeddings_pq_adc",
    ):
        plan = explain_str(REGISTRY[name].fn(spark, sf_dir))
        if name in one_row_cross:
            # 1-row-aggregate combines plan as Broadcast NL — fine; a raw
            # CartesianProduct (non-broadcast) would still be a regression
            assert "CartesianProduct" not in plan, (name, plan)
        else:
            assert "NestedLoop" not in plan and "CartesianProduct" not in plan, (name, plan)


def test_retention_broadcasts_cohort_sizes(spark, sf_dir):
    """The cohort-sizes side of the retention join is ≤ #weeks rows — it
    must broadcast, never shuffle the activity side for it."""
    from arrow_parquet_logs_spark.plans.inspect import assert_broadcast
    from arrow_parquet_logs_spark.queries import REGISTRY

    assert_broadcast(REGISTRY["events_weekly_retention"].fn(spark, sf_dir), 1)


def test_full_outer_preserves_both_sides(spark, sf_dir):
    """FULL OUTER semantics guard: the result must contain left-only rows
    (high-balance customers without orders) AND right-only rows (orders
    from customers outside the segment)."""
    from arrow_parquet_logs_spark.queries import REGISTRY

    rows = REGISTRY["full_outer_segment_order_balance"].fn(spark, sf_dir).collect()
    cust = load_table(spark, sf_dir, "customer").where("c_acctbal > 5000")
    ordc = load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    n_seg = cust.count()
    n_ord = ordc.count()
    n_match = cust.join(ordc, cust.c_custkey == ordc.o_custkey).count()
    # |FULL OUTER| = |L| + |R| - |matched keys| (1 row per key on each side)
    assert len(rows) == n_seg + n_ord - n_match
    assert any(r.in_segment == 0 and r.n_orders > 0 for r in rows), "right-only rows lost"
    assert sum(1 for r in rows if r.in_segment == 1 and r.n_orders == 0) == n_seg - n_match


def test_contamination_broadcasts_benchmark_shingles(spark, sf_dir):
    """The benchmark shingle set must reach the corpus side as a broadcast:
    the training-corpus scan stays shuffle-free until the per-doc count."""
    from arrow_parquet_logs_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["docs_benchmark_contamination"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_q10_q21_join_shapes(spark, sf_dir):
    """Q10: customer/nation dimensions broadcast (the fact never shuffles
    for a dimension join). Q21: no cartesian/broadcast-nested-loop — the
    lateness semi/anti self-joins stay keyed on the order key."""
    from arrow_parquet_logs_spark.queries import REGISTRY

    p10 = explain_str(REGISTRY["tpch_q10_returned_items"].fn(spark, sf_dir))
    assert p10.count("BroadcastHashJoin") >= 2, p10
    p21 = explain_str(REGISTRY["tpch_q21_sole_late_supplier"].fn(spark, sf_dir))
    assert "CartesianProduct" not in p21 and "BroadcastNestedLoopJoin" not in p21, p21


def test_embedding_dedup_no_cartesian(spark, sf_dir):
    """The epsilon-complete candidate stage must group rows by cell id —
    never a cartesian — even though the operator is exact."""
    from arrow_parquet_logs_spark.operators.dedup import embedding_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    plan = explain_str(embedding_dup_pairs(emb, threshold=0.9, k_cells=8, kmeans_iters=2))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan


def test_pq_adc_is_all_broadcast_joins(spark, sf_dir):
    """The PQ compressed-domain search must never shuffle-join or cartesian:
    codebook and query-LUT sides are broadcast, distances aggregate with
    map-side combine. A SortMergeJoin here would mean the tiny codebook got
    shuffled with the corpus at 100 TB."""
    from arrow_parquet_logs_spark.operators import pq as PQ

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    # corpus codes come straight out of the Arrow-batched scan stage — no
    # encode fan-out joins/exchanges exist at all; the LUT join stays
    # broadcast
    plan = explain_str(PQ.pq_adc_topk(emb, q, PQ.rademacher_codebooks(), k=5))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_boilerplate_hot_set_broadcasts(spark, sf_dir):
    """boilerplate_scrub's df-threshold set must reach the removal join as a
    broadcast (the aggregate→broadcast shape, not a shuffled self-join of
    the full block index)."""
    from arrow_parquet_logs_spark.operators import text as X

    docs = load_table(spark, sf_dir, "documents")
    plan = explain_str(X.boilerplate_scrub(docs, min_docs=50))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_span_dedup_partition_invariant(spark, sf_dir):
    """Keep-first semantics depend only on (doc_id, pos) order — never on
    physical partitioning."""
    from arrow_parquet_logs_spark.operators import text as X

    docs = load_table(spark, sf_dir, "documents").limit(200)
    a = sorted(map(tuple, X.span_dedup(docs).collect()))
    b = sorted(map(tuple, X.span_dedup(docs.repartition(16)).collect()))
    assert a == b


def test_orc_partitioned_read_prunes(spark, sf_dir, tmp_path):
    """The ORC ingest path (docs_orc_ingest) prunes hive partitions at
    planning time just like parquet — the lang IN (...) filter appears as
    a PartitionFilter on the ORC scan, and only matching directories are
    listed into the scan."""
    out = str(tmp_path / "orc_docs")
    docs = load_table(spark, sf_dir, "documents").limit(200)
    docs.write.partitionBy("lang").orc(out)
    q = (
        spark.read.schema("doc_id long, text string, source string, n_chars long, lang string")
        .orc(out)
        .where(F.col("lang").isin("en", "de"))
        .select("doc_id")
    )
    plan = explain_str(q)
    pf = [ln.strip() for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "lang" in pf[0], plan


def test_domain_cap_prunes_text_from_scan(spark, sf_dir):
    """docs_domain_capped_sample claims text never enters the shuffle: the
    documents scan's ReadSchema must carry only (doc_id, source)."""
    from arrow_parquet_logs_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["docs_domain_capped_sample"].fn(spark, sf_dir))
    schemas = "\n".join(ln for ln in plan.splitlines() if "ReadSchema" in ln)
    assert "doc_id" in schemas and "source" in schemas, plan
    assert "text" not in schemas and "n_chars" not in schemas, schemas


def test_hybrid_rrf_topk_is_take_ordered(spark, sf_dir):
    """docs_hybrid_rrf_retrieval's per-list top-50 must reduce through
    TakeOrderedAndProject (per-partition heaps), never a single-partition
    global sort of the scored corpus."""
    from arrow_parquet_logs_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["docs_hybrid_rrf_retrieval"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_hashed_linear_quality_is_pure_codegen(spark, sf_dir):
    """docs_hashed_linear_quality claims the ideal 100 TB filter shape:
    zero Python (no MapInPandas / BatchEvalPython), no Window, and no
    hash-partitioned shuffle — the only Exchange allowed is the final
    presentation sort's range partitioning."""
    from arrow_parquet_logs_spark.queries import REGISTRY

    plan = explain_str(REGISTRY["docs_hashed_linear_quality"].fn(spark, sf_dir))
    for node in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython", "Window"):
        assert node not in plan, f"{node} in plan:\n{plan}"
    assert "hashpartitioning" not in plan, plan  # only the final sort's range Exchange
    assert "rangepartitioning" in plan, plan


def test_cluster_maintain_relabel_join_broadcasts(spark):
    """update_clusters_incremental's one state-sized stage — relabeling
    members of merged clusters — must join the state against a BROADCAST
    changed-label mapping, and the whole update plan must stay free of
    CartesianProduct/NestedLoop (the label closure is pair-batch-sized by
    design; only the relabel touches state)."""
    from pyspark.sql import functions as F

    from arrow_parquet_logs_spark.operators.dedup import update_clusters_incremental
    from arrow_parquet_logs_spark.plans.inspect import explain_str

    state = spark.createDataFrame(
        [(i, i - i % 4) for i in range(400)], "doc_id long, cluster_id long"
    )
    pairs = spark.createDataFrame(
        [(0, 399), (4, 8), (12, 397)], "a_id long, b_id long"
    )
    # ADVICE r10: pin the OPERATOR'S OWN plan via the checkpoint=False
    # testing hook (the production path localCheckpoints eagerly, which
    # truncates the plan) — a regression dropping F.broadcast or changing
    # the relabel join shape now fails here
    out = update_clusters_incremental(state, pairs, checkpoint=False)
    plan = explain_str(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    got = {(r.doc_id, r.cluster_id) for r in out.collect()}
    assert got, "bridging pairs must produce relabel rows"
    # the hook and the production path must agree on the rows
    chk = {
        (r.doc_id, r.cluster_id)
        for r in update_clusters_incremental(state, pairs).collect()
    }
    assert got == chk


def test_substring_incremental_probe_is_hash_join(spark, tmp_path):
    """substring_dedup_incremental's index probe must be a hash equi-join
    on the window key — never a nested-loop — and the coverage explode
    must sit above the join (positions explode only from MATCHED
    windows)."""
    from arrow_parquet_logs_spark.operators.text import (
        materialize_window_index,
        substring_dedup_incremental,
    )
    from arrow_parquet_logs_spark.plans.inspect import explain_str

    span = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame(
        [(i, f"{span} filler {i}") for i in range(50)], "doc_id long, text string"
    )
    idx = str(tmp_path / "widx")
    materialize_window_index(corpus, idx)
    batch = spark.createDataFrame(
        [(100, f"incoming {span} tail")], "doc_id long, text string"
    )
    out = substring_dedup_incremental(spark, idx, batch)
    # ADVICE r10: pin the OPERATOR'S OWN plan via the checkpoint=False
    # testing hook (the production path persists + localCheckpoints, which
    # truncates the plan) — the probe must be a hash equi-join on wkey
    from pyspark.sql import functions as F

    plan = explain_str(substring_dedup_incremental(spark, idx, batch, checkpoint=False))
    assert any(
        j in plan for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    ), plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # semantics smoke: the incoming duplicate poisons every stored copy
    assert out.where(F.col("doc_id") != 100).count() == 50 * 10


def test_substring_bucketed_index_probe_no_exchange(spark, tmp_path):
    """VERDICT r10 #3: a ``bucket_by`` window index must give the probe
    join a shuffle-free index side — the executed plan's bucketed FileScan
    has NO Exchange between it and the SortMergeJoin (only the batch side
    shuffles, to the index's bucket count). Pinned on the operator's own
    plan (checkpoint=False hook) with broadcast disabled so the join can't
    dodge the question, and the bucketed answer is value-identical to the
    unbucketed one."""
    from arrow_parquet_logs_spark.operators.text import (
        materialize_window_index,
        substring_dedup_incremental,
    )

    span = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame(
        [(i, f"{span} filler {i}") for i in range(50)], "doc_id long, text string"
    )
    idx = str(tmp_path / "widx_bkt")
    materialize_window_index(corpus, idx, bucket_by=8)
    batch = spark.createDataFrame(
        [(100, f"incoming {span} tail")], "doc_id long, text string"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = substring_dedup_incremental(spark, idx, batch, checkpoint=False)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        # the ancestor path from every bucketed scan UP TO ITS NEAREST JOIN
        # must be Exchange-free (Exchanges above the join — the coverage
        # distinct, the output agg — are someone else's shuffle and fine):
        # in the tree string an ancestor is the closest previous line with
        # a strictly shallower connector
        lines = plan.splitlines()

        def depth(ln: str) -> int:
            return max(ln.find("+- "), ln.find(":- "))

        for i, ln in enumerate(lines):
            if "Bucketed: true" not in ln:
                continue
            cur = depth(ln)
            for m in reversed(lines[:i]):
                dm = depth(m)
                if dm >= cur:
                    continue  # sibling branch, not an ancestor
                if "Join" in m:
                    break  # reached the probe join unshuffled: pass
                assert "Exchange" not in m, (
                    f"Exchange between bucketed scan and its join:\n{plan}"
                )
                cur = dm
                if dm < 0:
                    break  # reached the root
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # value parity: bucketed index == plain index
    idx2 = str(tmp_path / "widx_plain")
    materialize_window_index(corpus, idx2)
    a = {(r.doc_id, r.tpos) for r in
         substring_dedup_incremental(spark, idx, batch).collect()}
    b = {(r.doc_id, r.tpos) for r in
         substring_dedup_incremental(spark, idx2, batch).collect()}
    assert a == b and a


def test_contamination_probe_is_broadcast_semi_join(spark):
    """benchmark decontamination's 100 TB shape: the benchmark key set is
    broadcast and the corpus windows meet it in a BroadcastHashJoin
    LeftSemi — the corpus side reaches the join with NO shuffle Exchange
    anywhere below it (the coverage distinct above the join is the only
    shuffle). Auto-broadcast is disabled so only the operator's explicit
    F.broadcast hint can produce this plan."""
    from arrow_parquet_logs_spark.operators.text import contamination_coverage

    span = "one two three four five six seven eight nine ten"
    corpus = spark.createDataFrame(
        [(i, f"{span} filler {i}") for i in range(50)], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(f"stem {span} choices",)], "text string")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        cov = contamination_coverage(corpus, bench, min_len=10)
        plan = cov._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
        for bad in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
                    "BroadcastNestedLoopJoin"):
            assert bad not in plan, plan
        # the join's SUBTREE (consecutive deeper lines after the join line)
        # must contain no shuffle Exchange OUTSIDE the BroadcastExchange
        # branch — the bench side may shuffle (its distinct is bench-sized,
        # that's the asymmetry), but "Exchange hashpartitioning" on the
        # corpus side means the 100 TB scan got shuffled before the probe
        lines = plan.splitlines()

        def depth(ln: str) -> int:
            return max(ln.find("+- "), ln.find(":- "))

        (ji,) = [i for i, ln in enumerate(lines) if "BroadcastHashJoin" in ln]
        jd = depth(lines[ji])
        bcast_depth = None
        for ln in lines[ji + 1:]:
            d = depth(ln)
            if d <= jd:
                break
            if bcast_depth is not None and d > bcast_depth:
                continue  # inside the broadcast (bench) branch
            bcast_depth = None
            if "BroadcastExchange" in ln:
                bcast_depth = d
                continue
            assert "Exchange hashpartitioning" not in ln, (
                f"shuffle below the contamination probe join:\n{plan}"
            )
        # semantics smoke: every corpus doc's leaked span (positions 0..9)
        # is covered, the per-doc filler is not
        got = {(r.doc_id, r.tpos) for r in cov.collect()}
        assert got == {(i, p) for i in range(50) for p in range(10)}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_r11_r12_win_plans_pinned(spark, sf_dir):
    """Regression pins for the r11/r12 optimization wins (VERDICT r11 #7):
    a future AQE/statistics change must not silently resurrect the
    SortMergeJoins removed from the gate/audit rows, re-duplicate the UDF
    work, or re-grow docs_token_lift's exchange count. Counts are taken on
    the pre-AQE section of the simple plan (the Initial Plan echo repeats
    every node; cached subtrees echo under InMemoryTableScan — SMJ=0 is
    echo-proof, the shuffle bound is counted on the one query that holds
    no cache)."""
    from arrow_parquet_logs_spark.queries import REGISTRY

    pinned_no_smj = (
        "docs_token_lift",
        "events_kmv_type_overlap",
        "embeddings_matryoshka_recall",
        "ann_bq_centered_recall_audit",
        "ann_ivf_kmeans",
        "ann_pq_rerank",
        "ann_ivfpq_search",
        "embeddings_pq_adc",
    )
    for name in pinned_no_smj:
        plan = explain_str(
            REGISTRY[name].fn(spark, sf_dir), mode="simple"
        ).split("== Initial Plan ==")[0]
        assert "SortMergeJoin" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan, (name, plan)

    # docs_token_lift: the row-local distinct + shared self-join exchange
    # hold at 3 shuffles (agg + join key + orderBy); 8 was the r10 shape
    plan = explain_str(
        REGISTRY["docs_token_lift"].fn(spark, sf_dir), mode="simple"
    ).split("== Initial Plan ==")[0]
    shuffles = (
        plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning")
        + plan.count("Exchange RoundRobin")
    )
    assert shuffles <= 4, plan
