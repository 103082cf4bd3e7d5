"""Differential harness: Spark query vs DuckDB oracle, strict equality.

Emulates (conservatively) the driver's t2 gate: run both engines over the
same parquet tables, sort columns by name, sort rows, compare values exactly.
If this passes, any order-insensitive value hash passes too.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from arrow_parquet_logs_spark.sources.tables import TABLE_NAMES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        return repr(v)
    return str(v)


def canonical_rows(pdf: pd.DataFrame) -> list[tuple[str, ...]]:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = [tuple(_cell(v) for v in rec) for rec in pdf.itertuples(index=False, name=None)]
    return sorted(rows)


#: queries whose plans intentionally use a BROADCAST nested loop to combine
#: a bounded side — a 1-row aggregate/stats frame (funnel stage counts, BM25
#: corpus stats, scalar-subquery averages) or a broadcast query set (ANN
#: query×corpus scoring, where the query batch is small by definition).
#: A raw (non-broadcast) CartesianProduct is still a regression for them.
_BROADCAST_NL_OK = {
    "events_funnel_conversion",
    "docs_bm25_retrieval",
    "docs_hybrid_rrf_retrieval",          # 1-row BM25 stats + 1-row query-vector combines
    "docs_cross_encoder_rerank",          # 1-row BM25 stats combine (bm25_scores shape)
    "docs_table_profile",
    "events_winsorized_mean",
    "events_cuped_adjusted_lift",       # 1-row pooled-moments combine onto 2 arms
    "docs_weighted_sample",
    "docs_mixture_plan",
    "agg_approx_distinct",
    "tpch_q15_top_supplier",
    "tpch_q22_dormant_rich_customers",  # scalar avg subquery (TPC-H shape)
    "tpch_q11_important_suppliers",     # 1-row global-total threshold combine
    "docs_importance_weights",          # 1-row corpus stats combine
    "docs_top_terms_approx",            # 1-row approx_top_k result explode
    "docs_unigram_lm_score",            # 1-row vocabulary stats combine
    "docs_token_lift",                  # 1-row corpus doc-count combine
    "events_chisq_independence",        # margins cross: stat-sized R×C grid
    "docs_split_drift_tvd",             # 1-row split-total combines
    "agg_hll_portable",                 # 1-row exact x 1-row sketch combine
    "events_stream_hll",                # same combine, streamed registers
    "lineitem_benford_screen",          # 1-row total onto the 9-digit grid
    "tpch_fk_integrity_audit",          # 1-row count x 1-row orphan combines
    "graph_pagerank_trade",             # 1-row N / dangling-mass scalar combine
    "graph_pagerank_personalized",      # same + 1-row seed-count combine
    "ann_binary_quantized_rerank",      # broadcast query set × corpus (integer
                                        # hamming scan) + broadcast rerank
    "embeddings_matryoshka_recall",     # broadcast query set × corpus (two rankings)
    "ann_bq_centered_recall_audit",     # broadcast query set × corpus (fused
                                        # cosine + raw/centered hamming audit scan)
    "ann_maxsim_late_interaction",      # broadcast sliced query set × corpus
    "ann_maxsim_rerank",                # broadcast query set + sliced-query rerank
    "embeddings_triplet_margin_audit",  # broadcast query set × corpus
    "ann_ivf_kmeans",                   # broadcast query set, pruned cells
    "ann_ivfpq_search",                 # broadcast rerank query set
    "ann_ivfpq_maxsim_rerank",          # broadcast query set (gate's exact MaxSim reference)
    "ann_pq_rerank",                    # broadcast rerank query set
    "events_kmv_type_overlap",          # sketch × sketch pair grid (≤ |types|²
                                        # rows of k-hash arrays — stat-sized,
                                        # never corpus-sized)
}


def audit_plan(spark_df, name: str = "?") -> None:
    """Every oracle-checked query's physical plan is also audited for
    quadratic operators — the 100 TB regression class. Runs on the SAME
    DataFrame the parity check executes, so the whole registry is swept on
    every full oracle run at no extra cost (queries that materialize
    internally and return collected rows present a LocalTableScan here;
    their internal plans are covered by the operator-level plan tests)."""
    from arrow_parquet_logs_spark.plans.inspect import explain_str

    plan = explain_str(spark_df)
    assert "CartesianProduct" not in plan, f"{name}: CartesianProduct in plan"
    if name not in _BROADCAST_NL_OK:
        assert "NestedLoop" not in plan, f"{name}: BroadcastNestedLoopJoin in plan"


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "?") -> None:
    audit_plan(spark_df, name)
    s_pdf = spark_df.toPandas()
    d_pdf = con.sql(sql).df()
    assert sorted(s_pdf.columns) == sorted(d_pdf.columns), (
        f"{name}: column mismatch spark={sorted(s_pdf.columns)} duck={sorted(d_pdf.columns)}"
    )
    s_rows, d_rows = canonical_rows(s_pdf), canonical_rows(d_pdf)
    assert len(s_rows) == len(d_rows), f"{name}: row count spark={len(s_rows)} duck={len(d_rows)}"
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        assert a == b, f"{name}: first differing row #{i}:\n  spark={a}\n  duck ={b}"
