"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every registered query to a (spark, sf_dir) →
DataFrame callable; ``oracle_sql()`` provides the DuckDB-equivalent ANSI
SQL. Both come from the records in :mod:`shaha_spark.registry`, where
each query is declared once next to its oracle; COVERAGE.md maps the
queries to the operators they exercise.

Both sides are generated from the same constants
(shaha_spark/operators/constants.py), and all floating-point outputs
are reproducible across engines: exact decimal accumulation cast to
double for sums, sequential-fold / single-division double arithmetic
(deliberately UNrounded — round() itself diverges at half-ulp
boundaries of small-integer ratios) for ratios and scores, and
round(…, 6) only for cosine similarity, where engine-internal FMA
accumulation differs in the last ulp but real-valued cosines never sit
on decimal half-boundaries.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from shaha_spark.registry import records
from shaha_spark.registry.hashdb import q_build_multi_algo


def oracle_sql() -> dict[str, str]:
    return {
        n: r.oracle for n, r in records().items() if r.oracle is not None
    }


def local_oracle_sql() -> dict[str, str]:
    """Oracles that require :func:`local_oracle_setup` on the DuckDB
    connection first (Python-API scalar UDFs via ``create_function``).

    NOT merged into :func:`oracle_sql`: the driver's gate runs the
    oracle strings on a plain connection and cannot register custom
    functions, so these entries stay rows-only there. The local suite
    (tests/test_oracle.py) runs them through the driver's exact
    comparison (columns + rows + full-precision values), closing the
    "DuckDB lacks sha256(BLOB)" gap at the component level."""
    return {
        n: r.local_oracle
        for n, r in records().items()
        if r.local_oracle is not None
    }


def local_oracle_setup(con) -> None:
    """Register the scalar functions :func:`local_oracle_sql` needs.

    ``sha256_bin`` is the binary-in/binary-out SHA-256 DuckDB's SQL
    surface lacks (its builtin ``sha256`` returns hex VARCHAR and, in
    DuckDB 1.x, has no BLOB-returning form to compose double-hashing
    from)."""
    import hashlib

    from duckdb.typing import BLOB

    con.create_function(
        "sha256_bin", lambda b: hashlib.sha256(b).digest(), [BLOB], BLOB
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the multi-algorithm
    hash-database build projection (the engine's core pipeline)."""
    return q_build_multi_algo(spark, "/root/testdata/sf0.001")


#: The driver's correctness harness checks the first 50 ``queries()``
#: entries only, so the registry leads with this window. It holds the
#: re-verification anchors — queries whose derivation, or whose SQL
#: twin, changed after their newest green driver row — then the
#: never-verified entries, then entries whose latest driver row is red,
#: then the least recently verified ones. ``make window``
#: (scripts/plan_window.py) computes the next rotation from the shipped
#: CORRECTNESS_r*.json files, and tests/test_coverage_guard.py checks
#: the ordering.
WINDOW_ANCHORS: list[str] = [
    "tpch_q2", "tpch_q20", "tpch_q21", "events_bootstrap_ci",
    "docs_split_balance", "dedup_minhash_cc",
    "events_rollup_incremental", "dq_referential",
    "orders_basket_rules", "orders_pair_triangles",
    "dedup_cluster_sizes", "docs_cluster_split",
]

DRIVER_WINDOW: list[str] = WINDOW_ANCHORS + [
    "events_trend", "events_autocorr", "events_ewma",
    "docs_mutual_info", "docs_packed", "tpch_q12", "similarity_ivf",
    "emb_sq_topk", "emb_prefix_topk", "events_cube",
    "events_nearest_join", "events_cdc_snapshot", "emb_prefix_ndcg",
    "snapshot_time_travel", "multimodal_dedup",
    "events_cumulative_users", "docs_bm25", "snapshot_row_diff",
    "docs_clf_report", "docs_calibration", "docs_auc", "docs_overview",
    "dq_functional", "events_value_percentile",
    "events_audience_overlap", "docs_hapax_ratio", "emb_silhouette",
    "docs_freshness", "events_streaks", "events_benford",
    "words_freq_of_freqs", "events_cohort_value", "users_survival",
    "docs_rank_fusion", "events_active_time",
    "lineitem_weighted_median", "events_session_paths",
    "events_mean_shift",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver window first, then every other record in family
    order."""
    recs = records()
    out = {name: recs[name].build for name in DRIVER_WINDOW}
    for name, rec in recs.items():
        out.setdefault(name, rec.build)
    return out
