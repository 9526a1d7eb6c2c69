"""Round-4 registration invariants that the generic oracle harness
cannot express. The staged backlog merged into the main registry in
round 4, so the driver-exact oracle comparison for these queries now
runs once in tests/test_oracle.py; this file keeps the rows-only
registrations honest (k-core invariant pair, IVF-PQ rank/score shape,
BPE losslessness) plus known-answer checks.
"""

from __future__ import annotations

import math

import duckdb
import pytest

import __spark_entry__ as staging
from _oracle_typecheck import assert_types_compatible
from shaha_spark.registry.common import read_table

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


def _norm(v):
    # full-precision norm; see the rationale in tests/test_oracle.py
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return v


def _sorted_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=repr)


QUERIES = staging.queries()
ORACLES = staging.oracle_sql()

#: The queries first registered in round 4, now held in the shared
#: registry like every other query.
R4_NAMES = frozenset({
    "dedup_cluster_sizes", "dedup_keep_best", "docs_auc", "docs_bm25",
    "docs_bpe_encode", "docs_calibration", "docs_char_entropy",
    "docs_clf_report", "docs_contamination_report", "docs_curated",
    "docs_domain_importance", "docs_dsir_topk", "docs_dsir_weights",
    "docs_dup_span_removed", "docs_freshness", "docs_hapax_ratio",
    "docs_hashed_features", "docs_isotonic", "docs_license_scan",
    "docs_line_dedup", "docs_logreg_score", "docs_overview",
    "docs_phrase_search", "docs_postings_stats", "docs_ppl_buckets",
    "docs_psi_drift", "docs_rank_fusion", "docs_redact", "docs_source_cap",
    "docs_temperature_rates", "docs_temperature_resample",
    "docs_token_budget", "docs_top_keywords", "docs_trigram_backoff",
    "docs_url_policy", "docs_winnowing", "dq_functional", "dq_referential",
    "emb_ann_recall", "emb_diverse_sample", "emb_hard_negatives",
    "emb_ivf_index_append_topk", "emb_ivf_index_topk",
    "emb_ivf_pq_index_append_topk", "emb_ivf_pq_index_topk",
    "emb_ivf_pq_refine_topk", "emb_ivf_pq_topk", "emb_knn_accuracy",
    "emb_pq_topk", "emb_prefix_ndcg", "emb_prefix_topk",
    "emb_semantic_dedup", "emb_silhouette", "emb_sq_topk",
    "events_ab_welch", "events_active_time", "events_audience_overlap",
    "events_benford", "events_cdc_snapshot", "events_chi_square",
    "events_cohort_value", "events_cube", "events_cumulative_users",
    "events_debounce", "events_gapfill", "events_interarrival",
    "events_key_skew", "events_mad_outliers", "events_mean_shift",
    "events_nearest_join", "events_pit_join", "events_rollup_incremental",
    "events_session_paths", "events_streaks", "events_value_percentile",
    "lineitem_weighted_median", "multimodal_dedup", "orders_basket_rules",
    "orders_kcore", "orders_pair_triangles", "orders_set_similarity",
    "snapshot_row_diff", "snapshot_time_travel", "users_scd2",
    "users_survival", "words_collocations", "words_freq_of_freqs",
    "words_trigram_fuzzy",
})


def test_every_oracle_has_query():
    assert R4_NAMES & set(ORACLES) <= set(QUERIES)


def test_only_documented_oracle_less():
    # every r4 registration is oracled as of r5: orders_kcore via the
    # recursive-peel twin (graph.k_core_peel_sql), emb_ivf_pq_topk via
    # the composed PQ+IVF SQL chain, docs_bpe_encode via the roundtrip
    # invariant (decode(encode(term)) == term, exact rows).
    assert R4_NAMES - set(ORACLES) == set()


def test_kcore_rows_only_invariants(spark, sf_dir):
    """The rows-only k-core registration still gets a hard check: the
    defining invariant pair over the same edge construction."""
    import collections

    from pyspark.sql import functions as F

    from shaha_spark.operators.basket import pair_counts

    core = {r.node for r in QUERIES["orders_kcore"](spark, sf_dir).collect()}
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    edges = pair_counts(li, "l_orderkey", "l_partkey").where(
        F.col("n_pair") >= 2
    )
    nbrs = collections.defaultdict(set)
    for r in edges.collect():
        nbrs[r.item_a].add(r.item_b)
        nbrs[r.item_b].add(r.item_a)
    # independent reference: the true 3-core by driver-side peeling —
    # exact-set equality is SF-independent (at sf0.1 the co-purchase
    # graph's 3-core is genuinely EMPTY, which the old non-empty
    # assumption misread as a failure; an empty operator result must
    # match an empty reference, not be banned)
    alive = set(nbrs)
    changed = True
    while changed:
        changed = False
        for n in list(alive):
            if len(nbrs[n] & alive) < 3:
                alive.discard(n)
                changed = True
    assert core == alive, (sorted(core)[:10], sorted(alive)[:10])
    for n in core:
        assert len(nbrs[n] & core) >= 3


def test_ivf_pq_rows_only(spark, sf_dir):
    out = QUERIES["emb_ivf_pq_topk"](spark, sf_dir)
    rows = out.collect()
    assert rows, "ivf-pq returned nothing"
    assert out.columns == ["query_id", "vec_id", "approx_cosine", "rank"]
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert len(rs) <= 5
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1))
        # scores are valid approximate cosines, monotone in rank (the
        # k=4 codebook quantizes coarsely, so no closeness-to-1 claim)
        ordered = sorted(rs, key=lambda r: r.rank)
        scores = [r.approx_cosine for r in ordered]
        assert scores == sorted(scores, reverse=True)
        assert all(-1.01 <= s <= 1.01 for s in scores)


def test_r4_oracles_covered_by_main_harness():
    """Every r4 query and its oracle must be reachable by the generic
    driver-exact comparison in tests/test_oracle.py."""
    assert R4_NAMES <= set(QUERIES)
    assert R4_NAMES <= set(ORACLES)


def test_char_entropy_known_values(spark):
    import math

    from pyspark.sql import Row

    from shaha_spark.operators.textops import char_entropy

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="aaaa"),        # uniform -> 0 bits
            Row(doc_id=2, text="abab"),        # two equiprobable -> 1 bit
            Row(doc_id=3, text="abcd"),        # four equiprobable -> 2 bits
            Row(doc_id=4, text=""),            # empty -> 0, zero chars
        ]
    )
    got = {r.doc_id: r for r in char_entropy(df).collect()}
    assert got[1].entropy == pytest.approx(0.0) and got[1].n_distinct_chars == 1
    assert got[2].entropy == pytest.approx(1.0)
    assert got[3].entropy == pytest.approx(2.0)
    assert got[4].n_chars == 0 and got[4].entropy == 0.0
    # natural-prose-vs-junk direction: uniform junk maxes out
    rng_text = "".join(chr(97 + (i * 7) % 26) for i in range(260))
    df2 = spark.createDataFrame(
        [Row(doc_id=1, text="the cat sat on the mat with the hat"),
         Row(doc_id=2, text=rng_text)]
    )
    e = {r.doc_id: r.entropy for r in char_entropy(df2).collect()}
    assert e[2] > e[1]
    assert e[2] == pytest.approx(math.log2(26), abs=0.01)


def test_bpe_encode_roundtrip_registration(spark, sf_dir):
    out = QUERIES["docs_bpe_encode"](spark, sf_dir)
    assert out.columns == ["doc_id", "term", "decoded"]
    n = out.count()
    assert n > 0
    # the oracle-checked invariant locally too: concatenating pieces
    # restores the term (merge application never loses characters)
    from pyspark.sql import functions as F

    bad = out.where(F.col("decoded") != F.col("term")).count()
    assert bad == 0
    # the encoding is non-trivial: at least one term actually merged
    # into fewer pieces than characters (8 merges on real text must
    # fire), so the roundtrip isn't vacuously the identity
    from shaha_spark.operators.terms import bpe_train

    docs = read_table(spark, sf_dir, "documents")
    assert len(bpe_train(docs, num_merges=8)) > 0


def _peel(edges_sql: str, k: int, max_iters: int):
    from shaha_spark.operators.graph import k_core_peel_sql

    sql = k_core_peel_sql(f"e(a, b) AS ({edges_sql})", k=k, max_iters=max_iters)
    return sorted(r[0] for r in duckdb.connect().execute(sql).fetchall())


def test_kcore_sql_empty_at_max_iters_is_converged():
    """Regression (r6): a path graph's 2-core is EMPTY; when the peel
    empties exactly at iteration max_iters, the empty set is a true
    fixpoint and the -1 poison row must NOT be emitted."""
    # path 1-2-3-4-5-6 peels 2 endpoints/iter: iters 1..3 -> 4, 2, 0
    path6 = "VALUES (1,2),(2,3),(3,4),(4,5),(5,6)"
    assert _peel(path6, k=2, max_iters=3) == []
    # plenty of budget: same answer
    assert _peel(path6, k=2, max_iters=10) == []


def test_kcore_sql_unconverged_still_poisons():
    # cut off mid-peel with a NONEMPTY, still-shrinking survivor set:
    # iter 2 = {3,4} != iter 1 = {2,3,4,5} -> loud -1 row
    path6 = "VALUES (1,2),(2,3),(3,4),(4,5),(5,6)"
    assert -1 in _peel(path6, k=2, max_iters=2)


def test_kcore_sql_stable_core_unchanged():
    # a triangle is its own 2-core from iteration zero
    tri = "VALUES (1,2),(1,3),(2,3)"
    assert _peel(tri, k=2, max_iters=1) == [1, 2, 3]
    assert _peel(tri, k=2, max_iters=7) == [1, 2, 3]
