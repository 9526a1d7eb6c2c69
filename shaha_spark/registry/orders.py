"""Order-basket and graph queries, plus hash sampling and splits."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from shaha_spark.operators.graph import k_core_peel_sql
from shaha_spark.operators.sampling import bucket_sql
from shaha_spark.registry import query
from shaha_spark.registry.common import read_table, SPLIT_WEIGHTS


#: weighted-sampling normalizer: documents cap out near this length
WEIGHTED_MAX_CHARS = 200.0


@query("sample_weighted", f"""SELECT doc_id, n_chars FROM documents
WHERE CAST({bucket_sql('doc_id', 'wr2')} AS DOUBLE) * {WEIGHTED_MAX_CHARS!r}
  < CAST(n_chars AS DOUBLE) * 10000.0""")
def q_sample_weighted(spark, sf_dir):
    """Length-proportional document sampling (importance sampling for
    training mixes): keep probability = n_chars / 200, decided by the
    same cross-engine hash as the uniform sampler."""
    from shaha_spark.operators.sampling import weighted_hash_sample

    docs = read_table(spark, sf_dir, "documents")
    return weighted_hash_sample(
        docs, "n_chars", WEIGHTED_MAX_CHARS, "doc_id", salt="wr2"
    ).select("doc_id", "n_chars")


@query("orders_topk_per_cust", """WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
    ) AS rank
  FROM orders
)
SELECT o_custkey, o_orderkey, o_totalprice, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 3""")
def q_orders_topk_per_cust(spark, sf_dir):
    """Grouped top-k: each customer's 3 highest-value orders by ranked
    window with a deterministic orderkey tiebreak."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


@query(
    "sample_documents",
    "SELECT doc_id, source FROM documents "
    f"WHERE {bucket_sql('doc_id', 'r2')} < 1000",
)
def q_sample_documents(spark, sf_dir):
    """Deterministic 10% document sample (hash-membership, not RNG —
    reproducible across engines, partitionings, and re-runs)."""
    from shaha_spark.operators.sampling import hash_sample

    return hash_sample(
        read_table(spark, sf_dir, "documents"), 0.1, "doc_id", salt="r2"
    ).select("doc_id", "source")


# bucket ranges in sorted split-name order: eval [0,500), test
# [500,1000), train [1000,10000) — mirrors sampling.hash_split
@query("split_documents", f"""WITH b AS (
  SELECT {bucket_sql('doc_id', 'r2')} AS bucket FROM documents
)
SELECT CASE WHEN bucket < 500 THEN 'eval'
            WHEN bucket < 1000 THEN 'test'
            ELSE 'train' END AS split,
       count(*) AS n_docs
FROM b GROUP BY 1""")
def q_split_documents(spark, sf_dir):
    """Disjoint exhaustive train/eval/test assignment from the same
    membership hash; per-split counts as the compact verifiable output."""
    from shaha_spark.operators.sampling import hash_split

    split = hash_split(
        read_table(spark, sf_dir, "documents"), SPLIT_WEIGHTS, "doc_id", salt="r2"
    )
    return split.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))


@query("orders_kcore", k_core_peel_sql(
    """di AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pc AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS n_pair
  FROM di a JOIN di b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
e AS (SELECT a, b FROM pc WHERE n_pair >= 2)""",
    k=3,
))
def q_orders_kcore(spark, sf_dir):
    """3-core of the part co-purchase graph — iterative peeling to the
    fixpoint (operators.graph.k_core). Oracled since r5: the DuckDB
    twin runs the SAME peel as a bounded recursive CTE with a loud
    fixpoint guard (graph.k_core_peel_sql) — an exact set comparison,
    not an invariant check. The invariant pair (every survivor has ≥k
    surviving neighbors, dropped nodes would not) stays asserted in
    tests as a second, independent contract."""
    from shaha_spark.operators.basket import pair_counts
    from shaha_spark.operators.graph import k_core

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = pair_counts(li, "l_orderkey", "l_partkey").where(
        F.col("n_pair") >= 2
    )
    return k_core(edges, k=3, src="item_a", dst="item_b")


# independent candidate generation (ANY shared item — exhaustive)
# + the same integer-exact verify: identical final pairs proves the
# Spark side's prefix filter is exact-recall
@query("orders_set_similarity", """WITH di AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS it FROM lineitem
),
sz AS (SELECT b, COUNT(*) AS n FROM di GROUP BY b),
inter AS (
  SELECT a.b AS basket_a, bb.b AS basket_b, COUNT(*) AS inter
  FROM di a JOIN di bb ON a.it = bb.it AND a.b < bb.b
  GROUP BY 1, 2
)
SELECT i.basket_a, i.basket_b, CAST(i.inter AS BIGINT) AS inter,
  CAST(sa.n + sb.n - i.inter AS BIGINT) AS n_union,
  round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6) AS jaccard
FROM inter i
JOIN sz sa ON i.basket_a = sa.b
JOIN sz sb ON i.basket_b = sb.b
WHERE CAST(i.inter AS DOUBLE) >= 0.5 * (sa.n + sb.n - i.inter)""")
def q_orders_set_similarity(spark, sf_dir):
    """Set-similarity self-join over order part-sets (Jaccard ≥ 0.5)
    with exact-recall prefix filtering
    (operators.basket.set_similarity_join); the oracle generates
    candidates exhaustively from ANY shared item and must produce the
    identical verified pair set — proving the prefix filter loses
    nothing."""
    from shaha_spark.operators.basket import set_similarity_join

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return set_similarity_join(li, "l_orderkey", "l_partkey", threshold=0.5)


# independent algorithm as the oracle: canonical a<b<c three-way
# self-join (the Spark side uses degree-oriented wedges — same
# triangles, different enumeration, stronger cross-check)
@query("orders_pair_triangles", """WITH di AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pc AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS n_pair
  FROM di a JOIN di b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
e AS (SELECT a, b FROM pc WHERE n_pair >= 2),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1 JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
nodes AS (SELECT a AS n FROM e UNION SELECT b FROM e)
SELECT CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS n_triangles,
       CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges""")
def q_orders_pair_triangles(spark, sf_dir):
    """Triangle count of the part co-purchase graph (edges = basket
    pairs with support >= 2) via degree-oriented wedge enumeration
    (operators.graph.triangle_count); the oracle counts the same
    triangles with the independent a<b<c three-way join."""
    from shaha_spark.operators.basket import pair_counts
    from shaha_spark.operators.graph import triangle_count

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = pair_counts(li, "l_orderkey", "l_partkey").where(
        F.col("n_pair") >= 2
    )
    return triangle_count(edges, "item_a", "item_b")


# counts exact integers; support/confidence/lift are single
# correctly-rounded divisions of products that stay below 2^53 —
# identical across engines before the round(.,9)
@query("orders_basket_rules", """WITH di AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM di),
ic AS (SELECT l_partkey, COUNT(*) AS ni FROM di GROUP BY l_partkey),
pc AS (
  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b, COUNT(*) AS n_pair
  FROM di a JOIN di b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
)
SELECT item_a, item_b, CAST(n_pair AS BIGINT) AS n_pair,
  round(n_pair / CAST(nb.n AS DOUBLE), 9) AS support,
  round(n_pair / CAST(ia.ni AS DOUBLE), 9) AS confidence,
  round((CAST(n_pair AS DOUBLE) * CAST(nb.n AS DOUBLE))
        / (CAST(ia.ni AS DOUBLE) * CAST(ib.ni AS DOUBLE)), 9) AS lift
FROM pc
CROSS JOIN nb
JOIN ic ia ON pc.item_a = ia.l_partkey
JOIN ic ib ON pc.item_b = ib.l_partkey
WHERE n_pair >= 2
ORDER BY lift DESC, item_a, item_b
LIMIT 20""")
def q_orders_basket_rules(spark, sf_dir):
    """Market-basket association pairs over lineitem (order = basket,
    part = item): top-20 by lift with support/confidence — bounded
    in-basket pair expansion, never a self-join
    (operators.basket.basket_rules)."""
    from shaha_spark.operators.basket import basket_rules

    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return basket_rules(
        li, "l_orderkey", "l_partkey", min_pair_count=2, top=20
    )
