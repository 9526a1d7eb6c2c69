"""Deterministic distributed k-means (Lloyd) over an embedding column.

Replaces the label-derived stand-in centroids (similarity.label_centroids)
with the real iterative algorithm, shaped for Spark's execution model:

  * each iteration = one broadcast of the k centroids + one corpus scan
    whose argmax assignment is a partial-aggregable max(struct) hash
    aggregate (optimization round 12) + one partial-agg groupBy for
    the per-dimension means — the corpus is never shuffled by cluster;
  * centroids are materialized (localCheckpoint) between iterations so
    the plan stays one-iteration deep — chaining N lazy iterations would
    re-derive every previous assignment on each action;
  * everything is deterministic and cross-engine reproducible: init is
    the k lowest-id vectors, assignment ties break on centroid id, the
    means accumulate in DECIMAL (order-free) and round through FLOAT
    exactly like similarity.label_centroids, and empty clusters keep
    their previous centroid.

The driver-side loop is ITERATION control only (k broadcasts of k rows);
all data-plane work is declarative DataFrame ops. An equivalent DuckDB
oracle is generated per-iteration in shaha_spark/registry/emb.py
(chained CTEs), so the whole iterative computation sits inside the
value-hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from shaha_spark.operators.similarity import cosine_sim_hoisted, dot, norm2


def _means(assigned: DataFrame, vec_col: str) -> DataFrame:
    """Per-centroid decimal-exact mean vector (float-rounded), plus
    member counts. assigned: [centroid_id, vec_col]. Delegates to
    similarity.label_centroids — the single home of the decimal-mean
    determinism recipe both operators' oracles replicate."""
    from shaha_spark.operators.similarity import label_centroids

    return label_centroids(
        assigned, vec_col, label_col="centroid_id", with_counts=True
    )


def assign_nearest(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid (max cosine, id-asc ties) per vector: broadcast
    centroids, one scan, per-vector argmax as a partial-aggregable
    ``max(struct(...))`` (optimization round 12, guide §2.3/§2.4).
    max over a struct compiles to a SortAggregate (struct buffers are
    not hash-aggregable), so the map-side sort remains — the win over
    the old rank-1 window is the map-side combine (k·n scored rows,
    each carrying the full vector, reduce to n before the exchange)
    and the absence of Window machinery on the reduce side, NOT a
    sort-free plan (OPTIMIZATION_r12.md §16). The struct ordering
    (sim, −centroid_id) picks the identical winner: max sim first,
    then the LOWEST centroid id (Spark orders NULL smallest and NaN
    greatest in both window ``desc``-NULLS-LAST and struct
    comparisons, so degenerate scores tie-break the same way).
    Precondition of the negation tie-break: centroid ids are numeric
    and non-NULL (true for every in-repo producer — kmeans_fit
    assigns dense ints; a NULL id would tie-break differently from
    the legacy window's asc-NULLS-FIRST, and negation overflows at
    INT64_MIN under ANSI)."""
    c = F.broadcast(
        centroids.select(
            "centroid_id", "centroid", norm2(F.col("centroid")).alias("__ctn2")
        )
    )
    scored = corpus.withColumn("__vn2", norm2(F.col(vec_col))).crossJoin(
        c
    ).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("centroid_id"),
        cosine_sim_hoisted(
            dot(F.col(vec_col), F.col("centroid")),
            F.col("__vn2"),
            F.col("__ctn2"),
        ).alias("__sim"),
    )
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(
                F.col("__sim").alias("s"),
                (-F.col("centroid_id")).alias("nc"),
                F.col("centroid_id").alias("cid"),
                F.col(vec_col).alias("v"),
            )
        ).alias("__b")
    )
    return best.select(
        F.col(id_col),
        F.col("__b.v").alias(vec_col),
        F.col("__b.cid").alias("centroid_id"),
    )


def kmeans_fit(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd iterations; returns [centroid_id, centroid, n_members].

    centroid_id is 1..k by init order (the k lowest ids). n_members is
    the assignment count of the FINAL iteration (an empty cluster keeps
    its previous centroid with n_members = 0).
    """
    # distributed top-k by id first (TakeOrderedAndProject), THEN number
    # the k survivors — a bare global row_number window would funnel the
    # whole corpus through one task
    seeds = corpus.select(F.col(id_col), F.col(vec_col)).orderBy(
        F.col(id_col).asc()
    ).limit(k)
    init = (
        seeds.withColumn(
            "centroid_id", F.row_number().over(Window.orderBy(F.col(id_col).asc()))
        )
        .select("centroid_id", F.col(vec_col).alias("centroid"))
        .withColumn("n_members", F.lit(0).cast("bigint"))
    )
    centroids = init.localCheckpoint(eager=True)
    for _ in range(iters):
        assigned = assign_nearest(corpus, centroids, vec_col, id_col)
        new = _means(assigned, vec_col)
        # empty clusters keep their previous centroid (deterministic)
        merged = (
            centroids.select("centroid_id", F.col("centroid").alias("prev"))
            .join(new, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce("centroid", "prev").alias("centroid"),
                F.coalesce("n_members", F.lit(0)).cast("bigint").alias("n_members"),
            )
        )
        centroids = merged.localCheckpoint(eager=True)
    return centroids


def kmeans_fit_grouped(
    data: DataFrame,
    init: DataFrame,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    group_col: str = "sub_id",
) -> DataFrame:
    """Lloyd iterations for MANY independent k-means problems at once,
    keyed by ``group_col`` (optimization round 12, guide §2.6: the m
    sub-quantizer fits of PQ training are independent — running them
    as one keyed computation turns m sequential corpus passes per
    iteration into ONE).

    ``data``: [group_col, id_col, vec_col] — every group's points.
    ``init``: [group_col, centroid_id, centroid, n_members] — per-group
    seed centroids (caller-provided; seeding strategies differ by use).

    Each group's trajectory is bit-identical to running
    :func:`kmeans_fit`'s loop on that group's rows alone: the scoring
    expressions are the same, the per-point argmax window adds
    ``group_col`` to its partition key (same candidates, same tie
    order within a group), and the decimal-exact means are order-free
    so regrouping by the added key changes nothing. Returns
    [group_col, centroid_id, centroid, n_members].
    """
    from shaha_spark.operators.similarity import label_centroids

    centroids = init.localCheckpoint(eager=True)
    for _ in range(iters):
        c = F.broadcast(
            centroids.select(
                group_col,
                "centroid_id",
                "centroid",
                norm2(F.col("centroid")).alias("__ctn2"),
            )
        )
        scored = data.withColumn("__vn2", norm2(F.col(vec_col))).join(
            c, group_col
        ).select(
            group_col,
            F.col(id_col),
            F.col(vec_col),
            F.col("centroid_id"),
            cosine_sim_hoisted(
                dot(F.col(vec_col), F.col("centroid")),
                F.col("__vn2"),
                F.col("__ctn2"),
            ).alias("__sim"),
        )
        # argmax as a partial-aggregable max(struct) — same winner as
        # the rank-1 window, k× fewer exchanged rows, no sort (see
        # assign_nearest; the group key simply joins the grouping set)
        best = scored.groupBy(group_col, id_col).agg(
            F.max(
                F.struct(
                    F.col("__sim").alias("s"),
                    (-F.col("centroid_id")).alias("nc"),
                    F.col("centroid_id").alias("cid"),
                    F.col(vec_col).alias("v"),
                )
            ).alias("__b")
        )
        assigned = best.select(
            group_col,
            F.col(id_col),
            F.col("__b.v").alias(vec_col),
            F.col("__b.cid").alias("centroid_id"),
        )
        new = label_centroids(
            assigned,
            vec_col,
            label_col="centroid_id",
            with_counts=True,
            group_col=group_col,
        )
        merged = (
            centroids.select(
                group_col, "centroid_id", F.col("centroid").alias("prev")
            )
            .join(new, [group_col, "centroid_id"], "left")
            .select(
                group_col,
                "centroid_id",
                F.coalesce("centroid", "prev").alias("centroid"),
                F.coalesce("n_members", F.lit(0)).cast("bigint").alias("n_members"),
            )
        )
        centroids = merged.localCheckpoint(eager=True)
    return centroids


def prototypicality(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-vector prototypicality signal: the cosine to the assigned
    (nearest) centroid, with a ``prototypical`` flag at ``threshold`` —
    the SSL-prototypes data-pruning metric (Sorscher et al. 2022,
    "Beyond neural scaling laws: beating power law scaling via data
    pruning" — public method, re-expressed on DataFrame primitives:
    when data is abundant, prune the MOST prototypical examples —
    cluster-redundant mass — and keep the hard tail; when data is
    scarce, prune the least prototypical). This operator reports the
    SIGNAL; the keep/drop policy belongs to the consumer, composing as
    ``.where(~F.col("prototypical"))`` or a per-cluster quantile.

    Same scale shape as :func:`assign_nearest`: broadcast centroids
    (model-sized), ONE shuffle-free corpus scan scoring all k cosines
    with hoisted norms, a per-vector argmax window (k rows per
    partition key). The cosine rounds to 6 decimals — the embedding
    family's cross-engine convention — BEFORE the threshold compare,
    so both engines take the same branch at the boundary.

    Reference parity: none (extension layer, training-data canon).
    """
    c = F.broadcast(
        centroids.select(
            "centroid_id", "centroid", norm2(F.col("centroid")).alias("__ctn2")
        )
    )
    scored = (
        corpus.withColumn("__vn2", norm2(F.col(vec_col)))
        .crossJoin(c)
        .select(
            F.col(id_col),
            F.col("centroid_id"),
            cosine_sim_hoisted(
                dot(F.col(vec_col), F.col("centroid")),
                F.col("__vn2"),
                F.col("__ctn2"),
            ).alias("__sim"),
        )
    )
    # argmax as a partial-aggregable max(struct) — same winner as the
    # rank-1 window, k× fewer exchanged rows, no sort (assign_nearest)
    best = scored.groupBy(id_col).agg(
        F.max(
            F.struct(
                F.col("__sim").alias("s"),
                (-F.col("centroid_id")).alias("nc"),
                F.col("centroid_id").alias("cid"),
            )
        ).alias("__b")
    ).select(
        F.col(id_col),
        F.col("__b.cid").alias("centroid_id"),
        F.round(F.col("__b.s"), 6).alias("proto_cos"),
    )
    return best.select(
        "*",
        (F.col("proto_cos") >= F.lit(threshold)).alias("prototypical"),
    )


def cluster_profile(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-cluster curation report over a fitted k-means model: member
    count, mean cosine-to-centroid (cohesion), and the prototypical
    fraction at ``threshold`` — the audit row cluster-balanced
    curation reads before deciding per-cluster keep rates (the
    SemDeDup/SSL-prototypes loop works cluster by cluster: a huge,
    tight, highly-prototypical cluster is redundant mass to prune; a
    small diffuse one is the hard tail to keep).

    One row per CENTROID — empty clusters are reported rows with
    ``n_members`` 0 and NULL cohesion, never absent ones (the
    zero-states-are-rows convention). ``mean_cos`` is a decimal-exact
    sum of the rounded per-vector cosines divided once
    (:func:`~shaha_spark.operators.profile.split_cast_double`);
    ``proto_frac`` is a single IEEE division of exact integers.

    Scale shape: :func:`prototypicality`'s one shuffle-free corpus
    scan, then ONE map-side-combined hash-agg down to k rows and a
    k-row spine join. Nothing beyond the signal scan is data-sized.

    Reference parity: none (extension layer, training-data canon).
    """
    from shaha_spark.operators.profile import split_cast_double

    pr = prototypicality(corpus, centroids, threshold, vec_col, id_col)
    agg = pr.groupBy("centroid_id").agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum(F.col("proto_cos").cast("decimal(20,6)")).alias("__s"),
        F.sum(F.col("prototypical").cast("long")).alias("__np"),
    )
    spine = centroids.select("centroid_id")
    # agg is ≤ k rows (one per assigned centroid — model-sized); the
    # unhinted spine join planned sort-merge (optimization round 12)
    joined = spine.join(F.broadcast(agg), "centroid_id", "left")
    n = F.coalesce("__n", F.lit(0)).cast("long")
    return joined.select(
        "centroid_id",
        n.alias("n_members"),
        F.when(
            n > 0, split_cast_double(F.col("__s"), 6) / n.cast("double")
        ).alias("mean_cos"),
        F.when(
            n > 0, F.col("__np").cast("double") / n.cast("double")
        ).alias("proto_frac"),
    )
