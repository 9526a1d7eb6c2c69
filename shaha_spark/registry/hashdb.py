"""Hash-database queries: word scan and dedup, the build projections
(single, multi-algorithm, all nine digests), lookups, append-merge,
statistics and snapshots."""

from __future__ import annotations

from pyspark.sql import functions as F

from shaha_spark.registry import query
from shaha_spark.registry.common import (
    DWORDS_CTE,
    ensure_pkg,
    hex_col,
    read_dwords,
    read_words,
    WORDS_CTE,
)


# deterministic full-digest constant for the point-lookup query:
# sha256("the") — "the" is guaranteed by both engines to hash identically;
# if absent from the corpus both sides return the same empty set.
POINT_SHA256 = "b9776d7ddf459c9ad5b0e1d6ac61e27befb5e99fd62446677600d7cacef544d0"


def _multi_algo(spark, sf_dir):
    from shaha_spark.pipeline.build import dedup_records, hash_fanout

    records = hash_fanout(read_dwords(spark, sf_dir), ["md5", "sha256"])
    return dedup_records(records).select(
        hex_col(), F.col("preimage"), F.col("algorithm")
    )


_MULTI_CTE = (
    DWORDS_CTE
    + """,
multi AS (
  SELECT md5(word) AS hash_hex, word AS preimage, 'md5' AS algorithm FROM dwords
  UNION ALL
  SELECT sha256(word) AS hash_hex, word AS preimage, 'sha256' AS algorithm FROM dwords
)"""
)


def _all_algos_sql() -> str:
    """Oracle for build_all_algos: md5/sha256 computed natively by
    DuckDB; the other seven asserted against the literal known-answer
    table (provenance: scripts/gen_digest_vectors.py)."""
    from shaha_spark.functions.digest_vectors import VECTOR_DIGESTS

    vec_words = sorted(VECTOR_DIGESTS)
    in_list = ", ".join(f"'{w}'" for w in vec_words)
    rows = []
    for w in vec_words:
        for algo, hx in VECTOR_DIGESTS[w].items():
            if algo in ("md5", "sha256"):
                continue
            rows.append(f"('{w}', '{algo}', '{hx}')")
    values = ",\n  ".join(rows)
    return f"""WITH {DWORDS_CTE},
dw AS (
  SELECT word FROM (SELECT word FROM dwords UNION SELECT 'hello' AS word)
  WHERE word IN ({in_list})
),
vec(preimage, algorithm, hash_hex) AS (VALUES
  {values}
)
SELECT md5(word) AS hash_hex, word AS preimage, 'md5' AS algorithm FROM dw
UNION ALL
SELECT sha256(word) AS hash_hex, word AS preimage, 'sha256' AS algorithm FROM dw
UNION ALL
SELECT v.hash_hex, v.preimage, v.algorithm
FROM vec v JOIN dw ON v.preimage = dw.word"""


@query("wordlist_scan", f"WITH {WORDS_CTE} SELECT word, source FROM words")
def q_wordlist_scan(spark, sf_dir):
    return read_words(spark, sf_dir).select("word", "source")


@query("word_dedup", f"WITH {DWORDS_CTE} SELECT word FROM dwords")
def q_word_dedup(spark, sf_dir):
    return read_dwords(spark, sf_dir)


@query(
    "build_sha256",
    f"WITH {DWORDS_CTE} SELECT sha256(word) AS hash_hex, word AS preimage, "
    "'sha256' AS algorithm FROM dwords",
)
def q_build_sha256(spark, sf_dir):
    return read_dwords(spark, sf_dir).select(
        F.sha2("word", 256).alias("hash_hex"),
        F.col("word").alias("preimage"),
        F.lit("sha256").alias("algorithm"),
    )


@query("build_multi_algo", f"WITH {_MULTI_CTE} SELECT * FROM multi")
def q_build_multi_algo(spark, sf_dir):
    return _multi_algo(spark, sf_dir)


# hash256 = SHA256(SHA256(x)) — Bitcoin txid style
# (ref src/hasher/mod.rs:63-75)
@query(
    "build_hash256",
    local_oracle=(
        f"WITH {DWORDS_CTE} SELECT "
        "lower(hex(sha256_bin(sha256_bin(encode(word))))) AS hash_hex, "
        "word AS preimage, 'hash256' AS algorithm FROM dwords"
    ),
)
def q_build_hash256(spark, sf_dir):
    from shaha_spark.pipeline.build import hash_fanout

    return hash_fanout(read_dwords(spark, sf_dir), ["hash256"]).select(
        hex_col(), F.col("preimage"), F.col("algorithm")
    )


@query("build_all_algos", _all_algos_sql())
def q_build_all_algos(spark, sf_dir):
    """All nine digest algorithms over the corpus vocabulary (∪ the
    reference's canonical "hello"), restricted to the words covered by
    the known-answer table so the DuckDB side can assert literal
    expected digests for the algorithms DuckDB cannot compute natively
    (sha1/sha512/keccak256/ripemd160/blake3/hash160/hash256)."""
    from shaha_spark.functions.digest_vectors import VECTOR_DIGESTS
    from shaha_spark.functions.hashers import available_algorithms
    from shaha_spark.pipeline.build import hash_fanout

    ensure_pkg(spark)  # keccak/blake3/ripemd160 are pandas UDFs
    dw = (
        read_dwords(spark, sf_dir)
        .union(spark.createDataFrame([("hello",)], "word string"))
        .distinct()
        .filter(F.col("word").isin(sorted(VECTOR_DIGESTS)))
    )
    return hash_fanout(dw, available_algorithms()).select(
        hex_col(), "preimage", "algorithm"
    )


@query(
    "query_point_lookup",
    f"WITH {DWORDS_CTE} SELECT sha256(word) AS hash_hex, word AS preimage, "
    f"'sha256' AS algorithm FROM dwords WHERE sha256(word) = '{POINT_SHA256}'",
)
def q_point_lookup(spark, sf_dir):
    return q_build_sha256(spark, sf_dir).filter(
        F.col("hash_hex") == POINT_SHA256
    )


@query(
    "query_prefix",
    f"WITH {DWORDS_CTE} SELECT sha256(word) AS hash_hex, word AS preimage "
    "FROM dwords WHERE sha256(word) LIKE 'b9%'",
)
def q_prefix(spark, sf_dir):
    # "b9" matches sha256("the") = b977... — a prefix chosen to return
    # rows, mirroring the reference's prefix round-trip which queries a
    # prefix of a digest known to exist (ref tests/integration.rs:147-151).
    return q_build_sha256(spark, sf_dir).filter(
        F.col("hash_hex").startswith("b9")
    ).select("hash_hex", "preimage")


@query(
    "query_algo_filter",
    f"WITH {_MULTI_CTE} SELECT * FROM multi WHERE algorithm = 'md5'",
)
def q_algo_filter(spark, sf_dir):
    return _multi_algo(spark, sf_dir).filter(F.col("algorithm") == "md5")


@query(
    "query_topk_by_hash",
    f"WITH {_MULTI_CTE} SELECT * FROM multi ORDER BY hash_hex LIMIT 100",
)
def q_topk_by_hash(spark, sf_dir):
    return _multi_algo(spark, sf_dir).orderBy("hash_hex").limit(100)


@query("append_merge", f"""WITH {WORDS_CTE},
flags AS (
  SELECT word, bool_or(doc_id % 2 = 0) AS has_even, bool_or(doc_id % 2 = 1) AS has_odd
  FROM words GROUP BY word
)
SELECT sha256(word) AS hash_hex, word AS preimage, 'sha256' AS algorithm,
  CASE WHEN has_even AND has_odd THEN 'even,odd'
       WHEN has_even THEN 'even' ELSE 'odd' END AS sources_str
FROM flags""")
def q_append_merge(spark, sf_dir):
    from shaha_spark.pipeline.append import append_merge
    from shaha_spark.pipeline.build import hash_fanout

    words = read_words(spark, sf_dir)
    even = words.filter(F.col("doc_id") % 2 == 0).select("word").distinct()
    odd = words.filter(F.col("doc_id") % 2 == 1).select("word").distinct()
    existing = hash_fanout(even, ["sha256"], "even")
    new = hash_fanout(odd, ["sha256"], "odd")
    return append_merge(existing, new).select(
        hex_col(),
        F.col("preimage"),
        F.col("algorithm"),
        F.array_join("sources", ",").alias("sources_str"),
    )


@query("db_stats", f"""WITH {_MULTI_CTE}
SELECT count(*) AS total_records,
       count(DISTINCT preimage) AS n_preimages,
       string_agg(DISTINCT algorithm, ',' ORDER BY algorithm) AS algorithms_str
FROM multi""")
def q_db_stats(spark, sf_dir):
    return _multi_algo(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("total_records"),
        F.count_distinct(F.col("preimage")).alias("n_preimages"),
        F.array_join(F.sort_array(F.collect_set("algorithm")), ",").alias(
            "algorithms_str"
        ),
    )


@query("build_summary", f"""WITH {WORDS_CTE}
SELECT count(*) AS total_words,
       count(DISTINCT word) AS unique_words,
       count(*) - count(DISTINCT word) AS duplicates,
       count(DISTINCT word) * 2 AS records_to_generate
FROM words""")
def q_build_summary(spark, sf_dir):
    words = read_words(spark, sf_dir)
    return words.agg(
        F.count(F.lit(1)).alias("total_words"),
        F.count_distinct(F.col("word")).alias("unique_words"),
        (F.count(F.lit(1)) - F.count_distinct(F.col("word"))).alias("duplicates"),
        (F.count_distinct(F.col("word")) * 2).alias("records_to_generate"),
    )


@query("snapshot_row_diff", f"""WITH {WORDS_CTE},
odd AS (SELECT DISTINCT word FROM words WHERE doc_id % 2 = 1)
SELECT 'v2-' || word AS preimage, 'sha256' AS algorithm, 'insert' AS change
FROM odd""")
def q_snapshot_row_diff(spark, sf_dir):
    """Row-level change data feed between two snapshots: the appended
    odd-doc vocabulary must surface as exactly the insert set
    (pipeline/snapshot.snapshot_row_diff over the same build → snap →
    append → snap round trip as snapshot_time_travel)."""
    import tempfile

    from shaha_spark.pipeline import snapshot as snap
    from shaha_spark.pipeline.build import build

    words = read_words(spark, sf_dir)
    even = words.filter(F.col("doc_id") % 2 == 0).select("word").distinct()
    odd = words.filter(F.col("doc_id") % 2 == 1).select("word").distinct()
    # batch 2 carries genuinely-new rows (prefixed odd vocab — the
    # fixture's raw odd vocab fully overlaps the even one, which would
    # make the diff vacuously empty) PLUS the full overlapping even
    # vocab, which the diff must exclude
    batch2 = odd.select(
        F.concat(F.lit("v2-"), F.col("word")).alias("word")
    ).unionByName(even)
    out = tempfile.mkdtemp(prefix="shaha_snapd_") + "/db"
    build(spark, even, ["sha256"], out, source_name="even")
    snap.snapshot_create(spark, out)
    build(spark, batch2, ["sha256"], out, append=True, source_name="v2")
    snap.snapshot_create(spark, out)
    return snap.snapshot_row_diff(
        spark, out, 1, 2, ["preimage", "algorithm"]
    )


@query("snapshot_time_travel", f"""WITH {WORDS_CTE},
even AS (SELECT DISTINCT word FROM words WHERE doc_id % 2 = 0)
SELECT sha256(word) AS hash_hex, word AS preimage, 'sha256' AS algorithm
FROM even""")
def q_snapshot_time_travel(spark, sf_dir):
    """Pipeline round trip through the snapshot layer: build the
    even-doc vocabulary, snapshot v1, append the odd-doc vocabulary,
    then TIME-TRAVEL back to v1 — the result must be exactly the
    even-doc build (pipeline/snapshot.py read_snapshot; the append's
    directory swap retires v1's files by rename)."""
    import tempfile

    from shaha_spark.pipeline import snapshot as snap
    from shaha_spark.pipeline.build import build

    words = read_words(spark, sf_dir)
    even = words.filter(F.col("doc_id") % 2 == 0).select("word").distinct()
    odd = words.filter(F.col("doc_id") % 2 == 1).select("word").distinct()
    out = tempfile.mkdtemp(prefix="shaha_snapq_") + "/db"
    build(spark, even, ["sha256"], out, source_name="even")
    snap.snapshot_create(spark, out)
    build(spark, odd, ["sha256"], out, append=True, source_name="odd")
    return snap.read_snapshot(spark, out, 1).select(
        hex_col(), F.col("preimage"), F.col("algorithm")
    )
