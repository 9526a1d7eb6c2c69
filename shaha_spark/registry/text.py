"""Text and near-duplicate queries: tokens, vocabulary, word-level
set operations, MinHash/LSH/SimHash dedup and sketches."""

from __future__ import annotations

from pyspark.sql import functions as F

from shaha_spark.operators.constants import (
    FINGERPRINT_K,
    LANG_STOPWORDS,
    MERSENNE_P,
    MINHASH_PERMS,
)
from shaha_spark.operators.sampling import h28_sql
from shaha_spark.operators.sketch import (
    bloom_membership_sql,
    cms_frequencies_sql,
)
from shaha_spark.registry import query
from shaha_spark.registry.common import (
    bands_cte,
    DWORDS_CTE,
    MINHASH_MATCH_SQL,
    N_PERMS,
    pairs_cte,
    QUALITY_STOPS_LIST,
    read_dwords,
    read_table,
    read_words,
    sigs_cte,
    TOKS_CTE,
    WORDS_CTE,
)


BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


#: CMS probe words for the sketch driver query (fixed literals so the
#: Spark and oracle sides are generated from the same list)
CMS_PROBE_WORDS = ["the", "a", "and", "data", "of", "zzz-absent"]


def _h32_sql(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 8)) AS BIGINT)"


def _simhash_terms() -> str:
    terms = []
    for j in range(32):
        terms.append(
            f"CASE WHEN 2 * SUM(CASE WHEN (hv >> {j}) & 1 = 1 THEN 1 ELSE 0 END) - COUNT(*) > 0 "
            f"THEN CAST(1 AS BIGINT) << {j} ELSE 0 END"
        )
    return " + ".join(terms)


def _langid_scores() -> tuple[str, str]:
    score_cols = []
    for lang in sorted(LANG_STOPWORDS):
        lst = "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang]) + "]"
        score_cols.append(
            f"CAST(len(list_filter(t, w -> list_contains({lst}, w))) AS BIGINT) AS score_{lang}"
        )
    langs = sorted(LANG_STOPWORDS)
    m = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred = f"CASE WHEN {m} = 0 THEN 'und' "
    pred += " ".join(
        f"WHEN score_{lang} = {m} THEN '{lang}'" for lang in langs[:-1]
    )
    pred += f" ELSE '{langs[-1]}' END"
    return ",\n    ".join(score_cols), pred


_score_cols, _pred = _langid_scores()


_cms_inner = cms_frequencies_sql(
    "(SELECT w FROM (SELECT unnest(regexp_split_to_array(text, '[ \\t\\n\\r]+')) AS w "
    "FROM documents) WHERE w <> '') wq",
    "w",
    CMS_PROBE_WORDS,
)


_bloom_inner = bloom_membership_sql(
    "SELECT text FROM documents WHERE doc_id % 3 = 0",
    "SELECT doc_id, text FROM documents",
    "text",
    "doc_id",
)


_mh_names = ", ".join(f"mh_{i}" for i in range(len(MINHASH_PERMS)))


TEXT_QUALITY_SQL = f"""WITH base AS (
  SELECT doc_id, text, list_filter(regexp_split_to_array(text, '[ \\t\\n\\r]+'), t -> t <> '') AS t FROM documents
),
comp AS (
  SELECT doc_id,
    CAST(length(text) AS BIGINT) AS n_chars,
    CAST(len(t) AS BIGINT) AS n_tokens,
    CASE WHEN len(t) > 0 THEN CAST(list_sum(list_transform(t, w -> length(w))) AS DOUBLE) / len(t) ELSE 0.0 END AS mean_token_len,
    CASE WHEN len(t) > 0 THEN CAST(len(list_filter(t, w -> list_contains({QUALITY_STOPS_LIST}, w))) AS DOUBLE) / len(t) ELSE 0.0 END AS stopword_ratio
  FROM base
)
SELECT doc_id, n_chars, n_tokens, mean_token_len, stopword_ratio,
  0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
      + 0.3 * least(mean_token_len / 8.0, 1.0)
      + 0.3 * least(stopword_ratio / 0.2, 1.0) AS quality
FROM comp"""


TEXT_LANGID_SQL = f"""WITH {TOKS_CTE},
scored AS (
  SELECT doc_id,
    {_score_cols}
  FROM toks
)
SELECT doc_id, score_de, score_en, score_es, score_fr,
  {_pred} AS lang_pred
FROM scored"""


@query("text_normalize", """SELECT doc_id,
  trim(regexp_replace(regexp_replace(lower(text || '  X!? ' || source), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS norm_text
FROM documents""")
def q_text_normalize(spark, sf_dir):
    """Canonical cleanup (lowercase / charset strip / whitespace
    collapse) — the normalization stage ahead of tokenizers and dedup
    keys (operators.textops.normalize_text)."""
    from shaha_spark.operators.textops import normalize_text

    docs = read_table(spark, sf_dir, "documents").withColumn(
        "text", F.concat(F.col("text"), F.lit("  X!? "), F.col("source"))
    )
    return normalize_text(docs)


@query("words_except_all", f"""WITH {WORDS_CTE},
even AS (SELECT word FROM words WHERE doc_id % 2 = 0),
odd AS (SELECT word FROM words WHERE doc_id % 2 = 1)
SELECT word FROM even EXCEPT ALL SELECT word FROM odd""")
def q_words_except_all(spark, sf_dir):
    """Multiset difference (EXCEPT ALL): word occurrences in even docs
    minus, per-copy, occurrences in odd docs — bag semantics the plain
    EXCEPT cannot express."""
    words = read_words(spark, sf_dir)
    even = words.filter(F.col("doc_id") % 2 == 0).select("word")
    odd = words.filter(F.col("doc_id") % 2 == 1).select("word")
    return even.exceptAll(odd)


@query("dedup_incremental", f"""WITH {sigs_cte()},
{bands_cte()},
cross_pairs AS (
  SELECT DISTINCT o.doc_id AS id_a, n.doc_id AS id_b
  FROM bands o JOIN bands n
    ON o.band_idx = n.band_idx AND o.band_key = n.band_key
  WHERE o.doc_id % 2 = 0 AND n.doc_id % 2 = 1
),
new_pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_key = b.band_key
    AND a.doc_id < b.doc_id
  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 1
),
all_pairs AS (SELECT * FROM cross_pairs UNION SELECT * FROM new_pairs),
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({MINHASH_MATCH_SQL} AS DOUBLE) / {N_PERMS} AS est_jaccard
  FROM all_pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b
),
losers AS (SELECT DISTINCT id_b AS doc_id FROM sims WHERE est_jaccard >= 0.7)
SELECT d.doc_id FROM documents d LEFT JOIN losers l USING (doc_id)
WHERE d.doc_id % 2 = 1 AND l.doc_id IS NULL""")
def q_dedup_incremental(spark, sf_dir):
    """Incremental near-dup ingest: odd-id docs arrive as the new batch
    and are deduped against the persisted signatures of the even-id
    corpus (operators.dedup.incremental_minhash_dedup) — surviving
    new-doc ids."""
    from shaha_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_signatures,
    )

    docs = read_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    new_batch = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_minhash_dedup(
        new_batch, minhash_signatures(existing), threshold=0.7
    )


@query("sketch_cms_words", _cms_inner)
def q_sketch_cms(spark, sf_dir):
    """Count-Min frequency estimates for a fixed probe-word list over
    the document token stream (operators.sketch.cms_frequencies)."""
    from shaha_spark.functions.text import tokens
    from shaha_spark.operators.sketch import cms_frequencies

    words = read_table(spark, sf_dir, "documents").select(
        F.explode(tokens(F.col("text"))).alias("w")
    )
    return cms_frequencies(words, "w", CMS_PROBE_WORDS)


@query(
    "dedup_bloom_screen",
    f"SELECT doc_id, maybe_in_corpus FROM ({_bloom_inner}) bs",
)
def q_dedup_bloom_screen(spark, sf_dir):
    """Bloom-filter dedup admission: which documents are possibly
    already in the corpus (doc_id % 3 == 0 slice)? No false negatives;
    the bitmap is KB-sized regardless of corpus size
    (operators.sketch.bloom_membership)."""
    from shaha_spark.operators.sketch import bloom_membership

    docs = read_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 == 0).select("text")
    probes = docs.select(F.col("doc_id"), F.col("text"))
    return bloom_membership(corpus, probes, "text", "doc_id").select(
        "doc_id", "maybe_in_corpus"
    )


@query("text_term_stats", f"""WITH {WORDS_CTE},
tf AS (SELECT doc_id, word AS term, count(*) AS tf FROM words GROUP BY 1, 2),
tfd AS (SELECT doc_id, term, tf, count(*) OVER (PARTITION BY term) AS df FROM tf),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tfd.doc_id, tfd.term, tfd.tf, tfd.df, n.n_docs,
  CAST(tfd.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(tfd.df AS DOUBLE)) AS weight
FROM tfd CROSS JOIN n""")
def q_term_stats(spark, sf_dir):
    """tf / df / ratio-idf weight per (doc, term) — vocabulary-curation
    statistics (operators.terms.term_stats)."""
    from shaha_spark.operators.terms import term_stats

    return term_stats(read_table(spark, sf_dir, "documents"))


@query("text_vocab", """WITH toks AS (
  SELECT unnest(regexp_split_to_array(text, '[ \\t\\n\\r]+')) AS term FROM documents
)
SELECT term, CAST(count(*) AS BIGINT) AS n_occurrences
FROM toks WHERE term <> ''
GROUP BY term
ORDER BY n_occurrences DESC, term ASC
LIMIT 10""")
def q_text_vocab(spark, sf_dir):
    """Top-10 corpus vocabulary (count desc, term asc — deterministic
    at the cut)."""
    from shaha_spark.operators.terms import top_vocab

    return top_vocab(read_table(spark, sf_dir, "documents"), 10)


@query("text_oov", """WITH tk AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '[ \\t\\n\\r]+')) AS term FROM documents
),
tk2 AS (SELECT doc_id, term FROM tk WHERE term <> ''),
vocab AS (
  SELECT term FROM (
    SELECT term, count(*) AS n FROM tk2 GROUP BY term
  ) ORDER BY n DESC, term ASC LIMIT 10
),
per AS (
  SELECT t.doc_id, count(*) AS n_tokens,
    sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM tk2 t LEFT JOIN vocab v ON t.term = v.term
  GROUP BY t.doc_id
)
SELECT d.doc_id,
  CAST(COALESCE(n_tokens, 0) AS BIGINT) AS n_tokens,
  CAST(COALESCE(n_oov, 0) AS BIGINT) AS n_oov,
  CASE WHEN COALESCE(n_tokens, 0) = 0 THEN 0.0
       ELSE CAST(COALESCE(n_oov, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
  END AS oov_rate
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id""")
def q_text_oov(spark, sf_dir):
    """Per-doc out-of-vocabulary rate against the broadcast top-10
    vocab — tokenizer-coverage QA for training corpora."""
    from shaha_spark.operators.terms import oov_rate, top_vocab

    docs = read_table(spark, sf_dir, "documents")
    return oov_rate(docs, top_vocab(docs, 10))


@query("words_lev_pairs", f"""WITH {DWORDS_CTE}
SELECT a.word AS word_a, b.word AS word_b,
  CAST(levenshtein(a.word, b.word) AS INTEGER) AS dist
FROM dwords a JOIN dwords b ON a.word < b.word
WHERE levenshtein(a.word, b.word) <= 2""")
def q_words_lev_pairs(spark, sf_dir):
    """Vocabulary typo/variant pairs within edit distance 2 —
    length-banded blocked join, never O(n²)."""
    from shaha_spark.operators.dedup import levenshtein_pairs

    return levenshtein_pairs(read_dwords(spark, sf_dir), "word", max_dist=2)


@query("dedup_minhash_eval", f"""WITH {pairs_cte()},
ex0 AS (SELECT doc_id, unnest(s) AS shv FROM sh),
ex AS (SELECT DISTINCT doc_id, shv FROM ex0),
szs AS (
  SELECT doc_id, shv, COUNT(*) OVER (PARTITION BY doc_id) AS sz FROM ex
),
ov AS (
  SELECT a.doc_id AS t_ia, b.doc_id AS t_ib,
    count(*) AS inter, max(a.sz) AS la, max(b.sz) AS lb
  FROM szs a JOIN szs b ON a.shv = b.shv AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT t_ia, t_ib FROM ov
  WHERE CAST(inter AS DOUBLE) / CAST(la + lb - inter AS DOUBLE) >= 0.5
),
j AS (
  SELECT CASE WHEN p.id_a IS NOT NULL THEN 1 ELSE 0 END AS c,
         CASE WHEN t.t_ia IS NOT NULL THEN 1 ELSE 0 END AS tt
  FROM pairs p FULL OUTER JOIN truth t ON p.id_a = t.t_ia AND p.id_b = t.t_ib
)
SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_candidates,
  CAST(COALESCE(SUM(tt), 0) AS BIGINT) AS n_true,
  CAST(COALESCE(SUM(c * tt), 0) AS BIGINT) AS n_hit,
  CASE WHEN COALESCE(SUM(c), 0) = 0 THEN 1.0
       ELSE CAST(SUM(c * tt) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) END AS lsh_precision,
  CASE WHEN COALESCE(SUM(tt), 0) = 0 THEN 1.0
       ELSE CAST(SUM(c * tt) AS DOUBLE) / CAST(SUM(tt) AS DOUBLE) END AS lsh_recall
FROM j""")
def q_dedup_minhash_eval(spark, sf_dir):
    """LSH candidate quality vs exact-Jaccard ground truth: one row of
    candidate/truth/hit counts with precision and recall."""
    from shaha_spark.operators.dedup import minhash_eval

    return minhash_eval(read_table(spark, sf_dir, "documents"), jaccard_threshold=0.5)


@query("words_intersect", f"""WITH {WORDS_CTE}
SELECT word FROM words WHERE doc_id % 2 = 0
INTERSECT
SELECT word FROM words WHERE doc_id % 2 = 1""")
def q_words_intersect(spark, sf_dir):
    # set op (§2.8): words appearing in BOTH even- and odd-id documents
    words = read_words(spark, sf_dir)
    even = words.filter(F.col("doc_id") % 2 == 0).select("word")
    odd = words.filter(F.col("doc_id") % 2 == 1).select("word")
    return even.intersect(odd)


@query("words_except", f"""WITH {WORDS_CTE}
SELECT word FROM words
EXCEPT
SELECT word FROM words WHERE doc_id = 0""")
def q_words_except(spark, sf_dir):
    # set op (§2.8): corpus vocabulary EXCEPT the words of document 0.
    # (Asymmetric by construction — any even/odd doc split covers the
    # full vocabulary on both sides and EXCEPTs to the empty set, which
    # would verify nothing.)
    words = read_words(spark, sf_dir)
    all_words = words.select("word")
    doc0 = words.filter(F.col("doc_id") == 0).select("word")
    return all_words.subtract(doc0)  # EXCEPT DISTINCT, matching SQL EXCEPT


@query(
    "dedup_exact",
    "SELECT min(doc_id) AS doc_id, md5(text) AS content_md5 FROM documents GROUP BY md5(text)",
)
def q_dedup_exact(spark, sf_dir):
    from shaha_spark.operators.dedup import exact_dedup

    return exact_dedup(read_table(spark, sf_dir, "documents")).select("doc_id", "content_md5")


@query(
    "dedup_minhash_sigs",
    f"WITH {sigs_cte()} SELECT doc_id, {_mh_names} FROM sigs",
)
def q_minhash_sigs(spark, sf_dir):
    from shaha_spark.operators.dedup import minhash_signatures

    return minhash_signatures(read_table(spark, sf_dir, "documents"))


@query(
    "dedup_minhash_pairs",
    f"WITH {pairs_cte()} SELECT id_a, id_b FROM pairs",
)
def q_minhash_pairs(spark, sf_dir):
    from shaha_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    return lsh_candidate_pairs(minhash_signatures(read_table(spark, sf_dir, "documents")))


@query("dedup_ngram_jaccard", f"""WITH {pairs_cte()},
sets AS (SELECT doc_id, list_distinct(s) AS ds FROM sh),
j AS (
  SELECT p.id_a, p.id_b,
    len(list_filter(a.ds, x -> list_contains(b.ds, x))) AS inter,
    len(a.ds) AS la, len(b.ds) AS lb
  FROM pairs p JOIN sets a ON a.doc_id = p.id_a JOIN sets b ON b.doc_id = p.id_b
)
SELECT id_a, id_b,
  CASE WHEN la + lb - inter > 0 THEN CAST(inter AS DOUBLE) / (la + lb - inter) ELSE 0.0 END AS jaccard
FROM j
WHERE CASE WHEN la + lb - inter > 0 THEN CAST(inter AS DOUBLE) / (la + lb - inter) ELSE 0.0 END >= 0.5""")
def q_ngram_jaccard(spark, sf_dir):
    from shaha_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard,
    )

    docs = read_table(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    return ngram_jaccard(docs, pairs).filter(F.col("jaccard") >= 0.5)


@query("dedup_simhash", f"""WITH {TOKS_CTE},
tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
h AS (SELECT doc_id, {_h32_sql('w')} AS hv FROM tok),
agg AS (SELECT doc_id, CAST({_simhash_terms()} AS BIGINT) AS sh FROM h GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(a.sh, 0) AS BIGINT) AS simhash
FROM documents d LEFT JOIN agg a USING (doc_id)""")
def q_simhash(spark, sf_dir):
    from shaha_spark.operators.dedup import simhash

    return simhash(read_table(spark, sf_dir, "documents"))


@query("dedup_simhash_pairs", f"""WITH {TOKS_CTE},
tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
h AS (SELECT doc_id, {_h32_sql('w')} AS hv FROM tok),
agg AS (SELECT doc_id, CAST({_simhash_terms()} AS BIGINT) AS sh FROM h GROUP BY doc_id),
fps AS (
  SELECT d.doc_id, CAST(coalesce(a.sh, 0) AS BIGINT) AS simhash
  FROM documents d LEFT JOIN agg a USING (doc_id)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""")
def q_simhash_pairs(spark, sf_dir):
    from shaha_spark.operators.dedup import simhash, simhash_near_dup_pairs

    fps = simhash(read_table(spark, sf_dir, "documents"))
    return simhash_near_dup_pairs(fps, max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("bigint").alias("hamming")
    )


@query("dedup_minhash_survivors", f"""WITH {pairs_cte()},
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({MINHASH_MATCH_SQL} AS DOUBLE) / {N_PERMS} AS est_jaccard
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b
),
losers AS (SELECT DISTINCT id_b AS doc_id FROM sims WHERE est_jaccard >= 0.7)
SELECT d.doc_id FROM documents d LEFT JOIN losers l USING (doc_id) WHERE l.doc_id IS NULL""")
def q_minhash_survivors(spark, sf_dir):
    from shaha_spark.operators.dedup import minhash_dedup

    return minhash_dedup(read_table(spark, sf_dir, "documents"), threshold=0.7)


# transitive (connected-components) variant: the oracle states the
# fixpoint directly — comp(v) = min id reachable from v — as a
# recursive CTE, independent of the Spark loop's iteration count
@query("dedup_minhash_cc", f"""WITH RECURSIVE {pairs_cte()},
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({MINHASH_MATCH_SQL} AS DOUBLE) / {N_PERMS} AS est_jaccard
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b
),
ed AS (
  SELECT id_a AS src, id_b AS dst FROM sims WHERE est_jaccard >= 0.7
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM sims WHERE est_jaccard >= 0.7
),
reach(id, comp) AS (
  SELECT src, src FROM ed
  UNION
  SELECT e.src, r.comp FROM ed e JOIN reach r ON r.id = e.dst
),
comp AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
cc_losers AS (SELECT id AS doc_id FROM comp WHERE comp <> id)
SELECT d.doc_id FROM documents d LEFT JOIN cc_losers l USING (doc_id) WHERE l.doc_id IS NULL""")
def q_dedup_minhash_cc(spark, sf_dir):
    from shaha_spark.operators.components import minhash_dedup_cc

    return minhash_dedup_cc(read_table(spark, sf_dir, "documents"), threshold=0.7)


@query("text_token_count", f"""SELECT doc_id,
  CAST(len(list_filter(regexp_split_to_array(text, '[ \\t\\n\\r]+'), t -> t <> '')) AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS BIGINT) AS n_pieces
FROM documents""")
def q_text_token_count(spark, sf_dir):
    from shaha_spark.operators.textops import token_count

    return token_count(read_table(spark, sf_dir, "documents"))


@query("text_quality", TEXT_QUALITY_SQL)
def q_text_quality(spark, sf_dir):
    from shaha_spark.operators.textops import quality_score

    return quality_score(read_table(spark, sf_dir, "documents"))


@query("text_langid", TEXT_LANGID_SQL)
def q_text_langid(spark, sf_dir):
    from shaha_spark.operators.textops import lang_id

    return lang_id(read_table(spark, sf_dir, "documents"))


@query("text_fingerprint", f"""WITH {TOKS_CTE},
pos AS (
  SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t) + 1)) AS p FROM toks
),
terms AS (
  SELECT doc_id, ((p * {FINGERPRINT_K}) % {MERSENNE_P}) * {h28_sql('w')} % {MERSENNE_P} AS term FROM pos
),
agg AS (SELECT doc_id, SUM(term) % {MERSENNE_P} AS fp FROM terms GROUP BY doc_id)
SELECT d.doc_id, CAST(coalesce(a.fp, 0) AS BIGINT) AS fingerprint
FROM documents d LEFT JOIN agg a USING (doc_id)""")
def q_text_fingerprint(spark, sf_dir):
    from shaha_spark.operators.textops import fingerprint

    return fingerprint(read_table(spark, sf_dir, "documents"))


@query("dedup_keep_best", f"""WITH RECURSIVE {pairs_cte()},
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({MINHASH_MATCH_SQL} AS DOUBLE) / {N_PERMS} AS est_jaccard
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b
),
ed AS (
  SELECT id_a AS src, id_b AS dst FROM sims WHERE est_jaccard >= 0.7
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM sims WHERE est_jaccard >= 0.7
),
reach(id, comp) AS (
  SELECT src, src FROM ed
  UNION
  SELECT e.src, r.comp FROM ed e JOIN reach r ON r.id = e.dst
),
comp AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
qbase AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\r]+'), t -> t <> '') AS qt
  FROM documents
),
q AS (
  SELECT doc_id,
    0.4 * least(CAST(len(qt) AS DOUBLE) / 100.0, 1.0)
  + 0.3 * least(
      CASE WHEN len(qt) > 0
        THEN CAST(list_sum(list_transform(qt, w -> length(w))) AS DOUBLE)
             / len(qt) ELSE 0.0 END / 8.0, 1.0)
  + 0.3 * least(
      CASE WHEN len(qt) > 0
        THEN CAST(len(list_filter(qt,
               w -> list_contains({QUALITY_STOPS_LIST}, w))) AS DOUBLE)
             / len(qt) ELSE 0.0 END / 0.2, 1.0) AS quality
  FROM qbase
),
ranked AS (
  SELECT c.id, row_number() OVER (
    PARTITION BY c.comp ORDER BY q.quality DESC NULLS LAST, c.id ASC
  ) AS rk
  FROM comp c LEFT JOIN q ON q.doc_id = c.id
),
losers AS (SELECT id AS doc_id FROM ranked WHERE rk > 1)
SELECT d.doc_id FROM documents d LEFT JOIN losers l USING (doc_id)
WHERE l.doc_id IS NULL""")
def q_dedup_keep_best(spark, sf_dir):
    """Quality-aware near-dup survivor selection: highest quality_score
    per connected component wins
    (operators.components.keep_best_per_component)."""
    from shaha_spark.operators.components import keep_best_per_component
    from shaha_spark.operators.textops import quality_score

    docs = read_table(spark, sf_dir, "documents")
    return keep_best_per_component(
        docs, quality_score(docs), score_col="quality", threshold=0.7
    )


@query("words_freq_of_freqs", f"""WITH {WORDS_CTE},
tf AS (SELECT word, COUNT(*) AS c FROM words GROUP BY word)
SELECT CAST(c AS BIGINT) AS c, CAST(COUNT(*) AS BIGINT) AS n_words
FROM tf GROUP BY c""")
def q_words_freq_of_freqs(spark, sf_dir):
    """Frequency-of-frequencies over the vocabulary (how many words
    occur exactly c times) — the Good-Turing smoothing input and the
    standard vocabulary-health profile. Two hash-aggs, nothing else."""
    words = read_words(spark, sf_dir)
    tf = words.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    return tf.groupBy("c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words")
    ).select(F.col("c").cast("bigint").alias("c"), "n_words")


@query("words_collocations", f"""WITH {WORDS_CTE},
toks AS (
  SELECT doc_id, w AS w1, p FROM (
    SELECT doc_id, unnest(regexp_split_to_array(text, '[ \\t\\n\\r]+')) AS w,
           unnest(range(1, len(regexp_split_to_array(text, '[ \\t\\n\\r]+')) + 1)) AS p
    FROM documents
  ) WHERE w <> ''
),
bi AS (
  SELECT w1, w2, COUNT(*) AS c_ab FROM (
    SELECT doc_id, w1, lead(w1) OVER (PARTITION BY doc_id ORDER BY p) AS w2
    FROM toks
  ) WHERE w2 IS NOT NULL
  GROUP BY w1, w2
),
uni AS (SELECT word, COUNT(*) AS c FROM words GROUP BY word),
nt AS (SELECT COUNT(*) AS n FROM words)
SELECT b.w1, b.w2, CAST(b.c_ab AS BIGINT) AS c_ab,
  round(ln((CAST(nt.n AS DOUBLE) * b.c_ab)
           / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))), 9) AS pmi
FROM bi b
JOIN uni ua ON b.w1 = ua.word
JOIN uni ub ON b.w2 = ub.word
CROSS JOIN nt
WHERE b.c_ab >= 5
ORDER BY pmi DESC, b.w1 ASC, b.w2 ASC
LIMIT 25""")
def q_words_collocations(spark, sf_dir):
    """Top-25 collocations by PMI over adjacent word bigrams (min
    count 5): ln(N·c(ab)/(c(a)·c(b))) with the rounded-ln recipe —
    the phrase-extraction staple (char-pair BPE counts live in
    docs_bpe_pairs; this is the WORD-level statistical test)."""
    from pyspark.sql import Window

    words = read_words(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy("pos")
    toks = (
        read_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split("text", " ")).alias("pos", "w1"),
        )
        .filter(F.col("w1") != "")
    )
    bi = (
        toks.withColumn("w2", F.lead("w1").over(w))
        .where(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    # lazy persist: the vocabulary-sized unigram counts feed BOTH
    # pmi join sides and the token total (derived as sum(c) — exact
    # same integer as count over words) — 4 fact scans without the
    # boundary (r9 rescan-lint tightening)
    uni = (
        words.groupBy(F.col("word"))
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    n_tok = uni.agg(F.sum("c").alias("__n"))
    ua = uni.select(F.col("word").alias("w1"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("word").alias("w2"), F.col("c").alias("c_b"))
    scored = (
        bi.where(F.col("c_ab") >= 5)
        .join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(n_tok))
        .select(
            "w1",
            "w2",
            F.col("c_ab").cast("bigint").alias("c_ab"),
            F.round(
                F.log(
                    (F.col("__n").cast("double") * F.col("c_ab"))
                    / (F.col("c_a").cast("double") * F.col("c_b"))
                ),
                9,
            ).alias("pmi"),
        )
    )
    from shaha_spark.caching import registers

    return registers(
        scored.orderBy(
            F.col("pmi").desc(), F.col("w1").asc(), F.col("w2").asc()
        ).limit(25),
        uni,
    )


# same recursive-CTE fixpoint as the dedup_minhash_cc oracle, with
# the histogram tail instead of the survivor anti-join; isolated
# docs are singleton clusters (size 1) by definition
@query("dedup_cluster_sizes", f"""WITH RECURSIVE {pairs_cte()},
sims AS (
  SELECT p.id_a, p.id_b,
    CAST({MINHASH_MATCH_SQL} AS DOUBLE) / {N_PERMS} AS est_jaccard
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b
),
ed AS (
  SELECT id_a AS src, id_b AS dst FROM sims WHERE est_jaccard >= 0.7
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM sims WHERE est_jaccard >= 0.7
),
reach(id, comp) AS (
  SELECT src, src FROM ed
  UNION
  SELECT e.src, r.comp FROM ed e JOIN reach r ON r.id = e.dst
),
comp AS (SELECT id, min(comp) AS comp FROM reach GROUP BY id),
sizes AS (SELECT comp, COUNT(*) AS cluster_size FROM comp GROUP BY comp)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY cluster_size""")
def q_dedup_cluster_sizes(spark, sf_dir):
    """Near-dup cluster-size histogram — the corpus-health readout of
    the transitive MinHash dedup (how much of the corpus sits in
    2-clusters vs mega-clusters): connected components of the
    est-Jaccard ≥ 0.7 graph, sizes, then (size → n_clusters)."""
    from shaha_spark.operators.components import connected_components
    from shaha_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        minhash_similarity,
    )

    docs = read_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs).cache()
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    edges = (
        minhash_similarity(sigs, pairs, "doc_id")
        .where(F.col("est_jaccard") >= 0.7)
        .select("id_a", "id_b")
    )
    comps = connected_components(edges)
    sizes = comps.groupBy("comp").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters")
    ).select(F.col("cluster_size").cast("bigint").alias("cluster_size"),
             "n_clusters")


@query("words_trigram_fuzzy", f"""WITH {DWORDS_CTE},
v AS (SELECT word AS v FROM dwords WHERE len(word) >= 4),
g AS (
  SELECT v, unnest(list_distinct(
    list_transform(range(1, len(v) - 1), i -> v[i:i+2])
  )) AS gm
  FROM v
),
cand AS (
  SELECT a.v AS v_a, b.v AS v_b
  FROM g a JOIN g b USING (gm)
  WHERE a.v < b.v AND abs(len(a.v) - len(b.v)) <= 2
  GROUP BY 1, 2
)
SELECT v_a, v_b, CAST(levenshtein(v_a, v_b) AS BIGINT) AS dist
FROM cand WHERE levenshtein(v_a, v_b) <= 2""")
def q_words_trigram_fuzzy(spark, sf_dir):
    """Trigram-posting-blocked fuzzy pairs over the vocabulary
    (operators.dedup.trigram_fuzzy_pairs) — the scalable blocking
    complement to the exhaustive length-band levenshtein_pairs."""
    from shaha_spark.operators.dedup import trigram_fuzzy_pairs

    return trigram_fuzzy_pairs(read_dwords(spark, sf_dir), "word", max_dist=2)
