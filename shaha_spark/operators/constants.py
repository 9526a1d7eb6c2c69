"""Shared deterministic constants for the training-data operators.

Both the Spark implementations (operators/*) and the DuckDB oracle SQL
(the records in shaha_spark/registry) are generated from these values,
so the two sides can never drift.

All hashing is derived from md5 hex prefixes parsed as integers —
md5 is the one digest both engines compute identically — and all
arithmetic stays within int64 (operands < 2^59).
"""

from __future__ import annotations

#: Mersenne prime 2^31 - 1: modulus for all permutation arithmetic.
MERSENNE_P = 2_147_483_647

#: All-sentinel MinHash slot value for shingle-less documents. Equals
#: MERSENNE_P = one above the maximum perm_hash output (MERSENNE_P - 1),
#: so it can never collide with a real signature slot; every filter on
#: ``mh_0 != MINHASH_SENTINEL`` is exactly the shingle-less-doc filter
#: that keeps the quadratic all-sentinel mega-bucket out of LSH.
MINHASH_SENTINEL = MERSENNE_P

#: MinHash permutation count and (a, b) constants, fixed seed.
#: Generated once from a PRNG seeded with 42; frozen here so signatures
#: are stable forever.
MINHASH_PERMS: list[tuple[int, int]] = [
    (1_203_114_875, 613_157_904), (1_634_196_457, 402_647_206),
    (907_091_868, 789_614_143), (1_355_722_921, 175_891_259),
    (661_969_351, 954_442_387), (1_792_829_707, 1_330_334_011),
    (478_655_693, 1_543_769_789), (1_925_476_367, 268_435_399),
    (1_073_807_359, 888_777_011), (536_920_891, 1_692_461_113),
    (201_386_249, 1_111_113_917), (1_431_677_243, 71_234_567),
    (355_999_289, 1_987_654_321), (1_555_555_589, 444_444_443),
    (777_777_773, 1_234_567_891), (999_999_937, 87_178_291),
]

#: LSH banding: 16 minhashes = 4 bands x 4 rows.
LSH_BANDS = 4
LSH_ROWS_PER_BAND = 4

#: Token-shingle width for MinHash / Jaccard.
SHINGLE_N = 3

#: Tokenizer split pattern — an explicit whitespace class (space, tab,
#: newline, carriage return) written with backslash escapes so the SAME
#: string is a valid Java regex (Spark F.split) and RE2 regex (DuckDB
#: regexp_split_to_array). A bare literal-space split would glue words
#: across line breaks and count every '\n' boundary as a symbol token
#: (silently failing multi-line docs in the gopher/quality filters);
#: Java's and RE2's builtin \s classes differ on vertical tab, so the
#: class is spelled out rather than using \s.
TOKEN_SPLIT_RE = r"[ \t\n\r]+"

#: SimHash width in bits (fits int64 comfortably).
SIMHASH_BITS = 32

#: Fingerprint position multiplier (Knuth's multiplicative constant
#: reduced mod MERSENNE_P to stay in range).
FINGERPRINT_K = 2_654_435_761 % MERSENNE_P

#: Stopword sets for the n-gram language-ID heuristic. Small on purpose:
#: the heuristic is count-of-known-stopwords, argmax with lexicographic
#: tiebreak.
LANG_STOPWORDS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "für"],
    "en": ["the", "a", "and", "is", "not", "of", "to", "in", "with", "for"],
    "es": ["el", "la", "los", "y", "es", "no", "un", "con", "en", "para"],
    "fr": ["le", "la", "les", "et", "est", "pas", "un", "avec", "dans", "pour"],
}

#: English stopwords for the quality-score stopword ratio.
QUALITY_STOPWORDS: list[str] = LANG_STOPWORDS["en"]

#: Multimodal stub parameters (deterministic fake decode).
FAKE_IMG_BASE = 64
FAKE_IMG_MOD = 512
FAKE_FORMATS = ["jpeg", "png", "webp"]
