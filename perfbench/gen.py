"""Seeded input generators. The same seed always gives the same bytes.

Words are 4-20 printable ASCII characters (0x21-0x7e, no space), so a
word list file is one word per line and every line is non-empty.
"""

from __future__ import annotations

import hashlib

import numpy as np

ALGORITHMS = ("sha256", "md5")


def distinct_words(rng: np.random.Generator, n: int, exclude: set[str] = frozenset()) -> list[str]:
    """``n`` distinct random words, none of them in ``exclude``, in
    generation order."""
    out: list[str] = []
    seen = set(exclude)
    while len(out) < n:
        need = int((n - len(out)) * 1.05) + 16
        lengths = rng.integers(4, 21, size=need)
        raw = rng.integers(0x21, 0x7F, size=int(lengths.sum()), dtype=np.uint8).tobytes()
        pos = 0
        for ln in lengths.tolist():
            w = raw[pos:pos + ln].decode("ascii")
            pos += ln
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return out


def wordlist_lines(rng: np.random.Generator, words: list[str], repeat_frac: float) -> list[str]:
    """All ``words`` once plus ``repeat_frac`` of the total as repeats of
    random words, shuffled."""
    n_total = int(round(len(words) / (1.0 - repeat_frac)))
    repeats = rng.integers(0, len(words), size=n_total - len(words))
    lines = list(words) + [words[i] for i in repeats.tolist()]
    order = rng.permutation(len(lines))
    return [lines[i] for i in order.tolist()]


def write_lines(path: str, lines: list[str]) -> int:
    """Write one line per entry; returns the file size in bytes."""
    data = ("\n".join(lines) + "\n").encode("ascii")
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def digests(word: str) -> dict[str, bytes]:
    b = word.encode("ascii")
    return {"sha256": hashlib.sha256(b).digest(), "md5": hashlib.md5(b).digest()}


def block_ops(rng: np.random.Generator, n_blocks: int, lookups: tuple[int, int, int],
              heavy: tuple[str, ...]) -> list[str]:
    """Operation kinds in ``n_blocks`` blocks. Each block holds
    ``lookups`` = (point hits, point misses, prefix scans) in a seeded
    order, with the ``heavy`` operations (builds and appends) spread
    evenly through it, the first of them at its start."""
    hits, misses, prefixes = lookups
    base = ["hit"] * hits + ["miss"] * misses + ["prefix"] * prefixes
    size = len(base) + len(heavy)
    ops: list[str] = []
    for _ in range(n_blocks):
        block = [base[i] for i in rng.permutation(len(base)).tolist()]
        for j, kind in enumerate(heavy):
            block.insert(j * size // len(heavy), kind)
        ops.extend(block)
    return ops
