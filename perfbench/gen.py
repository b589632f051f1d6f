"""Seeded input generators for the four workloads.

Everything here is pure NumPy/Python so that the same seed gives the
same inputs without a Spark session (``tests/test_logic.py`` checks
it). Spark-side columns that are not generated here are pure functions
of the key and the seed (see ``workloads.py``), so they are seeded too.
"""

from __future__ import annotations

import string
from collections import deque
from dataclasses import dataclass

import numpy as np

# Group column of the debt tables: g = (k * GROUP_MUL + seed) % GROUPS.
# Both Spark and NumPy evaluate it exactly (k * GROUP_MUL < 2**53).
GROUP_MUL = 2654435761
GROUPS = 509


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream name)."""
    return np.random.default_rng([seed, *stream.encode()])


def group_of(keys: np.ndarray, seed: int) -> np.ndarray:
    return (keys.astype(np.int64) * GROUP_MUL + seed) % GROUPS


# ---------------------------------------------------------------------------
# cdc_upsert
# ---------------------------------------------------------------------------
class CdcStream:
    """An endless, seeded sequence of upsert batches over a keyed table
    of ``n_base`` rows (keys 0..n_base-1).

    Each batch holds ``batch_rows`` distinct keys: 60% drawn from the
    keys of the last ``recent`` batches (recent keys favoured), 10% new
    keys past the current maximum (inserts), the rest uniform over all
    existing keys."""

    def __init__(self, seed: int, n_base: int, batch_rows: int, recent: int = 5):
        self._rng = rng_for(seed, "cdc")
        self._next_key = n_base
        self._recent: deque = deque(maxlen=recent)
        self.batch_rows = batch_rows
        self.batches = 0

    def next_batch(self) -> tuple[np.ndarray, np.ndarray]:
        """(keys, values) of the next batch, keys distinct."""
        rng, n = self._rng, self.batch_rows
        parts = []
        if self._recent:
            pool = np.unique(np.concatenate(self._recent))
            parts.append(rng.choice(pool, size=min(len(pool), n * 6 // 10), replace=False))
        n_new = n // 10
        parts.append(np.arange(self._next_key, self._next_key + n_new, dtype=np.int64))
        self._next_key += n_new
        keys = np.unique(np.concatenate(parts))
        while len(keys) < n:
            extra = rng.integers(0, self._next_key, size=n - len(keys))
            keys = np.unique(np.concatenate([keys, extra]))
        keys = rng.permutation(keys)[:n]
        values = rng.integers(0, 2**62, size=n, dtype=np.int64)
        self._recent.append(keys)
        self.batches += 1
        return keys, values


# ---------------------------------------------------------------------------
# compact_debt / scan_mor
# ---------------------------------------------------------------------------
@dataclass
class DebtPlan:
    """What the debt-laden table holds: keys 0..n_rows-1 in ``appends``
    commits, then two positional deletes (``k % m == r``), an equality
    delete on ``k`` and one on ``g``."""

    n_rows: int
    appends: int
    pos_deletes: list[tuple[int, int]]  # (modulus, residue)
    eq_keys: np.ndarray
    eq_groups: np.ndarray
    seed: int

    def visible_keys(self) -> np.ndarray:
        """Sorted keys a MoR read of the debt snapshot must return."""
        k = np.arange(self.n_rows, dtype=np.int64)
        dead = np.zeros(self.n_rows, dtype=bool)
        for m, r in self.pos_deletes:
            dead |= k % m == r
        dead[self.eq_keys] = True
        dead |= np.isin(group_of(k, self.seed), self.eq_groups)
        return k[~dead]


def debt_plan(seed: int, n_rows: int, appends: int) -> DebtPlan:
    rng = rng_for(seed, "debt")
    moduli = rng.choice([41, 43, 47, 53, 59, 61, 67, 71], size=2, replace=False)
    return DebtPlan(
        n_rows=n_rows,
        appends=appends,
        pos_deletes=[(int(m), int(rng.integers(0, m))) for m in moduli],
        eq_keys=np.sort(rng.choice(n_rows, size=n_rows // 50, replace=False)),
        eq_groups=np.sort(rng.choice(GROUPS, size=3, replace=False)),
        seed=seed,
    )


def key_ranges(seed: int, n_rows: int, span: int, count: int) -> list[tuple[int, int]]:
    """``count`` seeded half-open key ranges of width ``span``."""
    rng = rng_for(seed, "ranges")
    los = rng.integers(0, n_rows - span, size=count)
    return [(int(lo), int(lo) + span) for lo in los]


def count_in_range(sorted_keys: np.ndarray, lo: int, hi: int) -> int:
    return int(np.searchsorted(sorted_keys, hi) - np.searchsorted(sorted_keys, lo))


# ---------------------------------------------------------------------------
# dedup_corpus
# ---------------------------------------------------------------------------
# The shipped documents table draws its words from a small technical
# vocabulary; the synthetic corpus does the same.
VOCAB = (
    "a agg batch big column data fast filter group hash key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window join index cache page block shard node edge graph "
    "token model train eval score"
).split()


@dataclass
class Corpus:
    doc_ids: list[int]
    texts: list[str]
    n_chars: list[int]
    # Reference counts for the whole (multi-copy) corpus.
    distinct_texts: int
    near_pairs: int
    clusters: int


def _cipher(text: str, shift: int) -> str:
    """Per-copy letter rotation (``tools/make_sf1.py``): word lengths
    stay, every token changes, so copies are not near-duplicates."""
    s = shift % 26
    if s == 0:
        return text
    lower = string.ascii_lowercase
    return text.translate(str.maketrans(lower, lower[s:] + lower[:s]))


def corpus(seed: int, families: int, copies: int) -> Corpus:
    """A seeded documents corpus, decorrelated ``copies`` times.

    Each family is one base document (60-120 words) plus 0-2 exact
    copies and 0-2 near variants whose LAST word differs (word-3-shingle
    Jaccard >= 0.95 against every other member, so banded MinHash finds
    every in-family pair). Families share no near-duplicate pairs, so
    the reference counts follow from the construction:

    - distinct texts = base + variants, per family;
    - verified pairs (after exact dedup) = C(distinct, 2) per family;
    - kept docs = one per family.
    """
    rng = rng_for(seed, "corpus")
    vocab = np.array(VOCAB)
    base_texts: list[str] = []
    distinct = pairs = 0
    for _ in range(families):
        words = list(vocab[rng.integers(0, len(vocab), size=int(rng.integers(60, 121)))])
        base = " ".join(words)
        n_variants = int(rng.integers(0, 3))
        lasts = rng.choice([w for w in VOCAB if w != words[-1]], size=n_variants, replace=False)
        variants = [" ".join(words[:-1] + [str(w)]) for w in lasts]
        members = [base] * (1 + int(rng.integers(0, 3))) + variants
        base_texts.extend(members)
        d = 1 + n_variants
        distinct += d
        pairs += d * (d - 1) // 2
    order = rng.permutation(len(base_texts))
    base_texts = [base_texts[i] for i in order]
    n = len(base_texts)
    texts = [_cipher(t, c) for c in range(copies) for t in base_texts]
    return Corpus(
        doc_ids=list(range(n * copies)),
        texts=texts,
        n_chars=[len(t) for t in texts],
        distinct_texts=distinct * copies,
        near_pairs=pairs * copies,
        clusters=families * copies,
    )
