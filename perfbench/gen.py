"""Seeded input generators and benchmark-side ground truth.

Everything here is plain numpy/Python: the engine under test never sees
the seed, only the rows these functions return, and every expected
answer (exact top-k, term hits, planted duplicates) is computed here,
not by the engine.
"""

from __future__ import annotations

import numpy as np

# Lower-case words the engine's English stemmer maps to themselves, so
# the term a query names is the term the index stores.
TITLE_VOCAB = (
    "spark stream join hash scan sort batch group filter window row vector "
    "column line part order small fast slow big data agg index shard node "
    "task job disk page block log plan tree graph user doc term rank score "
    "probe segment flush build load read write store loop heap lock file "
    "path bit byte word text list map set queue stack"
).split()

CLUSTER_SPACING = 100.0  # reference recall recipe: centres at i * 100
CLUSTER_SIGMA = 5.0


def zipf_weights(n: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def clustered_vectors(rng: np.random.Generator, n: int, dim: int, n_clusters: int) -> np.ndarray:
    """Gaussian clusters, centre i sits at i * CLUSTER_SPACING on every axis."""
    cl = rng.integers(0, n_clusters, size=n)
    noise = rng.normal(0.0, CLUSTER_SIGMA, size=(n, dim))
    return (cl[:, None] * CLUSTER_SPACING + noise).astype(np.float32)


def titles(rng: np.random.Generator, n: int) -> list[str]:
    """4 to 8 words each, Zipf-weighted over TITLE_VOCAB."""
    p = zipf_weights(len(TITLE_VOCAB), 0.8)
    lens = rng.integers(4, 9, size=n)
    return [" ".join(rng.choice(TITLE_VOCAB, size=k, p=p)) for k in lens]


class Docs:
    """A growing table of (user_id, doc_id, vector, title) rows plus the
    set of ids currently live; the benchmark's model of the collection."""

    def __init__(self, dim: int):
        self.dim = dim
        self.user = np.zeros(0, dtype=np.int64)
        self.ids = np.zeros(0, dtype=np.int64)
        self.vec = np.zeros((0, dim), dtype=np.float32)
        self.title: list[str] = []
        self.live = np.zeros(0, dtype=bool)

    def add(self, user, ids, vec, title) -> None:
        self.user = np.concatenate([self.user, user])
        self.ids = np.concatenate([self.ids, ids])
        self.vec = np.concatenate([self.vec, vec])
        self.title = self.title + list(title)
        self.live = np.concatenate([self.live, np.ones(len(ids), dtype=bool)])

    def kill(self, ids) -> None:
        self.live[np.isin(self.ids, ids)] = False

    def mask(self, users) -> np.ndarray:
        return self.live & np.isin(self.user, list(users))

    def exact_topk(self, users, q, k: int) -> list[tuple[int, float]]:
        """(doc_id, l2 distance) of the k nearest live docs of `users`,
        ordered by distance then id — the engine's l2 order."""
        m = self.mask(users)
        ids = self.ids[m]
        d = np.sqrt(((self.vec[m].astype(np.float64) - np.asarray(q, dtype=np.float64)) ** 2).sum(1))
        order = np.lexsort((ids, d))[:k]
        return [(int(ids[i]), float(d[i])) for i in order]

    def distances(self, ids, q) -> dict[int, float]:
        pos = {int(d): i for i, d in enumerate(self.ids)}
        qq = np.asarray(q, dtype=np.float64)
        return {
            int(i): float(np.sqrt(((self.vec[pos[int(i)]].astype(np.float64) - qq) ** 2).sum()))
            for i in ids if int(i) in pos
        }

    def term_hits(self, users, terms: list[str]) -> list[int]:
        """Sorted ids of live docs of `users` whose title holds every term."""
        m = self.mask(users)
        want = set(terms)
        return sorted(
            int(self.ids[i]) for i in np.flatnonzero(m)
            if want <= set(self.title[i].split())
        )

    def raw_bytes(self) -> int:
        """Bytes of live user data: vector floats, ids and title text."""
        m = self.live
        return int(m.sum()) * (self.dim * 4 + 16) + sum(
            len(t.encode()) for t, alive in zip(self.title, m) if alive)


def make_docs(rng: np.random.Generator, n: int, dim: int, n_users: int,
              n_clusters: int, first_id: int = 0) -> tuple:
    """(user, doc_id, vector, title) arrays for n new docs, users drawn
    Zipf-skewed from range(n_users)."""
    user = rng.choice(n_users, size=n, p=zipf_weights(n_users)).astype(np.int64)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return user, ids, clustered_vectors(rng, n, dim, n_clusters), titles(rng, n)


def query_near(rng: np.random.Generator, docs: Docs, users) -> list[float]:
    """A query close to a random live doc of `users` (sigma 1 jitter), so
    its neighbourhood is one cluster of that user's docs."""
    pool = np.flatnonzero(docs.mask(users))
    v = docs.vec[rng.choice(pool)].astype(np.float64)
    return (v + rng.normal(0.0, 1.0, size=v.shape)).tolist()


def pick_terms(rng: np.random.Generator, docs: Docs, users, n_terms: int) -> list[str]:
    """Terms taken from one live title of `users`, so the hit set is never empty."""
    pool = np.flatnonzero(docs.mask(users))
    words = sorted(set(docs.title[rng.choice(pool)].split()))
    return list(rng.choice(words, size=min(n_terms, len(words)), replace=False))


# ------------------------------------------------------------ curation

CORPUS_VOCAB_SIZE = 3000
DUP_FRAC, NEAR_FRAC, OVERLAP_FRAC = 0.05, 0.05, 0.02  # planted shares of the base docs
N_BENCH = 40  # benchmark-set docs the overlap passages come from
PII_SNIPPETS = ("contact jane.doe{n}@example.com today", "call 555-01{n:02d}-{m:04d} now")


def _word(i: int) -> str:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = ""
    i += 27
    while i:
        i, r = divmod(i, 26)
        out = letters[r] + out
    return out


CORPUS_VOCAB = [_word(i) for i in range(CORPUS_VOCAB_SIZE)]


class Corpus:
    """Curation corpus with planted duplicates and benchmark overlap.

    base docs    random word salad, 20-160 words (short ones fail the
                 quality gate, long ones pass), some carrying PII
    exact dups   verbatim copies of base docs under new ids
    near dups    copies of long base docs with one word replaced
    overlap      base docs with a 30-word passage of a benchmark doc
                 spliced in
    """

    def __init__(self, rng: np.random.Generator, n_base: int):
        p = zipf_weights(CORPUS_VOCAB_SIZE, 0.9)

        def salad(k: int) -> list[str]:
            return list(rng.choice(CORPUS_VOCAB, size=k, p=p))

        self.bench = [" ".join(salad(80)) for _ in range(N_BENCH)]
        texts: list[str] = []
        for i in range(n_base):
            words = salad(int(rng.integers(20, 160)))
            if rng.random() < 0.05:
                words.insert(int(rng.integers(0, len(words))),
                             PII_SNIPPETS[i % 2].format(n=i % 100, m=i % 10000))
            texts.append(" ".join(words))
        overlap = rng.choice(n_base, size=max(1, int(OVERLAP_FRAC * n_base)), replace=False)
        for i in overlap:
            b = self.bench[int(rng.integers(0, N_BENCH))].split()
            start = int(rng.integers(0, len(b) - 30))
            texts[i] = texts[i] + " " + " ".join(b[start:start + 30])
        self.overlap_ids = {int(i) for i in overlap}
        long_ids = [i for i, t in enumerate(texts) if len(t.split()) >= 80]
        n_dup = max(1, int(DUP_FRAC * n_base))
        n_near = max(1, int(NEAR_FRAC * n_base))
        dup_src = rng.choice(n_base, size=n_dup, replace=False)
        near_src = rng.choice(long_ids, size=min(n_near, len(long_ids)), replace=False)
        self.exact_pairs: list[tuple[int, int]] = []
        self.near_pairs: list[tuple[int, int]] = []
        nid = n_base
        for s in dup_src:
            texts.append(texts[s])
            self.exact_pairs.append((int(s), nid))
            nid += 1
        for s in near_src:
            words = texts[s].split()
            j = int(rng.integers(0, len(words)))
            words[j] = words[j] + "x"  # a word no generated text contains
            texts.append(" ".join(words))
            self.near_pairs.append((int(s), nid))
            nid += 1
        self.texts = texts
        self.ids = list(range(len(texts)))

    def __len__(self) -> int:
        return len(self.texts)

    def duplicate_ids(self) -> set[int]:
        """Ids exact dedup must drop: every copy but the lowest id of
        each group of identical texts."""
        first: dict[str, int] = {}
        drop = set()
        for i, t in zip(self.ids, self.texts):
            if t in first:
                drop.add(i)
            else:
                first[t] = i
        return drop
