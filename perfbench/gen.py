"""Seeded workload generator: documents, JSONL shards and vectors with
planted ground truth.

Pure numpy/python, no Spark: the engine only ever sees the frames and
files built from what this module returns. The same seed gives the same
inputs, byte for byte (pinned by ``test_perfbench.py``).

Text is drawn from a synthetic vocabulary of lowercase pseudo-words with
Zipf weights, so generated documents share almost no 3-word shingles or
16-char spans by chance, and each passes the default quality gate
(>= 500 chars, no punctuation, 3-12 chars per word). Duplicates are
planted on purpose and recorded:

- exact: identical text under another id (whitespace varied, which the
  clean stage normalizes away);
- near: about 3% of the words substituted (3-shingle Jaccard ~0.8);
- partial: a 700-char run of an original lifted into otherwise new text;
- semantic: the original's words shuffled (same bag of words, so cosine
  1.0 under ``hashed_text_embedding``, low shingle Jaccard).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

_SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]


def vocabulary(rng: np.random.Generator, size: int = 20_000) -> list[str]:
    """``size`` distinct pseudo-words of 2-4 syllables (4-8 letters)."""
    words: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        n = int(rng.integers(2, 5))
        w = "".join(_SYLLABLES[i] for i in rng.integers(0, len(_SYLLABLES), n))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


class TextSource:
    """Zipf-weighted word draws over a seeded vocabulary."""

    def __init__(self, rng: np.random.Generator, vocab_size: int = 20_000):
        self.rng = rng
        self.vocab = np.array(vocabulary(rng, vocab_size), dtype=object)
        w = 1.0 / np.arange(1, vocab_size + 1) ** 0.9
        self.cdf = np.cumsum(w / w.sum())

    def words(self, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, self.rng.random(n))
        return list(self.vocab[np.minimum(idx, len(self.vocab) - 1)])

    def doc(self, lo: int = 110, hi: int = 160) -> str:
        return " ".join(self.words(int(self.rng.integers(lo, hi))))

    def near(self, text: str, frac: float = 0.03) -> str:
        toks = text.split()
        n = max(1, int(round(frac * len(toks))))
        pos = self.rng.choice(len(toks), size=n, replace=False)
        for p, w in zip(pos, self.words(n)):
            toks[int(p)] = w
        return " ".join(toks)

    def partial(self, text: str, span_chars: int = 700) -> str:
        """New text with a ``span_chars`` run of ``text`` (cut at word
        boundaries) lifted into its middle."""
        toks = text.split()
        spans = []
        start = int(self.rng.integers(0, max(1, len(toks) // 3)))
        chars = 0
        for t in toks[start:]:
            spans.append(t)
            chars += len(t) + 1
            if chars >= span_chars:
                break
        return " ".join(self.words(40) + spans + self.words(40))

    def semantic(self, text: str) -> str:
        toks = text.split()
        return " ".join(toks[i] for i in self.rng.permutation(len(toks)))

    def exact(self, text: str) -> str:
        """Same text after whitespace normalization."""
        toks = text.split()
        i = int(self.rng.integers(1, len(toks)))
        return " ".join(toks[:i]) + "  " + " ".join(toks[i:])


@dataclass
class IngestPlan:
    """A sequence of micro-batches: ``batches[b]`` is a list of
    ``(doc_id, text)``. ``planted[kind]`` maps copy id -> original id for
    copies of docs from EARLIER batches; ``fresh`` holds the ids of
    fresh (never copied-into) documents; ``retract`` is the seeded id set
    the run takes down at the end, drawn from fresh docs of batches that
    are always drained (the set-up batch)."""

    batches: list[list[tuple[int, str]]]
    planted: dict[str, dict[int, int]]
    fresh: set[int]
    retract: list[int]


def ingest_plan(seed: int, n_batches: int, batch_docs: int,
                copy_frac: float = 0.04, n_retract: int = 20) -> IngestPlan:
    """Batch 0 is all fresh; every later batch carries ``copy_frac`` of
    its size per duplicate family (exact, near, partial, semantic), each
    a copy of a fresh doc of an earlier batch. Ids are globally unique
    and increase with the batch number."""
    rng = np.random.default_rng([seed, 2])
    src = TextSource(rng)
    batches: list[list[tuple[int, str]]] = []
    planted: dict[str, dict[int, int]] = {
        "exact": {}, "near": {}, "partial": {}, "semantic": {}}
    fresh_pool: list[tuple[int, str]] = []
    fresh: set[int] = set()
    next_id = 1
    make = {"exact": src.exact, "near": src.near, "partial": src.partial,
            "semantic": src.semantic}
    for b in range(n_batches):
        rows: list[tuple[int, str]] = []
        n_copy = 0 if b == 0 else int(batch_docs * copy_frac)
        for kind in planted:
            for _ in range(n_copy):
                oid, otext = fresh_pool[int(rng.integers(0, len(fresh_pool)))]
                rows.append((next_id, make[kind](otext)))
                planted[kind][next_id] = oid
                next_id += 1
        new_fresh = []
        while len(rows) < batch_docs:
            row = (next_id, src.doc())
            rows.append(row)
            new_fresh.append(row)
            fresh.add(next_id)
            next_id += 1
        fresh_pool.extend(new_fresh)
        order = rng.permutation(len(rows))
        batches.append([rows[i] for i in order])
    # retract from fresh batch-0 docs no later batch copied: the set-up
    # batch is always drained, and an uncopied doc keeps the check free
    # of copy/original interplay
    copied = {o for m in planted.values() for o in m.values()}
    cands = sorted(i for i, _ in batches[0] if i not in copied)
    pick = rng.choice(len(cands), size=min(n_retract, len(cands)), replace=False)
    return IngestPlan(batches, planted, fresh,
                      sorted(int(cands[i]) for i in pick))


@dataclass
class VectorSet:
    """Unit vectors from a seeded Gaussian mixture. ``base`` (ids
    ``1..n``) is what the index is built over; ``extra`` supplies the
    vectors later appends draw from (ids above every base id); ``queries``
    is a pool of query vectors (perturbed mixture points)."""

    dim: int
    base_ids: np.ndarray
    base: np.ndarray
    extra_ids: np.ndarray
    extra: np.ndarray
    queries: np.ndarray


def _unit(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def vector_set(seed: int, n_base: int, n_extra: int, n_queries: int,
               dim: int = 64, n_clusters: int = 48,
               spread: float = 0.08) -> VectorSet:
    rng = np.random.default_rng([seed, 3])
    centers = _unit(rng.standard_normal((n_clusters, dim)))

    def draw(n: int) -> np.ndarray:
        c = rng.integers(0, n_clusters, n)
        return _unit(centers[c] + spread * rng.standard_normal((n, dim)))

    base, extra, queries = draw(n_base), draw(n_extra), draw(n_queries)
    return VectorSet(
        dim,
        np.arange(1, n_base + 1, dtype=np.int64), base,
        np.arange(n_base + 1, n_base + n_extra + 1, dtype=np.int64), extra,
        queries,
    )


def brute_top_k(live_ids: np.ndarray, live: np.ndarray, queries: np.ndarray,
                k: int = 10) -> np.ndarray:
    """Exact cosine top-``k`` ids per query over the live set (rows are
    unit vectors, so cosine is the dot product); ties broken by id."""
    sims = queries @ live.T
    out = np.empty((len(queries), k), dtype=np.int64)
    for i, row in enumerate(sims):
        top = np.lexsort((live_ids, -row))[:k]
        out[i] = live_ids[top]
    return out
