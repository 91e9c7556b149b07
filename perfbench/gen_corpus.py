"""Seeded document corpus with planted duplicates and its ground truth.

Documents draw words from a Zipf-skewed vocabulary (stopwords at the
head). Planted on top:

- exact duplicates: a verbatim copy under a new id;
- near-duplicate chains: a -> b -> c, each step replacing one token, so
  adjacent members share ~90% of their token 3-grams; every pair inside
  a chain is recorded with its exact 3-gram Jaccard;
- short low-quality docs (under five tokens) and long-token garbage docs,
  both rejected by the ``quality_ok`` gate.

Every doc carries a seeded 16-dimensional embedding for the ANN lane;
chain members get small perturbations of their root's vector.
"""

from __future__ import annotations

import bisect
import itertools
import random
import re

STOPWORDS = ("the", "and", "of", "to", "in", "is", "that", "it", "for", "was")
DIM = 16


def vocabulary(size: int) -> list[str]:
    rng = random.Random(7)
    words = list(STOPWORDS)
    seen = set(words)
    while len(words) < size:
        w = "".join(rng.choice("abcdefghijklmnoprstuvwy") for _ in range(rng.randrange(3, 10)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


class Zipf:
    def __init__(self, words: list[str], s: float = 1.1):
        self.words = words
        acc, self.cdf = 0.0, []
        for r in range(len(words)):
            acc += 1.0 / (r + 1) ** s
            self.cdf.append(acc)

    def draw(self, rng: random.Random, lo: int = 0) -> str:
        u = rng.uniform(self.cdf[lo - 1] if lo else 0.0, self.cdf[-1])
        return self.words[min(len(self.words) - 1, bisect.bisect_left(self.cdf, u))]


def tokens(text: str) -> list[str]:
    """Whitespace tokens, as ``operators.text.tokens`` splits them."""
    t = text.strip()
    return re.split(r"\s+", t) if t else []


def shingle_set(text: str, k: int = 3) -> set[str]:
    t = tokens(text)
    if len(t) >= k:
        return {" ".join(t[i: i + k]) for i in range(len(t) - k + 1)}
    return {" ".join(t)}


def jaccard(a: str, b: str, k: int = 3) -> float:
    sa, sb = shingle_set(a, k), shingle_set(b, k)
    inter = len(sa & sb)
    union = len(sa) + len(sb) - inter
    return inter / union if union else 0.0


def _vec(rng: random.Random) -> list[float]:
    return [rng.gauss(0.0, 1.0) for _ in range(DIM)]


def make_corpus(seed: int, n_docs: int, min_len: int = 60, max_len: int = 120) -> dict:
    """``{"docs": [(doc_id, text, embedding)], "chains": [[ids]],
    "pairs": [(id_a, id_b, jaccard)], "expected_kept": int}``.

    ``n_docs`` counts base documents; planted copies come on top."""
    rng = random.Random(seed)
    zipf = Zipf(vocabulary(4000))
    docs, chains, pairs = [], [], []

    def add(text: str, vec: list[float]) -> int:
        docs.append((len(docs) + 1, text, vec))
        return len(docs)

    for _ in range(n_docs):
        words = [zipf.draw(rng) for _ in range(rng.randrange(min_len, max_len))]
        text, vec = " ".join(words), _vec(rng)
        root = add(text, vec)
        u = rng.random()
        if u < 0.05:
            add(text, vec)  # exact duplicate
        elif u < 0.10:
            chain = [root]
            cur = words
            used: set[int] = set()
            for _step in range(2):
                pos = rng.choice([i for i in range(3, len(cur) - 3) if all(abs(i - j) > 3 for j in used)])
                used.add(pos)
                cur = list(cur)
                word = cur[pos]
                while word == cur[pos]:
                    word = zipf.draw(rng, lo=200)
                cur[pos] = word
                chain.append(add(" ".join(cur), [x + rng.gauss(0.0, 0.05) for x in vec]))
            chains.append(chain)
        elif u < 0.14:
            add(" ".join(zipf.draw(rng) for _ in range(rng.randrange(1, 5))), _vec(rng))
        elif u < 0.15:
            junk = ["".join(rng.choice("abcdef0123456789") for _ in range(24)) for _ in range(8)]
            add(" ".join(junk), _vec(rng))
    text_of = {d[0]: d[1] for d in docs}
    for chain in chains:
        for a, b in itertools.combinations(chain, 2):
            pairs.append((a, b, jaccard(text_of[a], text_of[b])))
    # every long doc survives the quality gate; exact copies and chain
    # members collapse onto their root, so one survivor per root remains
    return {"docs": docs, "chains": chains, "pairs": pairs, "expected_kept": n_docs}


def make_queries(seed: int, n: int, docs: list[tuple]) -> list[tuple]:
    """``(query_id, qtext, embedding)``: three mid-frequency terms and a
    perturbed embedding of a random doc."""
    rng = random.Random(seed + 11)
    zipf = Zipf(vocabulary(4000))
    out = []
    for q in range(n):
        terms = " ".join(zipf.draw(rng, lo=10) for _ in range(3))
        base = docs[rng.randrange(len(docs))][2]
        out.append((q + 1, terms, [x + rng.gauss(0.0, 0.3) for x in base]))
    return out
