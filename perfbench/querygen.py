"""Seeded BM25 query generator.

Queries are 1-8 words drawn from the transcript generator's own
vocabulary (``flame_spark.data``), because WAND's work depends on query
length and on the document frequency of the query's n-grams:

- ``hot``: a 3-8 word window of a formula phrase (high-df n-grams)
- ``filler``: 3-6 filler words in random order (low-df n-grams)
- ``perturbed``: a formula window with ligatures and a transposition
- ``oov``: a formula window with one word replaced by an unseen token
- ``short``: 1-2 words, shorter than the n-gram window (no terms)

Pure Python; the same seed gives the same queries.
"""

from __future__ import annotations

import random

from flame_spark.data import _FILLER_WORDS, _FORMULAE

#: query i has kind KIND_CYCLE[i % 11]. The mix is fixed, not drawn, so
#: any 11 consecutive queries of any seed load WAND alike and only the
#: texts change with the seed.
KIND_CYCLE = ("hot", "filler", "perturbed", "hot", "oov", "filler",
              "hot", "perturbed", "short", "filler", "hot")

_LIGATURES = (("ae", "æ"), ("oe", "œ"), ("ss", "ß"), ("s", "ſ"), ("e", "é"))


def _window(rng: random.Random, lo: int, hi: int) -> list[str]:
    words = rng.choice(_FORMULAE).split()
    n = min(len(words), rng.randint(lo, hi))
    start = rng.randint(0, len(words) - n)
    return words[start:start + n]


def _perturb(rng: random.Random, words: list[str]) -> list[str]:
    out = list(words)
    i = rng.randrange(len(out))
    for src, dst in _LIGATURES:
        if src in out[i]:
            out[i] = out[i].replace(src, dst, 1)
            break
    j = rng.randrange(len(out))
    w = out[j]
    if len(w) > 3:
        k = rng.randrange(len(w) - 1)
        out[j] = w[:k] + w[k + 1] + w[k] + w[k + 2:]
    return out


def _oov_token(rng: random.Random) -> str:
    return "zq" + "".join(rng.choice("bcdfghjklmnpvwxz") for _ in range(6))


def make_query(rng: random.Random, kind: str) -> str:
    if kind == "hot":
        words = _window(rng, 3, 8)
    elif kind == "filler":
        words = [rng.choice(_FILLER_WORDS) for _ in range(rng.randint(3, 6))]
    elif kind == "perturbed":
        words = _perturb(rng, _window(rng, 3, 8))
    elif kind == "oov":
        words = _window(rng, 3, 7)
        words[rng.randrange(len(words))] = _oov_token(rng)
    elif kind == "short":
        words = _window(rng, 1, 2)
    else:
        raise ValueError(f"unknown query kind {kind!r}")
    return " ".join(words)


def query_pool(seed: int, n: int, prefix: str = "q") -> list[dict]:
    """``n`` queries ``{"query_id", "query_text", "kind"}``; query ``i``
    has kind ``KIND_CYCLE[i % len(KIND_CYCLE)]``."""
    rng = random.Random(f"perfbench-queries-{seed}")
    out = []
    for i in range(n):
        kind = KIND_CYCLE[i % len(KIND_CYCLE)]
        out.append(
            {
                "query_id": f"{prefix}{i:04d}",
                "query_text": make_query(rng, kind),
                "kind": kind,
            }
        )
    return out
