"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the workload seed and touches no
Spark: the corpus rows come from ``sources/corpus.py`` (a pure function of
(seed, doc index)), and every query term is drawn from that generated
content instead of being constructed.  The generator stores file-local
identifiers in a ``<U9`` array, so ``loc_50003_1`` is stored as
``loc_50003``; reading the tokens back from ``doc_content`` gets that right
without knowing about it.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np

from searchenginesimple_spark.functions.tokenize import tokenize_py
from searchenginesimple_spark.sources.corpus import (
    EXACT_DUP_EVERY,
    NEAR_DUP_EVERY,
    SHORT_EVERY,
    VOCAB_SIZE,
    doc_content,
)


DELTA_DOCS = 1_000  # traced ingest cycle: doc indices [n_docs, n_docs + DELTA_DOCS)
BATCH_EVERY = 20  # point queries between two OR batches
MIN_BATCHES = 2  # OR batches a run sends even when its window ends first
BATCH_SIZE = 200  # queries per OR batch


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int  # base corpus: doc indices [0, n_docs)
    head_share: float  # share of point queries drawn from the repeating head pool
    head_pool: int  # distinct head queries
    dedup_oracle: bool  # the O(n^2) dedup oracle (traced runs) fits the small corpus only


WORKLOADS = {
    w.name: w
    for w in (
        Workload("query", n_docs=2_000, head_share=0.7, head_pool=16, dedup_oracle=True),
        Workload("churn", n_docs=4_000, head_share=0.1, head_pool=4, dedup_oracle=False),
    )
}


def is_base_doc(i: int) -> bool:
    """True when doc ``i`` carries its own content (not a planted duplicate
    of an earlier doc and not a short doc), so its file-local terms are its
    own."""
    return not (
        (i % EXACT_DUP_EVERY == 11 and i >= 7)
        or (i % NEAR_DUP_EVERY == 9 and i >= 1)
        or i % SHORT_EVERY == 5
    )


def doc_terms(i: int, seed: int) -> list[str]:
    return tokenize_py(doc_content(i, seed))


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent generator per input stream, so adding draws to one
    # stream never shifts another
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def head_queries(seed: int, n_docs: int, size: int) -> list[str]:
    """Two identifiers that co-occur in one generated doc, so the AND query
    has at least that doc as a match."""
    rng = _rng(seed, "head")
    out: list[str] = []
    while len(out) < size:
        i = int(rng.integers(0, n_docs))
        if not is_base_doc(i):
            continue
        idents = sorted({t for t in doc_terms(i, seed) if t.startswith("ident_")})
        if len(idents) < 2:
            continue
        a, b = rng.choice(len(idents), size=2, replace=False)
        q = f"{idents[a]} {idents[b]}"
        if q not in out:
            out.append(q)
    return out


def tail_queries(seed: int, lo: int, hi: int, stream: str = "tail"):
    """Endless-until-exhausted generator of ``"<ident> <loc term>"`` queries
    over docs in [lo, hi).  Each carries a file-local term no earlier query
    carried, so a serving cache has never seen it."""
    rng = _rng(seed, stream)
    seen: set[str] = set()
    for i in rng.permutation(np.arange(lo, hi)):
        i = int(i)
        if not is_base_doc(i):
            continue
        toks = doc_terms(i, seed)
        locs = sorted({t for t in toks if t.startswith("loc_")} - seen)
        idents = sorted({t for t in toks if t.startswith("ident_")})
        if not locs or not idents:
            continue
        loc = locs[int(rng.integers(0, len(locs)))]
        seen.add(loc)
        yield f"{idents[int(rng.integers(0, len(idents)))]} {loc}"


def point_stream(w: Workload, seed: int):
    """The closed-loop client's point queries: ``(kind, query)`` with kind
    ``"head"`` (Zipf-popular, repeats) or ``"tail"`` (first sight).  Every
    block of ten holds exactly ``10 * head_share`` head queries in a seeded
    order, so the hit/miss mix of a run does not drift with the seed."""
    rng = _rng(seed, "mix")
    heads = head_queries(seed, w.n_docs, w.head_pool)
    ranks = np.arange(1, len(heads) + 1, dtype=np.float64)
    p = ranks**-1.1
    p /= p.sum()
    tails = tail_queries(seed, 0, w.n_docs)
    n_head = round(10 * w.head_share)
    while True:
        for is_head in rng.permutation([True] * n_head + [False] * (10 - n_head)):
            if is_head:
                yield "head", heads[int(rng.choice(len(heads), p=p))]
            else:
                yield "tail", next(tails)


def batch_queries(seed: int, round_no: int, size: int) -> list[str]:
    """``size`` three-term OR queries whose terms walk a fresh permutation of
    the whole identifier vocabulary, so every batch of ≥ 167 queries touches
    all of it."""
    rng = np.random.default_rng([seed, 7919, round_no])
    terms: list[int] = []
    while len(terms) < 3 * size:
        terms.extend(int(t) for t in rng.permutation(VOCAB_SIZE))
    out = []
    for j in range(size):
        tri = terms[3 * j : 3 * j + 3]
        if len(set(tri)) < 3:  # a permutation seam repeated a term
            tri = [tri[0], (tri[0] + 1) % VOCAB_SIZE, (tri[0] + 2) % VOCAB_SIZE]
        out.append(" ".join(f"ident_{t:03d}" for t in tri))
    return out


def delta_probe(seed: int, w: Workload) -> str:
    """A file-local term that occurs only in the delta's doc range: the
    freshness probe that must rank once the delta is merged."""
    return next(tail_queries(seed, w.n_docs, w.n_docs + DELTA_DOCS, "probe")).split()[1]
