"""Seeded query streams, how to run each query, and its expected answer.

A stream visits its query classes in a fixed round and draws each query
Zipf from that class's pool, so some queries repeat (as in real traffic)
while every round keeps the same class mix. The seed picks the terms of
each pooled query; its shape (term count, df bands) and the stream's
draws depend only on its position, so seeds differ in words, not in
mix. Expected answers come from ``lucene_spark.oracle.OracleIndex`` (plain numpy, no
Spark); they are computed outside every timed window.
"""

from __future__ import annotations

import re

import numpy as np

from lucene_spark.oracle import OracleIndex

K = 10
POOL = 8  # queries per class
# ComplexPhrase over ``var1*`` (111 expanded terms) takes ~50 s on a
# 4-core host: one postings scan per expanded term. It would not finish
# within a run, so the positional stream stops at ~10 terms per slot.
LEFT_OUT = {
    "complex_phrase_w111": "one scan per expanded term; ~50 s per query "
    "at 111 terms, longer than a run",
}


def _zipf_pick(rng, n: int) -> int:
    w = 1.0 / np.arange(1, n + 1)
    return int(rng.choice(n, p=w / w.sum()))


def df_bands(oracle: OracleIndex) -> dict[str, list[str]]:
    """Dictionary terms split by document frequency: high (>= 20% of
    docs), mid (>= 1%) and low (>= 2 docs). An empty band borrows the
    next one so tiny corpora still yield every query class."""
    n = oracle.doc_count
    bands: dict[str, list[str]] = {"high": [], "mid": [], "low": []}
    for term in sorted(oracle.postings):
        df = len(oracle.postings[term][0])
        if df >= 0.2 * n:
            bands["high"].append(term)
        elif df >= 0.01 * n:
            bands["mid"].append(term)
        elif df >= 2:
            bands["low"].append(term)
    for a, b in (("low", "mid"), ("mid", "high"), ("high", "mid"), ("mid", "low")):
        if not bands[a]:
            bands[a] = list(bands[b])
    return bands


BANDS = ("high", "mid", "low")


def _bm25_terms(rng, bands, first: int, n: int) -> list[str]:
    """``n`` distinct terms, the j-th from band ``first + j`` (mod 3):
    the position in the pool fixes the bands, the seed picks the terms."""
    out: list[str] = []
    while len(out) < n:
        band = bands[BANDS[(first + len(out)) % len(BANDS)]]
        t = band[int(rng.integers(len(band)))]
        if t not in out:
            out.append(t)
    return out


BM25_CLASSES = [
    ("term", False), ("or", False), ("and", False),
    ("term", True), ("or", True), ("and", True),
]
# Pools visited per round of the stream: each unpruned class twice, each
# pruned class once. Pruned queries run 1-3x slower than unpruned ones,
# so with half of each the median would fall in the gap between the two
# groups and jump between them from run to run; two thirds unpruned keep
# it inside the unpruned group. ``queries_per_s`` counts the pruned ones.
BM25_ROUND = [0, 1, 2, 0, 1, 2, 3, 4, 5]


def bm25_pools(oracle: OracleIndex, seed: int) -> list[list[dict]]:
    rng = np.random.default_rng([seed, 1])
    bands = df_bands(oracle)
    pools = []
    for kind, prune in BM25_CLASSES:
        pool = []
        for i in range(POOL):
            n = 1 if kind == "term" else 2 + i % (4 if kind == "or" else 2)
            terms = _bm25_terms(rng, bands, i, n)
            pool.append({
                "cls": f"{kind}{'_pruned' if prune else ''}",
                "kind": "bm25", "mode": "and" if kind == "and" else "or",
                "prune": prune, "terms": terms, "text": " ".join(terms),
            })
        pools.append(pool)
    return pools


def _doc_tokens(oracle: OracleIndex, rng, min_len: int) -> list[str]:
    """Analyzed tokens of a random document with at least min_len."""
    while True:
        row = int(rng.integers(oracle.doc_count))
        if oracle.dl[row] >= min_len:
            break
    toks: dict[int, str] = {}
    for term, (rows, _, pos) in oracle.postings.items():
        if row in pos:
            for p in pos[row].tolist():
                toks[p] = term
    return [toks[p] for p in sorted(toks)]


POSITIONAL_CLASSES = [
    "phrase", "sloppy", "prefix_w1", "prefix_w11", "prefix_w111",
    "complex_w1", "complex_w10",
]


def positional_pools(oracle: OracleIndex, seed: int) -> list[list[dict]]:
    rng = np.random.default_rng([seed, 2])
    kws = ["static", "return", "public", "int", "void", "def", "if", "for"]
    pools = []
    for cls in POSITIONAL_CLASSES:
        pool = []
        for _ in range(POOL):
            if cls in ("phrase", "sloppy"):
                toks = _doc_tokens(oracle, rng, 8)
                n = int(rng.integers(2, 4))
                i = int(rng.integers(len(toks) - n - 1))
                if cls == "phrase":
                    terms = toks[i:i + n]
                    spec = {"kind": "phrase", "terms": terms}
                else:
                    # drop one inner token: the sloppy match needs a move
                    terms = [toks[i], toks[i + 2]] if n == 2 else [toks[i], toks[i + 1], toks[i + 3]]
                    spec = {"kind": "sloppy", "terms": terms, "slop": 2}
                spec["text"] = " ".join(terms)
            elif cls.startswith("prefix"):
                d = int(rng.integers(100))
                prefix = {"prefix_w1": f"var1{d:02d}", "prefix_w11": f"var1{d % 10}",
                          "prefix_w111": "var1"}[cls]
                spec = {"kind": "prefix", "prefix": prefix, "text": prefix + "*"}
            else:
                kw = kws[int(rng.integers(len(kws)))]
                d = int(rng.integers(100))
                word = f"var1{d:02d}*" if cls == "complex_w1" else f"var1?{d % 10}"
                spec = {"kind": "complex", "kw": kw, "word": word,
                        "text": f"{kw} {word}"}
            spec["cls"] = cls
            pool.append(spec)
        pools.append(pool)
    return pools


def stream(pools: list[list[dict]], n: int, order: list[int]) -> list[dict]:
    """``n`` queries visiting the pools in ``order`` round after round,
    each drawn Zipf from its pool. The draws are the same for every seed;
    only the pools' queries differ, so streams of different seeds have
    the same shape."""
    rng = np.random.default_rng(3)
    out = []
    for j in range(n):
        pool = pools[order[j % len(order)]]
        out.append(pool[_zipf_pick(rng, len(pool))])
    return out


def execute(searcher, spec: dict):
    """The public search call for ``spec``; returns the lazy DataFrame."""
    from lucene_spark.search import queryparser
    from lucene_spark.search.complexphrase import search_complex_phrase

    kind = spec["kind"]
    if kind == "bm25":
        return searcher.search(spec["text"], k=K, mode=spec["mode"], prune=spec["prune"])
    if kind == "phrase":
        return searcher.search_phrase(spec["text"], k=K)
    if kind == "sloppy":
        return searcher.search_sloppy_phrase(spec["text"], spec["slop"], k=K)
    if kind == "prefix":
        return queryparser.execute(searcher, spec["text"], k=K)
    if kind == "complex":
        return search_complex_phrase(searcher, spec["text"], k=K)
    raise ValueError(f"unknown query kind {kind!r}")


def _expand_like(oracle: OracleIndex, word: str) -> list[str]:
    pat = re.compile(
        "".join(".*" if c == "*" else "." if c == "?" else re.escape(c) for c in word)
        + r"\Z"
    )
    return sorted(t for t in oracle.postings if pat.match(t))


def expected(oracle: OracleIndex, spec: dict) -> list[tuple[int, float]]:
    kind = spec["kind"]
    if kind == "bm25":
        return oracle.search(spec["terms"], k=K, mode=spec["mode"])
    if kind == "phrase":
        return oracle.search_phrase(spec["terms"], k=K)
    if kind == "sloppy":
        return oracle.search_sloppy(spec["terms"], spec["slop"], k=K)
    if kind == "prefix":
        # scoring-boolean rewrite: the sum of BM25 over every expanded term
        terms = sorted(t for t in oracle.postings if t.startswith(spec["prefix"]))
        return oracle.search(terms, k=K, mode="or") if terms else []
    if kind == "complex":
        alts = _expand_like(oracle, spec["word"])
        if spec["kw"] not in oracle.postings or not alts:
            return []
        return oracle.search_span_near([spec["kw"], tuple(alts)], 0, k=K)
    raise ValueError(f"unknown query kind {kind!r}")
