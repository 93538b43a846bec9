"""Seeded source-code corpus for the benchmark.

Rows are ``(repo, path, commit, lang, content)``, the shape of
BASELINE.json. Unlike ``lucene_spark.corpus`` (every document i.i.d.),
each repository here owns a vocabulary of its own: a document mixes
language keywords, a global identifier family and identifiers private to
its repository. Documents of one repository get adjacent docIDs (the
index sorts by ``(repo, path, commit)``), so repo-local terms have
postings clustered in docID space, as real repositories do.

The global ``var<i>`` family (i < 200, all present at benchmark sizes)
gives wildcard expansions of known width: ``var123*`` -> 1 term,
``var12*`` -> 11, ``var1*`` -> 111.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

KEYWORDS = (
    "def return if else for while import class public static void int "
    "func package struct type interface var const try except finally "
    "break continue switch case new delete this self super lambda yield"
).split()
# fixed keyword bigrams, so exact phrases of every df band exist
PHRASES = [
    "public static void", "return self", "import os", "if err",
    "for each item", "new buffer", "try finally", "class base",
]
VERBS = "get set parse load read write make find check build handle init".split()
NOUNS = (
    "node value buffer request header token field index block entry "
    "record stream cache frame table query"
).split()
LANGS = [("py", "python"), ("java", "java"), ("c", "c"), ("go", "go")]
N_VAR = 200  # var0..var199
DOCS_PER_REPO = 400
LOCAL_VOCAB = 150


def _zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def make_corpus(n_docs: int, seed: int, start: int = 0, tag: str = "c") -> pd.DataFrame:
    """``n_docs`` documents; a pure function of its arguments. ``start``
    and ``tag`` give later batches (the NRT inbox) their own keys."""
    rng = np.random.default_rng([seed, start, n_docs])
    n_repos = max(2, n_docs // DOCS_PER_REPO)
    pool = np.array(
        [f"{v}{n.capitalize()}{k}" for v in VERBS for n in NOUNS for k in range(10)]
    )
    var_ids = np.array([f"var{i}" for i in range(N_VAR)])
    # the var family is shuffled before Zipf ranks are applied, so the
    # hot var<i> differ by seed but every id still appears
    var_w = _zipf_weights(N_VAR, 0.6)[rng.permutation(N_VAR)]
    kw_w = _zipf_weights(len(KEYWORDS), 0.8)
    local_w = _zipf_weights(LOCAL_VOCAB, 1.0)
    locals_ = [
        rng.choice(pool, size=LOCAL_VOCAB, replace=False) for _ in range(n_repos)
    ]
    rows = []
    for j in range(n_docs):
        i = start + j
        r = int(rng.integers(n_repos))
        ext, lang = LANGS[int(rng.integers(len(LANGS)))]
        u = rng.random()
        n_tok = int(rng.integers(1, 12) if u < 0.05 else
                    rng.integers(20, 400) if u < 0.95 else rng.integers(400, 3000))
        kinds = rng.choice(4, size=n_tok, p=[0.40, 0.12, 0.43, 0.05])
        toks = np.empty(n_tok, dtype=object)
        m = kinds == 0
        toks[m] = rng.choice(KEYWORDS, size=int(m.sum()), p=kw_w)
        m = kinds == 1
        toks[m] = rng.choice(var_ids, size=int(m.sum()), p=var_w)
        m = kinds == 2
        toks[m] = rng.choice(locals_[r], size=int(m.sum()), p=local_w)
        m = kinds == 3
        toks[m] = rng.choice(PHRASES, size=int(m.sum()))
        rows.append({
            "repo": f"org{r % 5}/{tag}repo{r}",
            "path": f"src/mod{i % 17}/file_{i}.{ext}",
            "commit": hashlib.sha1(f"{seed}:{tag}:{i}".encode()).hexdigest()[:12],
            "lang": lang,
            "content": " ".join(toks.tolist()),
        })
    return pd.DataFrame(rows)
