"""End-to-end rank-identity contract: the distributed engine vs the
independent numpy oracle (CheckHits.checkEqual analog, tol 1e-6,
lucene/test-framework/.../search/CheckHits.java:222-246)."""

import numpy as np
import pytest

from lucene_spark.analysis import analyze
from lucene_spark.oracle import assert_rank_identical
from lucene_spark.search.engine import IndexSearcher

# ONE_TASK_TOPK_MAX_DF per BM25 top-k plan of search(): the one-task plan
# (default) and the shuffle plan (0), where prune=True reaches the
# block-max pruned search; the pruning tests run under both
PLAN_BOUNDS = (IndexSearcher.ONE_TASK_TOPK_MAX_DF, 0)

BOOL_QUERIES = [
    ("license", "or"),
    ("def return", "or"),
    ("apache license", "and"),
    ("var0 getValue0", "or"),
    ("zzznotaterm", "or"),
    ("the license software", "or"),
    ("CONSTANT_0 import software foundation", "or"),
    ("do_thing_7", "or"),
    ("var1 var2 var3", "and"),
    ("notfound apache", "and"),
]


def _terms(q):
    out = []
    for t in q.split():
        out.extend(analyze(t))
    return out


def test_collection_stats_match(built_index):
    manifest, oracle, _ = built_index
    assert manifest["doc_count"] == oracle.doc_count
    assert manifest["sum_total_term_freq"] == oracle.sum_total_term_freq
    assert manifest["sum_doc_freq"] == oracle.sum_doc_freq


@pytest.mark.parametrize("q,mode", BOOL_QUERIES)
def test_boolean_rank_identity(built_index, q, mode):
    _, oracle, searcher = built_index
    got = [(r["docID"], r["score"]) for r in searcher.search(q, k=10, mode=mode).collect()]
    exp = oracle.search(_terms(q), k=10, mode=mode)
    assert_rank_identical(exp, got, msg=f"[{q} {mode}]")


@pytest.mark.parametrize("k", [1, 10, 100])
def test_topk_sizes(built_index, k):
    _, oracle, searcher = built_index
    got = [(r["docID"], r["score"]) for r in searcher.search("license", k=k).collect()]
    exp = oracle.search(["license"], k=k)
    assert_rank_identical(exp, got, msg=f"[k={k}]")


@pytest.mark.parametrize("ph", ["apache software foundation", "license agreements", "def return"])
def test_phrase_rank_identity(built_index, ph):
    _, oracle, searcher = built_index
    got = [(r["docID"], r["score"]) for r in searcher.search_phrase(ph, k=10).collect()]
    exp = oracle.search_phrase(analyze(ph), k=10)
    assert_rank_identical(exp, got, msg=f"[phrase {ph}]")


@pytest.mark.parametrize("q", ["license", "the license software", "var0 getValue0"])
def test_pruned_equals_unpruned(built_index, q):
    """Block-max pruning must never change the top-k (WAND contract)."""
    _, _, searcher = built_index
    try:
        for bound in PLAN_BOUNDS:
            searcher.ONE_TASK_TOPK_MAX_DF = bound
            got_p = [(r["docID"], r["score"]) for r in searcher.search(q, k=10, prune=True).collect()]
            got_u = [(r["docID"], r["score"]) for r in searcher.search(q, k=10).collect()]
            assert_rank_identical(got_u, got_p, msg=f"[prune {q} bound={bound}]")
    finally:
        del searcher.ONE_TASK_TOPK_MAX_DF


def test_pruned_actually_prunes_on_skewed_corpus(spark, tmp_path):
    """On a tf-skewed corpus (whole blocks of tf=1 long docs vs a block of
    high-tf short docs) the build-time lb_key10 theta must let the fast
    path drop blocks BEFORE decoding — and the top-k must still be
    rank-identical to the unpruned path."""
    from pyspark.sql import functions as F

    from lucene_spark.index.builder import build_index

    # docID order follows (repo, path, commit); group high-tf docs into
    # the lexicographically-first paths so they fill whole 256-doc blocks
    rows = []
    for i in range(1024):
        if i < 256:
            # short docs stuffed with the term -> high tf, low norm
            content = "zoo " * 20
        else:
            # one occurrence buried in a long doc -> tf=1, high norm
            content = "zoo " + "filler pad word item " * 60
        rows.append(("r", f"p{i:05d}", "c0", "py", content))
    docs = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    out = str(tmp_path / "skew_idx")
    build_index(spark, docs, out, partitions=4)
    s = IndexSearcher(spark, out)

    stats = s.term_stats(["zoo"])
    st = stats["zoo"]
    assert st.lb_key10 is not None
    weights = s._weights(stats)
    w = np.float32(weights["zoo"])
    theta = float(w - w / (np.float32(1.0) + np.float32(st.lb_key10)))
    blocks = s._postings.filter(F.col("term") == "zoo")
    total = blocks.count()
    surviving = (
        blocks.withColumn("ub", s._block_ub_col(weights))
        .filter(F.col("ub") >= F.lit(theta - 1e-5 * (abs(theta) + 1.0)))
        .count()
    )
    assert total >= 4
    assert surviving < total, f"no blocks pruned ({surviving}/{total})"

    for bound in PLAN_BOUNDS:
        s.ONE_TASK_TOPK_MAX_DF = bound
        got_p = [(r["docID"], r["score"]) for r in s.search("zoo", k=10, prune=True).collect()]
        got_u = [(r["docID"], r["score"]) for r in s.search("zoo", k=10).collect()]
        assert_rank_identical(got_u, got_p, msg=f"[skewed prune bound={bound}]")


def test_count(built_index):
    _, oracle, searcher = built_index
    assert searcher.count("license") == len(oracle.postings["license"][0])
    assert searcher.count("zzznotaterm") == 0


def test_duplicate_query_terms_dedup_contract(built_index):
    """Repeated query terms score once in BOTH engine and oracle (stated
    contract; Lucene's BooleanQuery would keep duplicate clauses)."""
    _, oracle, searcher = built_index
    got_dup = [(r["docID"], r["score"]) for r in searcher.search(["license", "license"], k=10).collect()]
    got_one = [(r["docID"], r["score"]) for r in searcher.search(["license"], k=10).collect()]
    assert got_dup == got_one
    exp = oracle.search(["license", "license"], k=10)
    assert_rank_identical(exp, got_dup, msg="[dup terms]")


def test_expansion_cap(built_index):
    """A pathological multi-term pattern must never collect an unbounded
    dictionary slice: error under the clause cap (TooManyClauses analog)
    or bounded top-df rewrite (TopTermsRewrite analog)."""
    _, _, searcher = built_index
    with pytest.raises(ValueError, match="TooManyClauses"):
        searcher.expand_terms(prefix="", max_expansions=10)
    top = searcher.expand_terms(prefix="", max_expansions=10, top_terms=True)
    assert len(top) == 10
    stats = searcher.term_stats(top)
    assert min(s.df for s in stats.values()) >= 1


def test_content_sha256_invariant(built_index, spark):
    """Per-row invariant vs the source table (BASELINE.json input_hint)."""
    import hashlib

    from lucene_spark.corpus import generate_corpus

    manifest, _, searcher = built_index
    dm = searcher.docmap.orderBy("docID").collect()
    pdf = (
        generate_corpus(manifest["doc_count"])
        .sort_values(["repo", "path", "commit"])
        .reset_index(drop=True)
    )
    assert len(dm) == len(pdf)
    for i in (0, len(dm) // 2, len(dm) - 1):
        expected = hashlib.sha256(pdf["content"].iloc[i].encode()).digest()
        assert bytes(dm[i]["content_sha256"]) == expected


def test_block_invariants(built_index, spark):
    """Postings block contract (BasePostingsFormatTestCase analog):
    per-term blocks sorted, docIDs strictly increasing, block metadata
    consistent with members."""
    from lucene_spark.util.blockcodec import decode_block as decode
    from lucene_spark.util.varbyte import delta_decode

    _, oracle, searcher = built_index
    rows = searcher._postings.collect()
    seen = {}
    for r in rows:
        doc_ids = delta_decode(decode(bytes(r["docs_vb"])))
        tfs = decode(bytes(r["tfs_vb"]))
        assert (np.diff(doc_ids) > 0).all()
        assert doc_ids.size == r["ndocs"] <= 256
        assert doc_ids[0] == r["min_doc"] and doc_ids[-1] == r["max_doc"]
        assert tfs.max() == r["max_tf"]
        norms = np.frombuffer(bytes(r["norms_b"]), dtype=np.uint8)
        assert norms.min() == r["min_norm"]
        seen.setdefault(r["term"], []).append((r["salt"], r["block_seq"], doc_ids, tfs))
    # reconstructed posting lists == oracle postings
    for term in ["license", "def", "var0"]:
        parts = sorted(seen[term])
        doc_ids = np.concatenate([p[2] for p in parts])
        tfs = np.concatenate([p[3] for p in parts])
        exp_rows, exp_tfs, _ = oracle.postings[term]
        assert (doc_ids == exp_rows).all()
        assert (tfs == exp_tfs).all()


# ---------------------------------------------------------------------------
# Extended boolean operators: engine float32 vs oracle (added with
# search_boolean / search_dismax / search_synonym)
# ---------------------------------------------------------------------------

BOOLEAN_CASES = [
    dict(should=["license", "apache", "software"], min_should_match=2),
    dict(must=["license"], must_not=["var0"]),
    dict(must=["apache"], should=["def", "return"]),
    dict(should=["def", "return", "import"], min_should_match=3),
    dict(must=["license"], must_not=["zzznotaterm"]),
]


@pytest.mark.parametrize("case", range(len(BOOLEAN_CASES)))
def test_boolean_extended_rank_identity(built_index, case):
    _, oracle, searcher = built_index
    kw = BOOLEAN_CASES[case]
    got = [
        (r["docID"], r["score"])
        for r in searcher.search_boolean(k=10, **kw).collect()
    ]
    exp = oracle.search_boolean(k=10, **kw)
    assert_rank_identical(exp, got, msg=f"[bool {kw}]")


def test_dismax_rank_identity(built_index):
    _, oracle, searcher = built_index
    queries = [["license", "apache"], ["def", "return"]]
    got = [
        (r["docID"], r["score"])
        for r in searcher.search_dismax(
            [" ".join(q) for q in queries], tie_breaker=0.1, k=10
        ).collect()
    ]
    exp = oracle.search_dismax(queries, tie_breaker=0.1, k=10)
    # dismax combines in float64 then casts; compare scores with tol
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (d, gs), (_, es) in zip(got, exp):
        assert abs(gs - es) <= 1e-6 * max(1.0, abs(es))


def test_synonym_rank_identity(built_index):
    _, oracle, searcher = built_index
    terms = ["license", "import"]
    got = [
        (r["docID"], r["score"])
        for r in searcher.search_synonym(terms, k=10).collect()
    ]
    exp = oracle.search_synonym(terms, k=10)
    assert_rank_identical(exp, got, msg="[synonym]")


def test_blended_rank_identity(built_index):
    """BlendedTermQuery: rare+common term pair scored with the blended
    (max) df, DisjunctionMax tie 0.01 — engine float32 == oracle."""
    _, oracle, searcher = built_index
    for terms in (["license", "import"], ["apache", "var0"]):
        got = [
            (r["docID"], r["score"])
            for r in searcher.search_blended(terms, k=10).collect()
        ]
        exp = oracle.search_blended(terms, k=10)
        # dismax-style combination runs in float64 then casts: compare
        # docs exactly, scores with tolerance (like the dismax duel)
        assert [d for d, _ in got] == [d for d, _ in exp], f"[blended {terms}]"
        for (_, gs), (_, es) in zip(got, exp):
            assert abs(gs - es) <= 1e-6 * max(1.0, abs(es))


# ---------------------------------------------------------------------------
# Sloppy phrase (B13): slop=0 == exact phrase; engine == oracle at slop>0
# ---------------------------------------------------------------------------

SLOPPY_CASES = [
    ("apache software", 0),
    ("apache software", 2),
    ("apache foundation", 2),   # one-apart in the license header
    ("software license", 4),
    ("def return", 1),
    ("license license", 3),     # repeating term
    ("the license the", 4),     # repeating term, 3 slots
]


@pytest.mark.parametrize("phrase,slop", SLOPPY_CASES)
def test_sloppy_phrase_rank_identity(built_index, phrase, slop):
    _, oracle, searcher = built_index
    got = [
        (r["docID"], r["score"])
        for r in searcher.search_sloppy_phrase(phrase, slop=slop, k=10).collect()
    ]
    exp = oracle.search_sloppy(_terms(phrase), slop=slop, k=10)
    assert_rank_identical(exp, got, msg=f"[sloppy {phrase}~{slop}]")


def test_sloppy_zero_equals_exact(built_index):
    _, _, searcher = built_index
    exact = [
        (r["docID"], r["score"])
        for r in searcher.search_phrase("apache software foundation", k=10).collect()
    ]
    sloppy0 = [
        (r["docID"], r["score"])
        for r in searcher.search_sloppy_phrase("apache software foundation", slop=0, k=10).collect()
    ]
    assert exact == sloppy0


def test_sloppy_repeating_terms_crafted(spark, tmp_path):
    """Repeated phrase terms get one pointer list per phrase position
    (previously NotImplementedError); engine == oracle on a corpus built
    to exercise real repeat windows."""
    from lucene_spark.index.builder import build_index
    from lucene_spark.oracle import OracleIndex
    from lucene_spark.search.engine import IndexSearcher

    contents = [
        "x y x z w",
        "x q q x",
        "y x x y x",
        "nothing relevant here",
        "x y z x y x tail",
        "x x x",
    ]
    rows = [
        ("r", f"p{i:03d}", "c", "py", c) for i, c in enumerate(contents)
    ]
    docs = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    out = str(tmp_path / "rep_idx")
    build_index(spark, docs, out, partitions=2)
    s = IndexSearcher(spark, out)
    oracle = OracleIndex(contents)
    for phrase, slop in [("x y x", 0), ("x y x", 2), ("x x", 1), ("x y x", 4)]:
        got = [
            (r["docID"], r["score"])
            for r in s.search_sloppy_phrase(phrase, slop=slop, k=10).collect()
        ]
        exp = oracle.search_sloppy(phrase.split(), slop=slop, k=10)
        assert_rank_identical(exp, got, msg=f"[repeat sloppy {phrase}~{slop}]")
        if slop >= 2 and phrase == "x y x":
            assert got, "expected real repeat-window matches"


MULTI_PHRASE_CASES = [
    [["apache"], ["software", "license"]],
    [["def", "var0"], ["return"]],
    [["apache", "the"], ["software"], ["foundation"]],
    [["zzznotaterm", "apache"], ["software"]],  # one dead alternative
]


@pytest.mark.parametrize("alts", MULTI_PHRASE_CASES)
def test_multi_phrase_rank_identity(built_index, alts):
    """MultiPhraseQuery (B14): per-slot alternatives, union positions,
    summed idf — engine float32 vs numpy oracle."""
    _, oracle, searcher = built_index
    got = [
        (r["docID"], r["score"])
        for r in searcher.search_multi_phrase(alts, k=10).collect()
    ]
    exp = oracle.search_multi_phrase(alts, k=10)
    assert_rank_identical(exp, got, msg=f"[multiphrase {alts}]")


def test_multi_phrase_single_alternatives_equals_phrase(built_index):
    _, _, searcher = built_index
    mp = [
        (r["docID"], r["score"])
        for r in searcher.search_multi_phrase(
            [["apache"], ["software"], ["foundation"]], k=10
        ).collect()
    ]
    ph = [
        (r["docID"], r["score"])
        for r in searcher.search_phrase("apache software foundation", k=10).collect()
    ]
    assert mp == ph


INTERVAL_CASES = [
    (["apache", "foundation"], 2, True),
    (["apache", "foundation"], 0, True),
    (["foundation", "apache"], 3, False),
    (["license", "software", "apache"], 6, True),
    (["license", "software"], 10, False),
]


@pytest.mark.parametrize("terms,gaps,ordered", INTERVAL_CASES)
def test_interval_counts_match_oracle(built_index, terms, gaps, ordered):
    """Interval queries (B14): minimal-interval counts, ordered and
    unordered, engine vectorized matcher vs oracle per-doc loops."""
    _, oracle, searcher = built_index
    got = {
        (r["docID"], r["n_intervals"])
        for r in searcher.search_intervals(
            terms, max_gaps=gaps, ordered=ordered, k=1000
        ).collect()
    }
    exp_all = oracle.interval_counts(terms, max_gaps=gaps, ordered=ordered)
    exp = {(int(oracle.doc_ids[r]), int(c)) for r, c in exp_all.items()}
    assert got == exp, f"[intervals {terms} gaps={gaps} ordered={ordered}]"


@pytest.mark.parametrize(
    "terms,tl,wt",
    [
        (["license", "apache"], 8, 2.0),
        (["def", "return"], 4, 3.0),
        (["license"], 8, 2.0),
        (["zzznotaterm", "license"], 8, 2.0),
    ],
)
def test_combined_field_rank_identity(built_index, terms, tl, wt):
    """CombinedFieldQuery / BM25F over title/body positional slices:
    engine float32 vs numpy oracle."""
    _, oracle, searcher = built_index
    got = [
        (r["docID"], r["score"])
        for r in searcher.search_combined_field(
            terms, k=10, title_len=tl, title_weight=wt
        ).collect()
    ]
    exp = oracle.search_combined_field(terms, k=10, title_len=tl, title_weight=wt)
    assert_rank_identical(exp, got, msg=f"[combined {terms} tl={tl}]")


@pytest.mark.parametrize(
    "terms,gaps,inner",
    [
        (["apache", "foundation"], 2, "software"),
        (["license", "apache"], 8, "the"),
        (["apache", "foundation"], 2, "zzznotaterm"),
    ],
)
def test_interval_containing_match_oracle(built_index, terms, gaps, inner):
    """Intervals.containing: only minimal intervals holding the inner
    term count."""
    _, oracle, searcher = built_index
    got = {
        (r["docID"], r["n_intervals"])
        for r in searcher.search_intervals(
            terms, max_gaps=gaps, ordered=True, k=1000, containing=inner
        ).collect()
    }
    exp_all = oracle.interval_counts(
        terms, max_gaps=gaps, ordered=True, containing=inner
    )
    exp = {(int(oracle.doc_ids[r]), int(c)) for r, c in exp_all.items()}
    assert got == exp, f"[containing {terms} in={inner}]"
    if inner == "software":
        assert got, "expected real containing matches"


def test_sloppy_monotone_in_slop(built_index):
    _, oracle, _ = built_index
    f0 = oracle.sloppy_freqs(["apache", "software"], 0)
    f2 = oracle.sloppy_freqs(["apache", "software"], 2)
    assert set(f0) <= set(f2)
    assert all(f2[r] >= f0[r] for r in f0)


def test_regex_prefix_alternation_no_pushdown():
    """A pattern with a top-level '|' has NO mandatory literal prefix:
    'foo|bar' matches 'bar...', so pushing startswith('foo') silently
    drops the other branch (r4 ADVICE high). Lucene gets this right via
    CompiledAutomaton.commonPrefix; we disable pushdown on any '|'."""
    from lucene_spark.search.engine import IndexSearcher

    f = IndexSearcher._regex_literal_prefix
    assert f("foo|bar") == ""
    assert f("foo(a|b)") == ""  # group alternation: 'foo' IS mandatory,
    # but we stay conservative (correct, just no pushdown)
    assert f("getx[0-9]+") == "getx"
    assert f("lit") == "lit"


def test_regexp_terms_alternation(built_index):
    """Both alternation branches must survive the dictionary scan."""
    _, _, searcher = built_index
    got = {r["term"] for r in searcher.regexp_terms("license|apache").collect()}
    assert got == {"license", "apache"}


@pytest.mark.parametrize(
    "kw,fterm",
    [
        ({"not_containing": "software"}, "software"),
        ({"not_containing": "zzznotaterm"}, None),
        ({"before": "software"}, "software"),
        ({"after": "the"}, "the"),
        ({"before": "foundation", "after": "license"}, None),
    ],
)
def test_interval_filters_match_oracle(built_index, kw, fterm):
    """Intervals.notContaining / before / after (queries/intervals/
    Intervals.java): single-term interval filters over the minimal
    ordered source intervals, engine vectorized matcher vs oracle
    per-doc loops. An absent notContaining subtrahend subtracts
    nothing."""
    _, oracle, searcher = built_index
    terms, gaps = ["apache", "foundation"], 2
    got = {
        (r["docID"], r["n_intervals"])
        for r in searcher.search_intervals(
            terms, max_gaps=gaps, ordered=True, k=1000, **kw
        ).collect()
    }
    exp_all = oracle.interval_counts(terms, max_gaps=gaps, ordered=True, **kw)
    exp = {(int(oracle.doc_ids[r]), int(c)) for r, c in exp_all.items()}
    assert got == exp, f"[interval filters {kw}]"


def test_interval_containing_partition(built_index):
    """On docs holding the filter term, containing + notContaining
    partition the unfiltered minimal intervals."""
    _, oracle, _ = built_index
    terms, gaps, t = ["apache", "foundation"], 2, "software"
    base = oracle.interval_counts(terms, max_gaps=gaps)
    cont = oracle.interval_counts(terms, max_gaps=gaps, containing=t)
    ncon = oracle.interval_counts(terms, max_gaps=gaps, not_containing=t)
    t_rows = set(oracle.postings[t][0].tolist())
    assert cont, "expected containing matches"
    for r, n in base.items():
        if r in t_rows:
            assert cont.get(r, 0) + ncon.get(r, 0) == n


def test_interval_nc_absent_is_noop(built_index):
    _, oracle, searcher = built_index
    terms, gaps = ["apache", "foundation"], 2
    base = {
        (r["docID"], r["n_intervals"])
        for r in searcher.search_intervals(
            terms, max_gaps=gaps, k=1000
        ).collect()
    }
    nc = {
        (r["docID"], r["n_intervals"])
        for r in searcher.search_intervals(
            terms, max_gaps=gaps, k=1000, not_containing="zzznotaterm"
        ).collect()
    }
    assert base == nc and base
