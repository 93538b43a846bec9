"""The one postings reader, IndexSearcher.read_postings, against postings
derived from the numpy oracle: every flag combination, read with 7-row
Arrow batches (the conf is restored afterwards), under no deletes,
broadcast tombstones and the anti-join tombstone mode. Plus the plan
shape of multi-term span clauses: one postings scan per clause at any
expansion width."""

import itertools
import os
import shutil
from collections import Counter

import numpy as np
import pytest

from lucene_spark.analysis.standard import analyze_with_offsets
from lucene_spark.analysis.whitespace import split_payload, whitespace_tokens
from lucene_spark.corpus import generate_corpus
from lucene_spark.index.builder import build_index
from lucene_spark.index.deletes import delete_by_keys
from lucene_spark.oracle import OracleIndex
from lucene_spark.search.engine import IndexSearcher
from lucene_spark.util.smallfloat import int_to_byte4

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
N_DOCS = 400
MODES = ("none", "broadcast", "antijoin")


def _pay_content(row: int, content: str) -> str:
    """The fixture text with a delimited integer payload on every token."""
    return " ".join(
        f"{t}|{(row * 7 + j) % 13}" for j, t in enumerate(whitespace_tokens(content))
    )


def _searchers(spark, out: str, deleted: list[int], docs) -> dict:
    """One searcher per tombstone mode: the untouched index, and a copy
    with ``deleted`` tombstoned read in broadcast and anti-join mode."""
    copy = out + "_deleted"
    shutil.copytree(out, copy)
    keys = docs.iloc[deleted][["repo", "path"]].itertuples(index=False)
    assert delete_by_keys(spark, copy, [tuple(k) for k in keys]) == len(deleted)
    bc = IndexSearcher(spark, copy)
    assert bc._deleted.size == len(deleted) and bc._tombstones is None
    aj = IndexSearcher(spark, copy)
    aj.ANTIJOIN_DELETES_THRESHOLD = 0
    assert aj.reload_deletes() == len(deleted)
    assert aj._tombstones is not None and aj._deleted.size == 0
    return {"none": IndexSearcher(spark, out), "broadcast": bc, "antijoin": aj}


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    """(standard-analyzer index with offsets, whitespace index with
    payloads), each with its expected postings and per-mode searchers."""
    docs = (
        generate_corpus(N_DOCS)
        .sort_values(["repo", "path", "commit"])
        .reset_index(drop=True)
    )
    root = tmp_path_factory.mktemp("read_postings")
    deleted = list(range(3, N_DOCS, 9))

    out_a = str(root / "offsets")
    build_index(spark, spark.createDataFrame(docs), out_a, partitions=4,
                store_offsets=True)
    oracle = OracleIndex(docs["content"].tolist())
    offs = [analyze_with_offsets(c)[1:] for c in docs["content"]]
    exp_a = {}
    for term, (rows, tfs, pos) in oracle.postings.items():
        for row, tf in zip(rows.tolist(), tfs.tolist()):
            p = pos[row].tolist()
            exp_a[(row, term)] = {
                "tf": tf, "norm": int(oracle.norms[row]), "positions": p,
                "start_offsets": [offs[row][0][i] for i in p],
                "end_offsets": [offs[row][1][i] for i in p],
            }
    for term, (rows, _, _) in oracle.postings.items():
        _, scores = oracle._term_scores(term)
        for row, sc in zip(rows.tolist(), scores.tolist()):
            exp_a[(row, term)]["score"] = sc

    pay_docs = docs.assign(
        content=[_pay_content(i, c) for i, c in enumerate(docs["content"])]
    )
    out_b = str(root / "payloads")
    build_index(spark, spark.createDataFrame(pay_docs), out_b, partitions=4,
                tokenizer="whitespace", store_payloads=True)
    exp_b = {}
    for row, content in enumerate(pay_docs["content"]):
        toks = whitespace_tokens(content)
        for j, tok in enumerate(toks):
            term, pay = split_payload(tok)
            e = exp_b.setdefault((row, term), {
                "tf": 0, "norm": int(int_to_byte4(np.array([len(toks)]))[0]),
                "positions": [], "payloads": [],
            })
            e["tf"] += 1
            e["positions"].append(j)
            e["payloads"].append(pay)

    before = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, "7")
    try:
        yield {
            "a": (_searchers(spark, out_a, deleted, docs), exp_a),
            "b": (_searchers(spark, out_b, deleted, pay_docs), exp_b),
            "deleted": set(deleted),
        }
    finally:
        spark.conf.set(BATCH_CONF, before)


def _terms(exp: dict) -> list[str]:
    """A fifth of the vocabulary (rare and common terms, several blocks
    per Arrow batch) plus a term the index does not hold."""
    return sorted({t for _, t in exp})[::5] + ["zz_not_a_term"]


def _check(searcher, exp, deleted, terms, flags):
    weights = None
    if flags.pop("scores", False):
        stats = searcher.term_stats(terms)
        weights = {t: float(searcher.scorer.term_weight(s.df)) for t, s in stats.items()}
    df = searcher.read_postings(terms, weights=weights, **flags)
    # scored reads carry no term column: no score consumer reads it
    key_cols = ["docID"] if weights else ["docID", "term"]
    cols = key_cols + ["tf"]
    cols += ["norm"] if flags.get("norms") else []
    cols += ["score"] if weights else []
    cols += ["positions"] if flags.get("positions") else []
    cols += ["start_offsets", "end_offsets"] if flags.get("offsets") else []
    cols += ["payloads"] if flags.get("payloads") else []
    assert df.columns == cols
    # a multiset of rows, so a duplicated posting fails too
    got = Counter(_row(r) for r in df.toPandas().itertuples(index=False))
    want_terms = set(terms)
    want = Counter(
        _row(key[: len(key_cols)] + tuple(e[c] for c in cols[len(key_cols):]))
        for key, e in exp.items()
        if key[1] in want_terms and key[0] not in deleted
    )
    assert got == want


def _row(values) -> tuple:
    """A hashable row of plain Python values (arrays become tuples)."""
    return tuple(
        tuple(int(x) for x in v) if isinstance(v, (list, tuple, np.ndarray))
        else v.item() if isinstance(v, np.generic) else v
        for v in values
    )


FLAGS_A = [
    dict(zip(("positions", "offsets", "norms", "scores"), bits))
    for bits in itertools.product((False, True), repeat=4)
]
FLAGS_B = [
    dict(zip(("positions", "payloads", "norms"), bits))
    for bits in itertools.product((False, True), repeat=3)
]


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize(
    "flags", FLAGS_A, ids=lambda f: "-".join(k for k, v in f.items() if v) or "freqs"
)
def test_offsets_index_reader(indexes, mode, flags):
    searchers, exp = indexes["a"]
    deleted = indexes["deleted"] if mode != "none" else set()
    _check(searchers[mode], exp, deleted, _terms(exp), dict(flags))


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize(
    "flags", FLAGS_B, ids=lambda f: "-".join(k for k, v in f.items() if v) or "freqs"
)
def test_payloads_index_reader(indexes, mode, flags):
    searchers, exp = indexes["b"]
    deleted = indexes["deleted"] if mode != "none" else set()
    _check(searchers[mode], exp, deleted, _terms(exp), dict(flags))


def test_every_term_and_batch_conf(spark, indexes):
    """terms=None reads the whole index; the fixture's batch size holds
    while the reader runs."""
    assert spark.conf.get(BATCH_CONF) == "7"
    searchers, exp = indexes["a"]
    got = searchers["broadcast"].read_postings(None).count()
    assert got == sum(1 for d, _ in exp if d not in indexes["deleted"])


# -- plan shape of multi-term span clauses ---------------------------------


def _postings_scans(df) -> int:
    """Postings scans in the executed plan of ``df`` (after its action),
    walking through adaptive query stages."""
    todo = [df._jdf.queryExecution().executedPlan()]
    n = 0
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "FileSourceScanExec" and os.sep + "postings" in node.toString():
            n += 1
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    return n


@pytest.mark.parametrize(
    "prefix,width", [("getvalue0", 1), ("getvalue10", 11), ("getval", 491)]
)
def test_span_clause_one_scan_at_any_width(built_index, prefix, width):
    from lucene_spark.search.complexphrase import search_complex_phrase

    _, _, s = built_index
    assert len(s.expand_terms(prefix=prefix, top_terms=True)) == width
    # the wildcard alone: one SpanOr clause, one postings scan
    alone = search_complex_phrase(s, f"{prefix}*", k=10)
    alone.collect()
    assert _postings_scans(alone) == 1
    # wildcard + term: one postings scan per clause, whatever the width
    for df in (
        search_complex_phrase(s, f"static {prefix}*", slop=2, k=10),
        s.search_span_near([f"{prefix}*", "return"], slop=3, k=10),
    ):
        df.collect()
        assert _postings_scans(df) == 2
