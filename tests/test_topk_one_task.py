"""The two BM25 top-k plans of IndexSearcher.search: the one-task plan
(summed df of the query terms at most ONE_TASK_TOPK_MAX_DF; the block
rows coalesced into one partition, so decode, score, per-doc sum and
top-k run in one task) and the shuffle plan (the bound set to 0).
Both must be rank-identical to the numpy oracle for term, OR and AND
queries, pruned and unpruned, at k = 1, 10 and 100, with and without
broadcast tombstones, read with 7-row Arrow batches (the conf is
restored afterwards); both must cut a tie at the k-th score by docID
ascending; the anti-join tombstone mode keeps answering; and the
one-task plan is one job and one stage with no exchange."""

import shutil

import pytest

from lucene_spark.analysis import analyze
from lucene_spark.corpus import generate_corpus
from lucene_spark.index.builder import build_index
from lucene_spark.index.deletes import delete_by_keys
from lucene_spark.oracle import OracleIndex, assert_rank_identical
from lucene_spark.search.engine import IndexSearcher

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
N_DOCS = 400
DEFAULT_BOUND = IndexSearcher.ONE_TASK_TOPK_MAX_DF
PLANS = {"one_task": DEFAULT_BOUND, "shuffle": 0}
QUERIES = [
    ("license", "or"),
    ("return", "and"),
    ("def return", "or"),
    ("the license software", "or"),
    ("var0 getValue0 CONSTANT_0", "or"),
    ("apache license", "and"),
    ("def return var1", "and"),
    # AND queries whose top 10 differs from the OR top 10
    ("CONSTANT_17 license", "and"),
    ("constant_12 return", "and"),
]


def _terms(q: str) -> list[str]:
    return [t for w in q.split() for t in analyze(w)]


def _hits(df) -> list[tuple[int, float]]:
    return [(r["docID"], r["score"]) for r in df.collect()]


@pytest.fixture(scope="module")
def searchers(spark, built_index, tmp_path_factory):
    """The shared 400-doc index untouched, and a copy with every 7th doc
    tombstoned (broadcast mode), read with 7-row Arrow batches."""
    _, oracle, s = built_index
    copy = str(tmp_path_factory.mktemp("topk_one_task") / "deleted")
    shutil.copytree(s.index_dir, copy)
    docs = (
        generate_corpus(N_DOCS)
        .sort_values(["repo", "path", "commit"])
        .reset_index(drop=True)
    )
    deleted = set(range(2, N_DOCS, 7))
    keys = docs.iloc[sorted(deleted)][["repo", "path"]].itertuples(index=False)
    assert delete_by_keys(spark, copy, [tuple(k) for k in keys]) == len(deleted)
    bc = IndexSearcher(spark, copy)
    assert bc._deleted.size == len(deleted) and bc._tombstones is None
    before = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, "7")
    try:
        yield {
            "none": (IndexSearcher(spark, s.index_dir), set()),
            "broadcast": (bc, deleted),
            "oracle": oracle,
            "copy": copy,
        }
    finally:
        spark.conf.set(BATCH_CONF, before)


def _expected(oracle, terms, k, mode, deleted):
    """Oracle top-k minus tombstoned docs: survivors keep their scores
    (statistics stay stale until a merge, as in Lucene)."""
    ranked = oracle.search(terms, k=oracle.doc_count, mode=mode)
    return [(d, sc) for d, sc in ranked if d not in deleted][:k]


@pytest.mark.parametrize("plan", PLANS)
@pytest.mark.parametrize("deletes", ["none", "broadcast"])
@pytest.mark.parametrize("q,mode", QUERIES)
def test_rank_identity_both_plans(searchers, plan, deletes, q, mode):
    s, deleted = searchers[deletes]
    s.ONE_TASK_TOPK_MAX_DF = PLANS[plan]
    terms = _terms(q)
    try:
        for k in (1, 10, 100):
            exp = _expected(searchers["oracle"], terms, k, mode, deleted)
            assert exp
            for prune in (False, True):
                got = _hits(s.search(q, k=k, mode=mode, prune=prune))
                assert_rank_identical(
                    exp, got, msg=f"[{plan} {deletes} {q} {mode} k={k} prune={prune}]"
                )
    finally:
        del s.ONE_TASK_TOPK_MAX_DF


@pytest.mark.parametrize("plan", PLANS)
def test_more_like_this_both_plans(searchers, plan):
    """more_like_this routes through the same plans: its top k is the
    OR query over the selected terms (tests/test_termvectors.py checks
    that more_like_this_doc equals it)."""
    s, _ = searchers["none"]
    s.ONE_TASK_TOPK_MAX_DF = PLANS[plan]
    seed = "license apache software foundation license apache def return def return"
    try:
        terms = s.mlt_terms(seed, min_doc_freq=1)
        assert len(terms) >= 2
        got = _hits(s.more_like_this(seed, k=10, min_doc_freq=1))
        exp = searchers["oracle"].search(terms, k=10, mode="or")
        assert_rank_identical(exp, got, msg=f"[mlt {plan}]")
    finally:
        del s.ONE_TASK_TOPK_MAX_DF


def test_and_with_an_absent_term_matches_nothing(searchers):
    """A MUST clause on an absent term matches nothing, also when a
    present term is repeated as often as the query has distinct terms."""
    s, _ = searchers["none"]
    q = ["apache", "apache", "zzznotaterm"]
    assert searchers["oracle"].search(q, k=10, mode="and") == []
    assert s.search(q, k=10, mode="and", pre_analyzed=True).collect() == []


def test_ties_cut_by_docid_under_both_plans(spark, tmp_path):
    """More than k docs share the k-th score: both plans keep the
    lowest docIDs of the tie, exactly as the oracle does."""
    rows, contents = [], []
    for i in range(60):
        if i % 10 == 0:
            text = "zeta zeta zeta omega"  # 6 docs above the tie
        elif i % 2:
            text = "zeta omega alpha beta"  # 27 identical docs: the tie
        else:
            text = "zeta " + "filler word " * (3 + i % 5)
        rows.append(("r", f"p{i:03d}", "c0", "py", text))
        contents.append(text)
    out = str(tmp_path / "ties")
    build_index(
        spark,
        spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        ),
        out,
        partitions=3,
    )
    oracle = OracleIndex(contents)  # paths sort in row order: docID == i
    s = IndexSearcher(spark, out)
    for q, mode in [("zeta", "or"), ("zeta omega", "or"), ("zeta omega", "and")]:
        for k in (1, 7, 10, 20):
            exp = oracle.search(_terms(q), k=k, mode=mode)
            scores = [sc for _, sc in oracle.search(_terms(q), k=60, mode=mode)]
            if k == 10:
                assert scores.count(exp[-1][1]) > k, "fixture lost its tie"
            results = {}
            for plan, bound in PLANS.items():
                s.ONE_TASK_TOPK_MAX_DF = bound
                results[plan] = _hits(s.search(q, k=k, mode=mode))
                assert_rank_identical(exp, results[plan], msg=f"[tie {plan} {q} {k}]")
            assert [d for d, _ in results["one_task"]] == [
                d for d, _ in results["shuffle"]
            ]


def test_antijoin_mode_keeps_the_shuffle_plan(spark, searchers):
    """Above ANTIJOIN_DELETES_THRESHOLD the tombstones never reach a
    kernel, so search() keeps the shuffle plan and its anti-join, and
    answers exactly like the broadcast mode."""
    aj = IndexSearcher(spark, searchers["copy"])
    aj.ANTIJOIN_DELETES_THRESHOLD = 0
    aj.reload_deletes()
    assert aj._tombstones is not None and aj._deleted.size == 0
    _, deleted = searchers["broadcast"]
    for q, mode in QUERIES:
        for prune in (False, True):
            df = aj.search(q, k=10, mode=mode, prune=prune)
            got = _hits(df)
            exp = _expected(searchers["oracle"], _terms(q), 10, mode, deleted)
            assert_rank_identical(exp, got, msg=f"[antijoin {q} {mode} {prune}]")
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "LeftAnti" in plan, f"no anti-join for {q}"


# -- plan shape --------------------------------------------------------------


def _plan_nodes(df) -> list[str]:
    """Class names of the executed plan's nodes of ``df`` (after its
    action), walking through adaptive query stages."""
    todo = [df._jdf.queryExecution().executedPlan()]
    out = []
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        out.append(cls)
        it = node.children().iterator()
        while it.hasNext():
            todo.append(it.next())
    return out


def _jobs_and_stages(spark, action) -> tuple[int, int]:
    """(jobs, stages) the status store records while ``action`` runs,
    counted by id: the store evicts old entries past its retention cap,
    so its list sizes do not count new ones."""
    sc = spark.sparkContext._jsc.sc()
    jvm = spark._jvm
    empty = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def newest_first():
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        stages = store.stageList(None, False, False, empty, jvm.java.util.ArrayList())
        return (store.jobsList(None), "jobId"), (stages, "stageId")

    def since(seq, attr, mark):
        n, it = 0, seq.iterator()
        while it.hasNext() and getattr(it.next(), attr)() > mark:
            n += 1
        return n

    marks = [
        getattr(seq.head(), attr)() if seq.nonEmpty() else -1
        for seq, attr in newest_first()
    ]
    action()
    jobs, stages = (
        since(seq, attr, m) for (seq, attr), m in zip(newest_first(), marks)
    )
    return jobs, stages


def _exchanges(nodes: list[str]) -> int:
    return sum(n.endswith("ExchangeExec") for n in nodes)


@pytest.mark.parametrize("q,mode", [("license", "or"), ("def return", "or"),
                                    ("apache license", "and")])
@pytest.mark.parametrize("prune", [False, True])
def test_one_task_plan_shape(spark, searchers, q, mode, prune):
    """Under the bound (term stats cached): one job, one stage, one
    mapInPandas and no exchange. At bound 0 a multi-term query gets the
    shuffle plan, and a pruned query on an index with deletes
    bootstraps theta with exchanges; only an unpruned single term runs
    without one."""
    s, _ = searchers["broadcast"]
    assert sum(st.df for st in s.term_stats(_terms(q)).values()) <= DEFAULT_BOUND
    df = s.search(q, k=10, mode=mode, prune=prune)
    assert _jobs_and_stages(spark, df.collect) == (1, 1)
    nodes = _plan_nodes(df)
    assert _exchanges(nodes) == 0 and nodes.count("MapInPandasExec") == 1

    s.ONE_TASK_TOPK_MAX_DF = 0
    try:
        df = s.search(q, k=10, mode=mode, prune=prune)
        df.collect()
        assert (_exchanges(_plan_nodes(df)) > 0) == (len(_terms(q)) > 1 or prune)
    finally:
        del s.ONE_TASK_TOPK_MAX_DF


@pytest.mark.parametrize("deletes", ["none", "broadcast"])
def test_single_term_shuffle_plan_has_no_aggregate(spark, searchers, deletes):
    """Above the bound a single-term top-k needs no groupBy(docID): the
    posting score is the doc score, so the plan is the scan, the kernel
    and a TakeOrdered — one job, no exchange, no aggregate."""
    s, _ = searchers[deletes]
    s.ONE_TASK_TOPK_MAX_DF = 0
    try:
        s.term_stats(["license"])
        df = s.search("license", k=10)
        assert _jobs_and_stages(spark, df.collect)[0] == 1
        nodes = _plan_nodes(df)
        assert _exchanges(nodes) == 0 and "HashAggregateExec" not in nodes
        assert "TakeOrderedAndProjectExec" in nodes
    finally:
        del s.ONE_TASK_TOPK_MAX_DF
