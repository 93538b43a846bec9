"""The postings merge on Spark: the 400-doc fixture built with tiny Arrow
batches (so (term, salt) groups straddle batch boundaries inside the
merge kernel) and a low hot-term threshold (so hot terms split into
salts > 0) must pass check_index, answer term/OR/AND queries
rank-identically to the numpy oracle, and merge in one shuffle with no
grouped-map Python UDF."""

import pyspark.sql.functions as F
import pytest

from lucene_spark.analysis import analyze
from lucene_spark.oracle import assert_rank_identical

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"

QUERIES = [
    ("license", "or"),
    ("def", "or"),
    ("return", "or"),
    ("def return", "or"),
    ("the license software", "or"),
    ("CONSTANT_0 import software foundation", "or"),
    ("apache license", "and"),
    ("var1 var2 var3", "and"),
    ("def return import", "and"),
]


def _sql_executions_after(spark, mark: int):
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    it = store.executionsList().iterator()
    while it.hasNext():
        e = it.next()
        if e.executionId() > mark:
            yield store, e


def _last_execution_id(spark) -> int:
    return max((e.executionId() for _, e in _sql_executions_after(spark, -1)), default=-1)


def _merge_plan_nodes(store, execution) -> tuple[list[str], list[str]]:
    """(every node name, node names outside broadcast subtrees) of the
    execution's final plan graph. A broadcast side reads the cached terms
    table, whose own plan (with its aggregate shuffle) is not run again."""
    graph = store.planGraph(execution.executionId())
    names, children, parents = {}, {}, set()
    it = graph.allNodes().iterator()
    while it.hasNext():
        n = it.next()
        names[n.id()] = n.name()
    it = graph.edges().iterator()
    while it.hasNext():
        e = it.next()
        children.setdefault(e.toId(), []).append(e.fromId())
        parents.add(e.fromId())
    todo = [i for i in names if i not in parents and i in children]
    walked = []
    while todo:
        i = todo.pop()
        walked.append(names[i])
        if names[i] not in ("BroadcastExchange", "InMemoryTableScan"):
            todo.extend(children.get(i, []))
    return list(names.values()), walked


@pytest.fixture(scope="module")
def small_batch_index(spark, tmp_path_factory):
    from lucene_spark.corpus import corpus_spark_df, generate_corpus
    from lucene_spark.index.builder import build_index
    from lucene_spark.oracle import OracleIndex
    from lucene_spark.search.engine import IndexSearcher

    out = str(tmp_path_factory.mktemp("small_batch") / "index")
    before = spark.conf.get(BATCH_CONF)
    spark.conf.set(BATCH_CONF, "7")
    try:
        mark = _last_execution_id(spark)
        manifest = build_index(
            spark,
            corpus_spark_df(spark, 400, partitions=8),
            out,
            partitions=8,
            hot_df_threshold=40,
            hot_salt_span=64,
        )
        merges = [
            (store, e)
            for store, e in _sql_executions_after(spark, mark)
            if "_merge_postings_kernel" in e.physicalPlanDescription()
        ]
    finally:
        spark.conf.set(BATCH_CONF, before)
    pdf = generate_corpus(400).sort_values(["repo", "path", "commit"])
    oracle = OracleIndex(pdf["content"].tolist())
    return out, manifest, (oracle, IndexSearcher(spark, out)), merges


def test_conf_restored(spark, small_batch_index):
    assert spark.conf.get(BATCH_CONF) != "7"


def test_salted_groups_occur_and_check_index_passes(spark, small_batch_index):
    from lucene_spark.index.checkindex import check_index

    out, manifest, _, _ = small_batch_index
    assert manifest["n_hot_terms"] > 0
    posts = spark.read.parquet(f"{out}/postings")
    assert posts.filter(F.col("salt") > 0).count() > 0
    report = check_index(spark, out, full=True)
    assert report["doc_count"] == 400


@pytest.mark.parametrize("q,mode", QUERIES)
def test_rank_identical_to_oracle(small_batch_index, q, mode):
    _, _, (oracle, searcher), _ = small_batch_index
    terms = [t for w in q.split() for t in analyze(w)]
    got = [(r["docID"], r["score"]) for r in searcher.search(q, k=10, mode=mode).collect()]
    assert_rank_identical(oracle.search(terms, k=10, mode=mode), got, msg=f"[{q} {mode}]")


def test_merge_is_one_shuffle_without_grouped_map(small_batch_index):
    _, _, _, merges = small_batch_index
    assert len(merges) == 1
    every, walked = _merge_plan_nodes(*merges[0])
    assert "FlatMapGroupsInPandas" not in every
    assert walked.count("MapInPandas") == 1
    assert walked.count("Exchange") == 1
