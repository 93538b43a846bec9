import os
import shutil
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from lucene_spark.session import get_spark

    s = get_spark()  # local[SPARK_GRAFT_CPUS], else the affinity core count
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def built_index(spark, tmp_path_factory):
    """One shared index over the deterministic 400-doc corpus + the
    matching numpy oracle (same docID order)."""
    from lucene_spark.corpus import corpus_spark_df, generate_corpus
    from lucene_spark.index.builder import build_index
    from lucene_spark.oracle import OracleIndex
    from lucene_spark.search.engine import IndexSearcher

    n = int(os.environ.get("SPARK_GRAFT_TEST_DOCS", "400"))
    out = str(tmp_path_factory.mktemp("idx") / "index")
    docs = corpus_spark_df(spark, n, partitions=8)
    manifest = build_index(spark, docs, out, partitions=8)
    pdf = (
        generate_corpus(n)
        .sort_values(["repo", "path", "commit"])
        .reset_index(drop=True)
    )
    oracle = OracleIndex(pdf["content"].tolist())
    searcher = IndexSearcher(spark, out)
    yield manifest, oracle, searcher
    shutil.rmtree(out, ignore_errors=True)
