"""Checkpoint-resume contract: a build killed mid-way and resumed must
produce exactly the index a one-shot build produces (Lucene's commit-point
recovery guarantee, index/IndexWriter.java:3601 two-phase commit)."""

import os

import pytest
from pyspark.sql import functions as F

from lucene_spark.corpus import corpus_spark_df
from lucene_spark.index.builder import build_index
from lucene_spark.index.resumable import build_index_resumable

N_DOCS = 400


def _postings_fingerprint(spark, idx_dir):
    df = spark.read.parquet(os.path.join(idx_dir, "postings"))
    return (
        df.select(
            F.sum(F.crc32(F.col("docs_vb"))).alias("d"),
            F.sum(F.crc32(F.col("tfs_vb"))).alias("t"),
            F.sum(F.crc32(F.col("norms_b"))).alias("n"),
            F.sum(F.crc32(F.col("pos_vb"))).alias("p"),
            F.sum("ndocs").alias("nd"),
            F.count("*").alias("rows"),
        ).collect()[0]
    )


def _docmap_fingerprint(spark, idx_dir):
    df = spark.read.parquet(os.path.join(idx_dir, "docmap"))
    return (
        df.select(
            F.sum(F.col("docID") * F.col("dl")).alias("iddl"),
            F.sum(F.crc32(F.col("content_sha256"))).alias("sha"),
            F.count("*").alias("rows"),
        ).collect()[0]
    )


@pytest.fixture(scope="module")
def oneshot(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("idx") / "oneshot")
    docs = corpus_spark_df(spark, N_DOCS, partitions=8)
    build_index(spark, docs, out, partitions=8)
    return out


def test_resume_after_crash_identical(spark, tmp_path, oneshot):
    out = str(tmp_path / "resumable")
    docs = corpus_spark_df(spark, N_DOCS, partitions=8)
    # crash after the first segment completes
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index_resumable(
            spark, docs, out, num_segments=4, partitions=4, fail_after_segment=0
        )
    assert os.path.exists(os.path.join(out, "lineage", "seg_0.json"))
    assert not os.path.exists(os.path.join(out, "manifest.json"))

    manifest = build_index_resumable(spark, docs, out, num_segments=4, partitions=4)
    assert manifest["resumed"] is True
    assert 0 in manifest["segments_resumed"]
    assert manifest["doc_count"] == N_DOCS

    # identical content to the one-shot build (docIDs, postings, norms)
    assert _postings_fingerprint(spark, out) == _postings_fingerprint(spark, oneshot)
    assert _docmap_fingerprint(spark, out) == _docmap_fingerprint(spark, oneshot)


def test_resumable_matches_oneshot_stats(spark, tmp_path, oneshot):
    import json

    out = str(tmp_path / "clean")
    docs = corpus_spark_df(spark, N_DOCS, partitions=8)
    manifest = build_index_resumable(spark, docs, out, num_segments=3, partitions=4)
    with open(os.path.join(oneshot, "manifest.json")) as f:
        ref = json.load(f)
    for key in ("doc_count", "sum_total_term_freq", "sum_doc_freq", "distinct_terms"):
        assert manifest[key] == ref[key], key
    # per-segment lineage metrics exist and cover the doc space
    lin_dir = os.path.join(out, "lineage")
    recs = [json.load(open(os.path.join(lin_dir, p))) for p in sorted(os.listdir(lin_dir))]
    assert sum(r["num_docs"] for r in recs) == N_DOCS
    assert all(r["status"] == "complete" and "docs_per_sec" in r for r in recs)


def test_exact_placement_labels(spark):
    """_placement_labels: pmod(hash(label), n) == target partition for
    every n we use, so range ids map 1:1 onto partitions."""
    from pyspark.sql import functions as F

    from lucene_spark.index.builder import _placement_labels

    for n in (4, 8, 32):
        labels = _placement_labels(spark, n)
        assert len(set(labels)) == n
        rows = (
            spark.createDataFrame([(p, l) for p, l in enumerate(labels)], "p int, l int")
            .select("p", F.pmod(F.hash(F.col("l").cast("int")), F.lit(n)).alias("h"))
            .collect()
        )
        assert all(r["p"] == r["h"] for r in rows)


def test_salted_and_multiflush_build_identical(spark, tmp_path, oneshot):
    """Force the scale paths — hot-term salting (tiny df threshold) and
    multiple run flushes per partition (tiny flush_docs) — and require a
    bit-identical queryable index vs the default build. Postings blocks
    differ physically (salt groups split block runs), so compare the
    DECODED posting lists and query results instead."""
    from lucene_spark.search.engine import IndexSearcher

    out = str(tmp_path / "salted")
    docs = corpus_spark_df(spark, N_DOCS, partitions=8)
    manifest = build_index(
        spark, docs, out, partitions=8,
        hot_df_threshold=50,      # most frequent terms become "hot"
        hot_salt_span=64,         # many salt groups per hot term
        flush_docs=64,            # many runs per partition
    )
    assert manifest["n_hot_terms"] > 0, "salting was not triggered"

    s_ref = IndexSearcher(spark, oneshot)
    s_alt = IndexSearcher(spark, out)

    ref_rows = {
        (r["doc_id"] if "doc_id" in r else r["docID"], r["term"], r["tf"])
        for r in s_ref.postings_tf().collect()
    }
    alt_rows = {
        (r["docID"], r["term"], r["tf"]) for r in s_alt.postings_tf().collect()
    }
    ref_rows = {(int(a), b, int(c)) for a, b, c in ref_rows}
    assert alt_rows == ref_rows

    for q, mode in [("license apache", "or"), ("def return", "and"), ("var0", "or")]:
        exp = [(r["docID"], r["score"]) for r in s_ref.search(q, k=10, mode=mode).collect()]
        got = [(r["docID"], r["score"]) for r in s_alt.search(q, k=10, mode=mode).collect()]
        assert exp == got, f"{q} {mode}"
        # pruned under both top-k plans: one-task (default bound) and
        # shuffle (bound 0, the block-max pruned search)
        for bound in (IndexSearcher.ONE_TASK_TOPK_MAX_DF, 0):
            s_alt.ONE_TASK_TOPK_MAX_DF = bound
            got_p = [(r["docID"], r["score"]) for r in s_alt.search(q, k=10, mode=mode, prune=True).collect()]
            assert exp == got_p, f"{q} {mode} pruned-on-salted bound={bound}"

    # doc-level invariants survive the salted/multiflush path
    assert manifest["doc_count"] == N_DOCS
    ph = [(r["docID"], r["score"]) for r in s_ref.search_phrase("apache software foundation", k=5).collect()]
    ph2 = [(r["docID"], r["score"]) for r in s_alt.search_phrase("apache software foundation", k=5).collect()]
    assert ph == ph2
