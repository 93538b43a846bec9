"""Incremental (NRT) indexing contract: a file-source stream indexed
batch-by-batch, then refreshed, must equal the one-shot batch index built
over the same documents — postings, docmap, stats, and query results
(DirectoryReader.openIfChanged equivalence)."""

import os

import pytest
from pyspark.sql import functions as F

from lucene_spark.corpus import generate_corpus
from lucene_spark.index.builder import build_index
from lucene_spark.search.engine import IndexSearcher
from lucene_spark.streaming.incremental import refresh, start_indexing_stream

# ONE_TASK_TOPK_MAX_DF per BM25 top-k plan of search(): the one-task plan
# (default) and the shuffle plan (0), where prune=True reaches the
# block-max pruned search; the pruning tests run under both
PLAN_BOUNDS = (IndexSearcher.ONE_TASK_TOPK_MAX_DF, 0)

N_DOCS = 300
N_CHUNKS = 3


@pytest.fixture(scope="module")
def chunks_dir(spark, tmp_path_factory):
    """Corpus split into chunk files of contiguous KEY ranges in order, so
    streaming arrival-order docIDs == the batch builder's sort-order
    docIDs and the two indexes are comparable bit-for-bit."""
    d = tmp_path_factory.mktemp("stream_chunks")
    pdf = generate_corpus(N_DOCS)
    pdf = pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    per = (N_DOCS + N_CHUNKS - 1) // N_CHUNKS
    for c in range(N_CHUNKS):
        part = pdf.iloc[c * per:(c + 1) * per]
        spark.createDataFrame(part).coalesce(1).write.mode("overwrite").parquet(
            str(d / f"chunk{c:02d}.parquet")
        )
    return str(d)


def test_incremental_equals_batch(spark, tmp_path, chunks_dir):
    out = str(tmp_path / "nrt_idx")
    stream = (
        spark.readStream.schema(
            "repo string, path string, commit string, lang string, content string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks_dir + "/*/")
    )
    q = start_indexing_stream(spark, stream, out, partitions=4)
    q.awaitTermination(300)
    manifest = refresh(spark, out, partitions=4)
    assert manifest["doc_count"] == N_DOCS
    assert manifest["num_segments"] >= 1

    ref = str(tmp_path / "batch_idx")
    docs = spark.createDataFrame(generate_corpus(N_DOCS))
    build_index(spark, docs, ref, partitions=4)

    def fp(idx):
        df = spark.read.parquet(os.path.join(idx, "postings"))
        return df.select(
            F.sum(F.crc32("docs_vb")).alias("d"),
            F.sum(F.crc32("tfs_vb")).alias("t"),
            F.sum(F.crc32("pos_vb")).alias("p"),
            F.sum("ndocs").alias("n"),
            F.count("*").alias("r"),
        ).collect()[0]

    assert fp(out) == fp(ref)

    s_inc = IndexSearcher(spark, out)
    s_ref = IndexSearcher(spark, ref)
    for query, mode in [("return value table", "or"), ("value table", "and")]:
        got = [(r["docID"], r["score"]) for r in s_inc.search(query, k=10, mode=mode).collect()]
        exp = [(r["docID"], r["score"]) for r in s_ref.search(query, k=10, mode=mode).collect()]
        assert got == exp


def test_tiered_refresh_touches_only_new_segments(spark, tmp_path):
    """TieredMergePolicy analog: refresh after a small batch merges ONLY
    that batch's runs into a new postings generation — earlier
    generations' files are untouched (O(batch) refresh, not O(index)).
    Forced full compaction (segs_per_tier=1) then reproduces the batch
    index bit-for-bit."""
    from lucene_spark.streaming.incremental import (
        _atomic_json,
        _load_state,
        _state_path,
        write_segment,
    )

    out = str(tmp_path / "tier_idx")
    os.makedirs(out)
    n, n_chunks = 240, 4
    pdf = generate_corpus(n).sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    per = n // n_chunks

    def snapshot(gen):
        d = os.path.join(out, "postings", f"gen={gen}")
        files = {}
        for root, _, fns in os.walk(d):
            for fn in fns:
                p = os.path.join(root, fn)
                files[os.path.relpath(p, d)] = (os.path.getmtime(p), os.path.getsize(p))
        return files

    gen0_snap = None
    for c in range(n_chunks):
        part = pdf.iloc[c * per:(c + 1) * per]
        state = _load_state(out)
        seg = f"s{c}"
        nd = write_segment(
            spark, spark.createDataFrame(part), out, seg, state["next_doc"],
            partitions=2,
        )
        state["next_doc"] += nd
        state["segments"].append({"seg": seg, "num_docs": nd})
        _atomic_json(_state_path(out), state)
        m = refresh(spark, out, partitions=2)
        assert m["merged_new_segments"] == [seg]
        assert m["compacted_gens"] == 0  # 4 gens < segs_per_tier=8
        if c == 0:
            gen0_snap = snapshot(m["gens"][0])
        else:
            assert snapshot(sorted(m["gens"])[0]) == gen0_snap, (
                "first generation was rewritten by a later refresh"
            )
    assert m["num_gens"] == n_chunks

    # forced full compaction == one-shot batch build, bit for bit
    m2 = refresh(spark, out, partitions=2, segs_per_tier=1)
    assert m2["num_gens"] == 1 and m2["compacted_gens"] > 0

    ref = str(tmp_path / "tier_batch_idx")
    build_index(spark, spark.createDataFrame(generate_corpus(n)), ref, partitions=4)

    def fp(idx):
        df = spark.read.parquet(os.path.join(idx, "postings"))
        return df.select(
            F.sum(F.crc32("docs_vb")).alias("d"),
            F.sum(F.crc32("tfs_vb")).alias("t"),
            F.sum(F.crc32("pos_vb")).alias("p"),
            F.sum("ndocs").alias("n"),
            F.count("*").alias("r"),
        ).collect()[0]

    assert fp(out) == fp(ref)
    s_inc = IndexSearcher(spark, out)
    s_ref = IndexSearcher(spark, ref)
    for query, mode in [("return value table", "or"), ("value table", "and")]:
        got = [(r["docID"], r["score"]) for r in s_inc.search(query, k=10, mode=mode).collect()]
        exp = [(r["docID"], r["score"]) for r in s_ref.search(query, k=10, mode=mode).collect()]
        assert got == exp


def test_refresh_visibility_boundary(spark, tmp_path, chunks_dir):
    """Segments written after a refresh stay invisible until the next
    refresh (NRT visibility semantics)."""
    from lucene_spark.streaming.incremental import write_segment, _load_state, _state_path, _atomic_json

    out = str(tmp_path / "vis_idx")
    os.makedirs(out)
    pdf = generate_corpus(100).sort_values(["repo", "path", "commit"])
    first, second = pdf.iloc[:60], pdf.iloc[60:]

    n1 = write_segment(spark, spark.createDataFrame(first), out, "s0", 0, partitions=2)
    state = _load_state(out)
    state["next_doc"] = n1
    state["segments"].append({"seg": "s0", "num_docs": n1})
    _atomic_json(_state_path(out), state)
    m1 = refresh(spark, out, partitions=2)
    assert m1["doc_count"] == 60

    n2 = write_segment(spark, spark.createDataFrame(second), out, "s1", n1, partitions=2)
    # not yet refreshed: manifest still shows 60 docs
    s = IndexSearcher(spark, out)
    assert s.manifest["doc_count"] == 60

    state = _load_state(out)
    state["next_doc"] = n1 + n2
    state["segments"].append({"seg": "s1", "num_docs": n2})
    _atomic_json(_state_path(out), state)
    m2 = refresh(spark, out, partitions=2)
    assert m2["doc_count"] == 100


def test_pruned_search_on_multi_gen_index(spark, tmp_path):
    """Regression: on tiered incremental indexes block_seq restarts per
    postings generation, so the WAND bootstrap's candidate-block join must
    key on (gen, term, salt, block_seq) — joining without gen fans out,
    double-counts doc scores, inflates theta, and phase 2 then prunes
    blocks holding true top-k docs. prune=True must equal prune=False on
    a multi-gen index. Since r4 refresh() computes lb_key10, the k<=10
    OR cases take the fast path; the k=20 and AND cases still exercise
    the bootstrap join."""
    from lucene_spark.streaming.incremental import (
        _atomic_json,
        _load_state,
        _state_path,
        write_segment,
    )

    out = str(tmp_path / "mgen_idx")
    os.makedirs(out)
    n, n_chunks = 240, 3
    pdf = generate_corpus(n).sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    per = n // n_chunks
    for c in range(n_chunks):
        part = pdf.iloc[c * per:(c + 1) * per]
        state = _load_state(out)
        seg = f"s{c}"
        nd = write_segment(
            spark, spark.createDataFrame(part), out, seg, state["next_doc"],
            partitions=2,
        )
        state["next_doc"] += nd
        state["segments"].append({"seg": seg, "num_docs": nd})
        _atomic_json(_state_path(out), state)
        refresh(spark, out, partitions=2)

    s = IndexSearcher(spark, out)
    assert len(s.manifest["gens"]) == n_chunks  # genuinely multi-gen
    assert "gen" in s._postings.columns
    # The trigger shape: a term rare enough that its per-gen blocks all
    # carry < k docs (so >1 window row survives the cum<k candidate
    # filter, and without gen in the key those rows are duplicates),
    # queried single-term (slack=0, so the doubled theta can't hide
    # behind cross-term slack). Unfixed engine returned 0 rows here.
    rare = (
        s._terms.filter((F.col("df") >= 30) & (F.col("df") <= 45))
        .orderBy("term").limit(1).collect()[0]["term"]
    )
    for bound in PLAN_BOUNDS:
        s.ONE_TASK_TOPK_MAX_DF = bound
        for query, mode, k in [
            ([rare], "or", 20),
            ("return value table", "or", 10),
            ("return value", "or", 3),
            ("value table", "and", 10),
        ]:
            exp = [(r["docID"], r["score"]) for r in s.search(query, k=k, mode=mode).collect()]
            got = [(r["docID"], r["score"])
                   for r in s.search(query, k=k, mode=mode, prune=True).collect()]
            assert got == exp, f"pruned != unpruned for {query!r} mode={mode} k={k} bound={bound}"


def test_lb10_fast_path_on_refreshed_index(spark, tmp_path):
    """refresh() recomputes the lb_key10 threshold floor against
    refresh-time stats, so NRT indexes get the SINGLE-JOB pruned fast
    path: the floor is present in the terms table, pruned == unpruned
    for k<=10 OR-mode, and the pruned plan contains no bootstrap
    subtree (no Window = no phase-1 candidate job)."""
    from lucene_spark.streaming.incremental import (
        _atomic_json,
        _load_state,
        _state_path,
        write_segment,
    )

    out = str(tmp_path / "lb10_idx")
    os.makedirs(out)
    n, n_chunks = 240, 2
    pdf = generate_corpus(n).sort_values(["repo", "path", "commit"]).reset_index(drop=True)
    per = n // n_chunks
    for c in range(n_chunks):
        part = pdf.iloc[c * per:(c + 1) * per]
        state = _load_state(out)
        seg = f"s{c}"
        nd = write_segment(
            spark, spark.createDataFrame(part), out, seg, state["next_doc"],
            partitions=2,
        )
        state["next_doc"] += nd
        state["segments"].append({"seg": seg, "num_docs": nd})
        _atomic_json(_state_path(out), state)
        refresh(spark, out, partitions=2)

    s = IndexSearcher(spark, out)
    assert len(s.manifest["gens"]) == n_chunks
    stats = s.term_stats(["return", "value", "table"])
    assert any(
        st.lb_key10 is not None for st in stats.values()
    ), "refresh wrote no lb_key10 floors"

    for bound in PLAN_BOUNDS:
        s.ONE_TASK_TOPK_MAX_DF = bound
        for query in ["return value table", "return value", "table"]:
            exp = [(r["docID"], r["score"]) for r in s.search(query, k=10).collect()]
            pruned_df = s.search(query, k=10, prune=True)
            plan = pruned_df._jdf.queryExecution().toString()
            assert "Window" not in plan, (
                "pruned search on a refreshed index still bootstraps "
                f"(Window subtree present) for {query!r} bound={bound}"
            )
            got = [(r["docID"], r["score"]) for r in pruned_df.collect()]
            assert got == exp, f"fast-path pruned != unpruned for {query!r} bound={bound}"
