#!/usr/bin/env python
"""Headline benchmark for the lucene_spark engine.

Measures the two BASELINE.json metrics on local[$SPARK_GRAFT_CPUS]:
  1. index-build throughput (docs/sec) — distributed build over the
     deterministic synthetic source-code corpus (BASELINE.json input
     shape) AND over $SPARK_GRAFT_SF_DIR/documents.parquet;
  2. query latency — the headline query set (BM25 term/OR/AND with
     block-max pruning, phrase, prefix expansion, dedup, cosine top-k,
     text quality) over the sf index.

Prints ONE JSON line:
  {"metric": ..., "value": <total headline seconds>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., ...extras}

Scaling-efficiency evidence (N vs 4N parallelism) is produced by
scripts/scaling_bench.py, summarized in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
CORPUS_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "20000"))
BUILD_DIR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".build", "bench_idx"
)


def _sf_value(sf_dir: str) -> float:
    base = os.path.basename(os.path.normpath(sf_dir))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.0


def main() -> None:
    from lucene_spark import gate
    from lucene_spark.corpus import corpus_spark_df, key_sample
    from lucene_spark.index.builder import build_index
    from lucene_spark.session import get_spark

    spark = get_spark(CPUS, app_name="lucene_spark_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # SPARK_GRAFT_BENCH_SKIP_BUILD=1: query-suite-only mode for
    # alternating A/B runs (reuses the existing sf index; builds it only
    # if missing) — the full default run always rebuilds everything
    skip_build = bool(os.environ.get("SPARK_GRAFT_BENCH_SKIP_BUILD"))

    # -- 1. index-build throughput: synthetic source-code corpus ----------
    # (Reuters-21578-sized per the reference's benchmark/conf/indexing.alg)
    corpus_build_sec = float("nan")
    corpus_docs_per_sec = float("nan")
    manifest = {"sum_total_term_freq": 0}
    if not skip_build:
        corpus_dir = os.path.join(BUILD_DIR, "corpus")
        shutil.rmtree(corpus_dir, ignore_errors=True)
        docs = corpus_spark_df(spark, CORPUS_DOCS, partitions=CPUS)
        t0 = time.time()
        manifest = build_index(
            spark, docs, corpus_dir, store_positions=True,
            key_sample=key_sample(CORPUS_DOCS),
        )
        corpus_build_sec = time.time() - t0
        corpus_docs_per_sec = CORPUS_DOCS / corpus_build_sec

    # -- 2. sf documents index build + headline queries -------------------
    if not skip_build:
        sf_tag = os.path.basename(os.path.normpath(SF_DIR))
        shutil.rmtree(
            os.path.join(gate.BUILD_DIR, "gate_idx", sf_tag, "docs_df"),
            ignore_errors=True,
        )
    t0 = time.time()
    searcher = gate.cached_index(spark, SF_DIR)  # builds the index
    sf_build_sec = time.time() - t0
    sf_doc_count = searcher.manifest["doc_count"]

    headline = {
        "bm25_top10_term": gate.q_bm25_top10_term,
        "bm25_top10_or": gate.q_bm25_top10_or,
        "bm25_top10_and": gate.q_bm25_top10_and,
        "lucene_bm25_pruned": gate.q_lucene_bm25_top10,
        "phrase_top10": gate.q_phrase_top10,
        "prefix_df": gate.q_prefix_df,
        "top_cf_terms": gate.q_top_cf_terms,
        "term_postings_decode": gate.q_term_postings,
        "exact_dedup": gate.q_exact_dedup,
        "text_quality": gate.q_text_quality,
        "cosine_top10": gate.q_cosine_top10,
    }
    # registered after this file was first written; keep bench in sync with
    # the gate without hard failures if an entry is renamed
    for extra in (
        "multiphrase_top10",
        "interval_near_top10",
        "combined_field_top10",
        "minhash_near_dup",
        "dedup_components",
        "simhash",
        "lang_id",
        "doc_fingerprint",
        "emb_near_dup",
        "ann_ivf_top10",
        "bm25_msm2",
        "dismax_top10",
        "synonym_top10",
        "group_top2",
        "blended_top10",
        "interval_unordered_top10",
        "fuzzy_scored_top10",
        "parsed_sloppy_boost_top10",
        "bm25_explain",
        "mlt_top10",
        "suggest_prefix",
        "facet_ranges",
        "media_decode",
        "repetition_stats",
        "phrase_prefix_top10",
        "hybrid_top10",
        "dv_sort_top15",
        "syngraph_top10",
        "monitor_matches",
        "spell_top5",
        "facet_taxonomy",
        "geo_distance_top10",
        "geo_box_count",
        "knn_classify",
        "nb_classify",
        "function_score_top10",
        "block_join_top10",
        "join_top10",
        "drill_sideways",
        "span_first_top10",
        "span_not_top10",
        "span_near_top10",
        "span_near_un_top10",
        "span_or_top10",
        "span_containing_top10",
        "simple_query_top10",
        "phrase_wild_top10",
        "dup_span_stats",
        "dfr_top10",
        "ib_top10",
        "axiomatic_top10",
        "domain_mix",
        "common_terms_top10",
        "covering_top10",
        "lmdirichlet_top10",
        "lmjm_top10",
        "tfidf_top10",
        "dfi_top10",
        "feature_boost_top10",
        "dv_stats",
        "pii_scrub",
        "decontam_overlap",
        "freetext_suggest",
        "diversified_top10",
        "rescore_top10",
        "suggest_infix",
        "facet_assoc_sum",
        "geo_polygon_count",
        "domain_cap",
        "hash_sample_ids",
        "fuzzy_suggest",
        "lm_perplexity",
        "dedup_resolve",
        "word_breaks",
        "expr_rescore_top10",
        "complex_phrase_top10",
        "sampled_facets",
        "term_set",
        "expr_sort_top10",
        # highlight_top10 / stemmed_bm25_top10 / term_vector_doc /
        # mlt_vector_top10 / payload_sum_top10 / suffix_top10 /
        # multi_shard_top10 / shingle_bm25_top10 are gate-only: each
        # needs separately-built
        # indexes (offsets+vectors / stemmed / payloads / reversed /
        # shard pair); the headline bench measures the default
        # positions-only StandardAnalyzer configuration
    ):
        if extra in gate.QUERIES:
            headline[extra] = gate.QUERIES[extra]

    # best-of-2 per query: the host shows 2-3x run-to-run variance
    # (documented in CLAUDE.md); the first run additionally pays one-time
    # JIT/codegen warmup that would be attributed to whichever query
    # happens to run first
    queries: dict[str, float] = {}
    for name, fn in headline.items():
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            df = fn(spark, SF_DIR)
            n = df.count()  # forces full execution
            best = min(best, time.time() - t0)
            assert n >= 0
        queries[name] = round(best, 4)

    total = round(sum(queries.values()), 4)
    p50 = round(statistics.median(queries.values()), 4)

    def _du(path: str) -> int:
        t = 0
        for root, _, files in os.walk(path):
            for fn in files:
                t += os.path.getsize(os.path.join(root, fn))
        return t

    # text-index bytes only (the cached IVF vector index shares the dir
    # but is a different artifact measured by its own entry)
    idx_bytes = sum(
        _du(os.path.join(idx_dir, d))
        for d in ("postings", "docmap", "terms", "stats", "lineage")
        if os.path.isdir(os.path.join(idx_dir, d))
    )
    src_bytes = os.path.getsize(os.path.join(SF_DIR, "documents.parquet")) if os.path.isfile(os.path.join(SF_DIR, "documents.parquet")) else _du(os.path.join(SF_DIR, "documents.parquet"))

    out = {
        "metric": "headline query suite wall time (index prebuilt)",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": _sf_value(SF_DIR),
        "query_p50_sec": p50,
        "corpus_build_docs": CORPUS_DOCS,
        "corpus_build_sec": (
            None if skip_build else round(corpus_build_sec, 3)
        ),
        "corpus_build_docs_per_sec": (
            None if skip_build else round(corpus_docs_per_sec, 1)
        ),
        "corpus_tokens": manifest["sum_total_term_freq"],
        "sf_build_docs": sf_doc_count,
        "sf_build_sec": round(sf_build_sec, 3),
        "sf_build_docs_per_sec": round(sf_doc_count / sf_build_sec, 1),
        "index_bytes": idx_bytes,
        "source_parquet_bytes": src_bytes,
        "index_to_source_ratio": round(idx_bytes / max(1, src_bytes), 3),
        "cpus": CPUS,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
