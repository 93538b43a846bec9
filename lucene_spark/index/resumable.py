"""Checkpoint-resumable index build with per-segment lineage + metrics.

Lucene's crash-safety model: segments are immutable, each flush/merge is
durable before `segments_N` publishes the set, and a killed IndexWriter
resumes from the last commit point (index/IndexWriter.java:3601
prepareCommit/commit two-phase protocol, index/SegmentInfos.java).

Spark-first translation:

  1. `plan.json` — written once, first: deterministic segment boundaries
     (sampled split keys over the (repo, path, commit) sort key — the
     same sample-based strategy as Spark's RangePartitioner — plus exact
     per-segment doc counts => stable global docID offsets). Every
     resume reuses the saved plan, so segment membership and docIDs are
     identical across attempts and cluster sizes.
  2. Per segment s: one self-contained job inverts only that key range
     and writes `docmap/seg=s/` + `runs/seg=s/` (compact posting runs,
     see builder.py), then commits `lineage/seg_s.json` atomically with
     metrics (docs, tokens, wall seconds, docs/sec). A killed build
     leaves complete segments' lineage in place — resume skips them and
     rebuilds only the missing ones.
  3. Merge phase (all segments complete): builder.merge_postings over
     every segment's runs -> terms / postings / stats, then `manifest.json`
     written last = the commit point. Runs hold disjoint ascending docID
     ranges, so the merge is concatenation (SegmentMerger analog).

The one-shot `builder.build_index` remains the fast path; this module
trades a few extra jobs for bounded-loss restarts on long builds.
"""

from __future__ import annotations

import json
import os
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_spark.index.builder import (
    FLUSH_DOCS,
    INVERT_SCHEMA,
    _invert_partition,
    _META_COLS,
    _quantile_bounds,
    _RUN_COLS,
    _salt_runs,
    lb10_by_term,
    merge_postings,
)

_KEY = ["repo", "path", "commit"]


def _key_struct():
    return F.struct(*[F.col(c) for c in _KEY])


def _plan_path(out_dir: str) -> str:
    return os.path.join(out_dir, "plan.json")


def _lineage_path(out_dir: str, seg: int) -> str:
    return os.path.join(out_dir, "lineage", f"seg_{seg}.json")


def _atomic_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2)
    os.replace(tmp, path)


def _make_plan(
    docs: DataFrame, num_segments: int, sample_fraction: float, seed: int
) -> dict:
    """Segment boundaries from a deterministic key sample (RangePartitioner
    strategy) + exact per-segment counts in ONE aggregate job."""
    if num_segments > 1:
        sample = (
            docs.select(*_KEY)
            .sample(fraction=min(1.0, sample_fraction), seed=seed)
            .collect()
        )
        keys = sorted((r["repo"], r["path"], r["commit"]) for r in sample)
        bounds = []
        for i in range(1, num_segments):
            if keys:
                bounds.append(list(keys[min(len(keys) - 1, i * len(keys) // num_segments)]))
        # dedupe while preserving order (tiny inputs can repeat keys)
        seen, uniq = set(), []
        for b in bounds:
            tb = tuple(b)
            if tb not in seen:
                seen.add(tb)
                uniq.append(b)
        bounds = uniq
    else:
        bounds = []

    seg_col = F.lit(0)
    for i, b in enumerate(bounds):
        lit = F.struct(*[F.lit(x) for x in b])
        seg_col = F.when(_key_struct() >= lit, F.lit(i + 1)).otherwise(seg_col)
    counts = {
        int(r["seg"]): r["cnt"]
        for r in docs.select(seg_col.alias("seg"))
        .groupBy("seg")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    n_segs = len(bounds) + 1
    sizes = [int(counts.get(s, 0)) for s in range(n_segs)]
    offsets, acc = [], 0
    for n in sizes:
        offsets.append(acc)
        acc += n
    return {
        "bounds": bounds,
        "sizes": sizes,
        "offsets": offsets,
        "doc_count": acc,
        "seed": seed,
    }


def _segment_filter(plan: dict, seg: int):
    bounds = plan["bounds"]
    cond = F.lit(True)
    if seg > 0:
        lo = F.struct(*[F.lit(x) for x in bounds[seg - 1]])
        cond = cond & (_key_struct() >= lo)
    if seg < len(bounds):
        hi = F.struct(*[F.lit(x) for x in bounds[seg]])
        cond = cond & (_key_struct() < hi)
    return cond


def build_segment(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    plan: dict,
    seg: int,
    *,
    partitions: int | None = None,
    store_positions: bool = True,
    flush_docs: int = FLUSH_DOCS,
) -> dict:
    """Invert one segment's key range and durably write its docmap + runs,
    then commit the lineage record (the segment's checkpoint)."""
    t0 = time.time()
    n_part = partitions or spark.sparkContext.defaultParallelism
    seg_docs = docs.filter(_segment_filter(plan, seg))
    sorted_docs = (
        seg_docs.repartitionByRange(n_part, *_KEY)
        .sortWithinPartitions(*_KEY)
        .withColumn("rpid", F.spark_partition_id())
    )
    sizes = dict(
        (r["rpid"], r["cnt"])
        for r in sorted_docs.groupBy("rpid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets: dict[int, int] = {}
    acc = plan["offsets"][seg]
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    if acc - plan["offsets"][seg] != plan["sizes"][seg]:
        raise RuntimeError(
            f"segment {seg}: input changed since plan.json was written "
            f"({acc - plan['offsets'][seg]} docs != planned {plan['sizes'][seg]})"
        )

    inverted = sorted_docs.mapInPandas(
        _invert_partition(offsets, store_positions, flush_docs),
        schema=INVERT_SCHEMA,
    ).persist(StorageLevel.MEMORY_AND_DISK)  # small compact rows; reused 3x
    inverted.filter(F.col("term").isNull()).select(*_META_COLS).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "docmap", f"seg={seg}"))
    runs = inverted.filter(F.col("term").isNotNull()).select(*_RUN_COLS)
    tokens = runs.agg(F.sum("cf")).collect()[0][0] or 0
    runs.write.mode("overwrite").parquet(os.path.join(out_dir, "runs", f"seg={seg}"))
    inverted.unpersist()
    sorted_docs.unpersist()

    wall = time.time() - t0
    rec = {
        "seg": seg,
        "doc_id_start": plan["offsets"][seg],
        "num_docs": plan["sizes"][seg],
        "tokens": int(tokens),
        "partitions": n_part,
        "status": "complete",
        "wall_sec": round(wall, 3),
        "docs_per_sec": round(plan["sizes"][seg] / wall, 1) if wall > 0 else 0.0,
    }
    _atomic_json(_lineage_path(out_dir, seg), rec)
    return rec


def merge_segments(
    spark: SparkSession,
    out_dir: str,
    plan: dict,
    *,
    partitions: int | None = None,
    hot_df_threshold: int = 1 << 16,
    hot_salt_span: int = 1 << 20,
    store_positions: bool = True,
) -> dict:
    """Merge all segments' runs into the final terms/postings/stats tables
    and publish manifest.json (the commit point)."""
    n_part = partitions or spark.sparkContext.defaultParallelism
    runs = spark.read.parquet(os.path.join(out_dir, "runs"))
    # runs checkpointed before the offsets/payloads options lack the
    # occurrence columns; resume them with empty payloads
    for c in ("offs_vb", "olen_vb", "pay_vb"):
        if c not in runs.columns:
            runs = runs.withColumn(c, F.lit(b""))
    runs = runs.select(*_RUN_COLS)

    terms_df = (
        runs.groupBy("term")
        .agg(
            F.sum("ndocs").cast("long").alias("df"),
            F.sum("cf").alias("cf"),
            F.max("max_tf").alias("max_tf"),
            F.min("min_norm").alias("min_norm"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # hot membership stays a broadcast-joined DataFrame, never an `isin`
    # literal (see builder._salt_runs)
    hot_df = (
        terms_df.filter(F.col("df") > hot_df_threshold)
        .select("term")
        .withColumn("is_hot", F.lit(True))
    )
    n_hot_terms = hot_df.count()
    agg = terms_df.agg(
        F.sum("cf").alias("sttf"),
        F.sum("df").alias("sdf"),
        F.count("*").alias("nterms"),
    ).collect()[0]
    stats = {
        "doc_count": int(plan["doc_count"]),
        "sum_total_term_freq": int(agg["sttf"] or 0),
        "sum_doc_freq": int(agg["sdf"] or 0),
        "distinct_terms": int(agg["nterms"] or 0),
    }

    # range-place runs via a driver-side boundary sample from the cached
    # terms table (repartitionByRange would run a sampling job over the
    # runs first — builder.build_index avoids that the same way)
    # count-bounded vocabulary sample (builder.KEY_SAMPLE_MAX): 0.2 of a
    # web-scale vocabulary would collect 10^9+ terms driver-side
    from lucene_spark.index.builder import KEY_SAMPLE_MAX

    term_frac = min(
        0.2, KEY_SAMPLE_MAX / max(1.0, float(stats["distinct_terms"]))
    )
    term_bounds = _quantile_bounds(
        sorted(
            r["term"]
            for r in terms_df.select("term")
            .sample(fraction=min(1.0, term_frac), seed=7)
            .collect()
        ),
        n_part,
    )
    merge_postings(
        spark,
        _salt_runs(runs, hot_df, n_hot_terms, hot_salt_span),
        term_bounds,
        n_part,
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "postings"))

    # terms table last: join in the block-derived lb_key10 threshold floor
    from lucene_spark.search.bm25 import BM25Scorer

    cache = BM25Scorer.build(
        max(1, stats["doc_count"]), max(1, stats["sum_total_term_freq"])
    ).cache
    lb10 = lb10_by_term(spark, os.path.join(out_dir, "postings"), cache)
    terms_out = terms_df.join(lb10, "term", "left").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    terms_out.repartitionByRange(max(1, n_part // 4), "term").sortWithinPartitions(
        "term"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "terms"))
    terms_out.unpersist()

    from lucene_spark.util.metaio import write_meta_parquet

    write_meta_parquet(os.path.join(out_dir, "stats"), [stats])
    terms_df.unpersist()
    return {"n_hot_terms": int(n_hot_terms), **stats}


def build_index_resumable(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    num_segments: int = 4,
    partitions: int | None = None,
    hot_df_threshold: int = 1 << 16,
    hot_salt_span: int = 1 << 20,
    store_positions: bool = True,
    flush_docs: int = FLUSH_DOCS,
    sample_fraction: float = 0.1,
    seed: int = 42,
    fail_after_segment: int | None = None,
) -> dict:
    """Build (or resume building) the index at ``out_dir``.

    Safe to re-invoke after any crash: completed segments are detected via
    their lineage records and skipped; the merge re-runs idempotently.
    ``fail_after_segment`` injects a crash for tests.
    """
    t0 = time.time()
    os.makedirs(out_dir, exist_ok=True)
    plan_file = _plan_path(out_dir)
    if os.path.exists(plan_file):
        with open(plan_file) as f:
            plan = json.load(f)
        resumed = True
    else:
        plan = _make_plan(docs, num_segments, sample_fraction, seed)
        _atomic_json(plan_file, plan)
        resumed = False

    n_segs = len(plan["bounds"]) + 1
    built, skipped = [], []
    for seg in range(n_segs):
        if os.path.exists(_lineage_path(out_dir, seg)):
            skipped.append(seg)
            continue
        build_segment(
            spark, docs, out_dir, plan, seg,
            partitions=partitions,
            store_positions=store_positions,
            flush_docs=flush_docs,
        )
        built.append(seg)
        if fail_after_segment is not None and seg >= fail_after_segment:
            raise RuntimeError(f"injected failure after segment {seg}")

    stats = merge_segments(
        spark, out_dir, plan,
        partitions=partitions,
        hot_df_threshold=hot_df_threshold,
        hot_salt_span=hot_salt_span,
        store_positions=store_positions,
    )

    elapsed = time.time() - t0
    from lucene_spark.util.blockcodec import CODEC_NAME

    manifest = {
        "version": 2,
        "codec": CODEC_NAME,
        **stats,
        "hot_df_threshold": hot_df_threshold,
        "hot_salt_span": hot_salt_span,
        "store_positions": store_positions,
        "block_size": 256,
        "flush_docs": flush_docs,
        "num_segments": n_segs,
        "segments_built": built,
        "segments_resumed": skipped,
        "resumed": resumed,
        "build_wall_sec": elapsed,
        "docs_per_sec": stats["doc_count"] / elapsed if elapsed > 0 else 0.0,
    }
    _atomic_json(os.path.join(out_dir, "manifest.json"), manifest)
    return manifest
