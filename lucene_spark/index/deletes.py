"""Deletes: tombstones applied at read + expunge merge.

Lucene model (index/PendingDeletes.java, IndexWriter.updateDocument at
index/IndexWriter.java:1488-1553): deletes mark a per-segment bitset;
queries skip deleted docs but collection/term statistics stay stale
until segments merge ("maxDoc vs numDocs"); merges rewrite postings
without the deleted docs.

Spark translation:
  - delete_by_keys / delete_by_query append docIDs to a `deletes/`
    tombstone table (atomic per-batch parquet write). IndexSearcher
    loads the tombstone set and its one postings reader,
    IndexSearcher.read_postings, drops those docIDs (one np.isin per
    Arrow batch against a broadcast sorted array — the bitset analog).
    Scores of surviving docs are UNCHANGED (stale stats, faithful to
    Lucene's pre-merge behavior).
  - expunge_deletes rewrites postings/docmap/terms/stats without the
    tombstoned docs (the merge that applies deletes). Surviving docIDs
    are kept (sparse docID space — valid: all query paths treat docID
    as an opaque ordered key), stats are recomputed, manifest republished.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_spark.index.builder import BLOCK_SCHEMA
from lucene_spark.util.blockcodec import (
    decode_postings,
    encode_postings,
    keep_postings,
    validate_manifest_codec,
)


def _deletes_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "deletes")


def tombstones_df(spark: SparkSession, index_dir: str) -> DataFrame | None:
    """Lazy distinct tombstone docIDs, or None when nothing is deleted."""
    d = _deletes_dir(index_dir)
    if not os.path.isdir(d) or not os.listdir(d):
        return None
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(d)
        .select("docID")
        .distinct()
    )


def load_deleted_ids(spark: SparkSession, index_dir: str) -> np.ndarray:
    tdf = tombstones_df(spark, index_dir)
    if tdf is None:
        return np.empty(0, dtype=np.int64)
    # Arrow transfer + numpy sort (no driver-side Row objects)
    return np.sort(tdf.toPandas()["docID"].to_numpy(dtype=np.int64, copy=True))


def delete_by_keys(
    spark: SparkSession, index_dir: str, keys: list[tuple[str, str]]
) -> int:
    """Delete documents by (repo, path) — deleteDocuments(Term) analog.
    Returns the number of newly tombstoned docs."""
    docmap = spark.read.parquet(os.path.join(index_dir, "docmap"))
    kdf = spark.createDataFrame(keys, "repo string, path string")
    hit = docmap.join(F.broadcast(kdf), ["repo", "path"]).select("docID")
    return _append_tombstones(spark, index_dir, hit)


def delete_by_query(spark: SparkSession, searcher, term: str) -> int:
    """Delete every doc containing `term` — deleteDocuments(Query)."""
    hit = searcher.postings_tf([term]).select("docID").distinct()
    return _append_tombstones(spark, searcher.index_dir, hit)


def _append_tombstones(spark: SparkSession, index_dir: str, hit: DataFrame) -> int:
    n = hit.count()
    if n:
        out = os.path.join(_deletes_dir(index_dir), f"batch_{uuid.uuid4().hex[:12]}")
        hit.coalesce(1).write.mode("overwrite").parquet(out)
    return int(n)


def stage_tombstones(
    spark: SparkSession, index_dir: str, hit: DataFrame
) -> tuple[str | None, int]:
    """Materialize a tombstone batch OUTSIDE deletes/ (invisible to
    readers). Returns (staging_path, count); publish later with
    publish_tombstones. Lets updateDocument make the replacement segment
    durable BEFORE the deletes become visible — a crash in between
    leaves both versions visible (benign) instead of silently dropping
    the documents."""
    batch = f"batch_{uuid.uuid4().hex[:12]}"
    staging = os.path.join(index_dir, "deletes_staging", batch)
    hit.coalesce(1).write.mode("overwrite").parquet(staging)
    n = spark.read.parquet(staging).count()
    if n == 0:
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        return None, 0
    return staging, int(n)


def publish_tombstones(index_dir: str, staging_path: str) -> None:
    """Atomically move a staged tombstone batch into deletes/."""
    d = _deletes_dir(index_dir)
    os.makedirs(d, exist_ok=True)
    os.replace(staging_path, os.path.join(d, os.path.basename(staging_path)))


def drop_deleted_docs(pdf: pd.DataFrame, deleted: np.ndarray) -> pd.DataFrame:
    """The tombstone filter for postings rows — blocks or runs alike:
    drop the docIDs in ``deleted`` (sorted) from every row (SegmentMerger
    applies liveDocs during merge, reference lucene/core/src/java/org/
    apache/lucene/index/SegmentMerger.java:114-151). The batch decodes
    and re-encodes in one vectorized pass per column; a batch that loses
    no doc passes through untouched, rows that lose every doc vanish, and
    whichever header columns a row has are recomputed. Each row is
    filtered on its own, so rows with disjoint ascending doc ranges stay
    disjoint and ascending."""
    p = decode_postings(pdf)
    keep = ~np.isin(p["docs"], deleted)
    if keep.all():
        return pdf
    p = keep_postings(p, keep)
    live = p["ndocs"] > 0
    p["ndocs"] = p["ndocs"][live]
    out = pdf[live].reset_index(drop=True)
    for col, enc in encode_postings(p).items():
        # a payload a row did not carry stays empty
        had = out[col].map(bool).tolist()
        out[col] = [e if h else b"" for e, h in zip(enc, had)]
    n = p["ndocs"]
    first = np.cumsum(n) - n
    d, t, nb = p["docs"], p["tfs"], p["norms"]
    header = {
        "first_doc": d[first], "ndocs": n, "min_doc": d[first],
        "max_doc": d[first + n - 1],
        "max_tf": np.maximum.reduceat(t, first),
        "min_tf": np.minimum.reduceat(t, first),
        "min_norm": np.minimum.reduceat(nb, first),
        "max_norm": np.maximum.reduceat(nb, first),
    }
    for c, v in header.items():
        if c in out:  # runs carry first_doc, blocks the rest
            out[c] = v.astype(out[c].dtype)
    return out


def term_stats_from_blocks(postings: DataFrame) -> DataFrame:
    """(term, df, cf, max_tf, min_norm) recomputed from postings blocks —
    the term dictionary of rewritten postings (expunge, compaction with
    deletes): df, max_tf and min_norm from the block headers, cf by
    summing the tfs of each block through the batch decoder."""
    def with_cf(batches):
        for pdf in batches:
            p = decode_postings(pdf[["tfs_vb"]])
            occ = np.concatenate(([0], np.cumsum(p["tfs"])))
            ends = np.cumsum(p["ndocs"])
            yield pdf.drop(columns="tfs_vb").assign(
                cf=occ[ends] - occ[ends - p["ndocs"]]
            )

    return (
        postings.select("term", "ndocs", "max_tf", "min_norm", "tfs_vb")
        .mapInPandas(
            with_cf,
            schema="term string, ndocs int, max_tf int, min_norm int, cf long",
        )
        .groupBy("term")
        .agg(
            F.sum("ndocs").cast("long").alias("df"),
            F.sum("cf").alias("cf"),
            F.max("max_tf").alias("max_tf"),
            F.min("min_norm").alias("min_norm"),
        )
    )


def expunge_deletes(spark: SparkSession, index_dir: str) -> dict:
    """Rewrite the index without tombstoned docs and republish the
    manifest (forceMergeDeletes analog). No-op when nothing is deleted."""
    deleted = load_deleted_ids(spark, index_dir)
    with open(os.path.join(index_dir, "manifest.json")) as f:
        manifest = json.load(f)
    validate_manifest_codec(manifest)
    if manifest.get("gens"):
        # tiered incremental layout: per-gen rewrite path (refreshes
        # first so stale segment runs can never re-introduce the docs)
        from lucene_spark.streaming.incremental import expunge_deletes_tiered

        return expunge_deletes_tiered(
            spark, index_dir,
            store_positions=manifest.get("store_positions", True),
        )
    if deleted.size == 0:
        return manifest
    t0 = time.time()
    del_b = spark.sparkContext.broadcast(deleted)

    def filter_blocks(batches):
        for pdf in batches:
            yield drop_deleted_docs(pdf, del_b.value)

    postings = spark.read.parquet(os.path.join(index_dir, "postings"))
    # columns absent on indexes built before those options
    for c, v in (("min_tf", 1), ("max_norm", 255)):
        if c not in postings.columns:
            postings = postings.withColumn(c, F.lit(v))
    for c in ("offs_vb", "olen_vb", "pay_vb"):
        if c not in postings.columns:
            postings = postings.withColumn(c, F.lit(b""))
    tmp = os.path.join(index_dir, "postings_expunged")
    # each block is filtered on its own: no shuffle, and the output keeps
    # the term-range layout of the postings it reads (the local sort only
    # restores row order where a scan task packs several files)
    (
        postings.select(*[f.name for f in BLOCK_SCHEMA.fields])
        .mapInPandas(filter_blocks, schema=BLOCK_SCHEMA)
        .sortWithinPartitions("term", "salt", "block_seq")
        .write.mode("overwrite").parquet(tmp)
    )

    docmap = spark.read.parquet(os.path.join(index_dir, "docmap"))
    ddf = spark.createDataFrame([(int(x),) for x in deleted], "docID long")
    docmap2 = docmap.join(F.broadcast(ddf), "docID", "left_anti")
    dm_tmp = os.path.join(index_dir, "docmap_expunged")
    docmap2.write.mode("overwrite").parquet(dm_tmp)

    # recompute term dictionary + stats from the surviving blocks
    terms_joined = term_stats_from_blocks(spark.read.parquet(tmp))
    agg = terms_joined.agg(
        F.sum("cf").alias("sttf"), F.sum("df").alias("sdf"), F.count("*").alias("nt")
    ).collect()[0]
    n_docs = docmap2.count()

    # re-derive the lb_key10 threshold floor from the surviving blocks
    # (deletes are now physically gone, so the block slot argument holds)
    from lucene_spark.index.builder import lb10_by_term
    from lucene_spark.search.bm25 import BM25Scorer

    cache = BM25Scorer.build(max(1, n_docs), max(1, int(agg["sttf"] or 0))).cache
    terms_final = terms_joined.join(lb10_by_term(spark, tmp, cache), "term", "left")
    t_tmp = os.path.join(index_dir, "terms_expunged")
    terms_final.sortWithinPartitions("term").write.mode("overwrite").parquet(t_tmp)

    # publish: rename each live dir aside, move the new generation in, and
    # delete the old generations only after the manifest republish — a
    # crash mid-swap leaves every generation recoverable on disk
    # (IndexWriter two-phase commit discipline: nothing is destroyed
    # before the new commit point is durable)
    import shutil

    olds = []
    for name, tmp_dir in (("postings", tmp), ("docmap", dm_tmp), ("terms", t_tmp)):
        final = os.path.join(index_dir, name)
        old = final + ".old"
        shutil.rmtree(old, ignore_errors=True)
        os.replace(final, old)
        os.replace(tmp_dir, final)
        olds.append(old)
    shutil.rmtree(_deletes_dir(index_dir), ignore_errors=True)

    manifest.update(
        doc_count=int(n_docs),
        sum_total_term_freq=int(agg["sttf"] or 0),
        sum_doc_freq=int(agg["sdf"] or 0),
        distinct_terms=int(agg["nt"] or 0),
        expunged_at=time.time(),
        expunge_wall_sec=round(time.time() - t0, 3),
    )
    tmp_m = os.path.join(index_dir, "manifest.json.tmp")
    with open(tmp_m, "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp_m, os.path.join(index_dir, "manifest.json"))
    for old in olds:
        shutil.rmtree(old, ignore_errors=True)
    del_b.unpersist()
    return manifest
