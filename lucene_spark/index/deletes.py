"""Deletes: tombstones applied at read + expunge merge.

Lucene model (index/PendingDeletes.java, IndexWriter.updateDocument at
index/IndexWriter.java:1488-1553): deletes mark a per-segment bitset;
queries skip deleted docs but collection/term statistics stay stale
until segments merge ("maxDoc vs numDocs"); merges rewrite postings
without the deleted docs.

Spark translation:
  - delete_by_keys / delete_by_query append docIDs to a `deletes/`
    tombstone table (atomic per-batch parquet write). IndexSearcher
    loads the tombstone set and every decode kernel drops those docIDs
    (np.isin against a broadcast sorted array — the bitset analog).
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

from lucene_spark.index.builder import BLOCK_SCHEMA, _runs_cumsum
from lucene_spark.util.blockcodec import decode_block as decode
from lucene_spark.util.blockcodec import decode_blocks
from lucene_spark.util.blockcodec import encode_block as encode
from lucene_spark.util.blockcodec import validate_manifest_codec
from lucene_spark.util.varbyte import (
    delta_encode,
    segmented_delta_decode,
    segmented_delta_encode,
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


def _seg_keep(payload_vb, t, t2, keep, delta: bool) -> bytes:
    """Re-segment one occurrence payload (positions, offset starts or
    lengths, payloads) keeping only surviving docs' tf segments."""
    raw = decode(payload_vb)
    flat = segmented_delta_decode(raw, t) if delta else raw
    ends = np.cumsum(t)
    parts = [flat[(ends[i] - t[i]):ends[i]] for i in np.flatnonzero(keep)]
    flat2 = np.concatenate(parts) if parts else np.empty(0, np.int64)
    return encode(segmented_delta_encode(flat2, t2) if delta else flat2)


def drop_deleted_docs(pdf: pd.DataFrame, deleted: np.ndarray) -> pd.DataFrame:
    """The tombstone filter for postings rows — blocks or runs alike:
    drop the docIDs in ``deleted`` (sorted) from every row (SegmentMerger
    applies liveDocs during merge, reference lucene/core/src/java/org/
    apache/lucene/index/SegmentMerger.java:114-151). The batch's docIDs
    decode in one vectorized pass; rows that lose no doc pass through
    untouched, rows that lose every doc vanish, and only the rest are
    re-encoded, with whichever header columns the row has recomputed.
    Each row is filtered on its own, so rows with disjoint ascending doc
    ranges stay disjoint and ascending."""
    gaps, counts = decode_blocks(pdf["docs_vb"].to_numpy())
    docs = _runs_cumsum(gaps, counts)
    hit = np.isin(docs, deleted)
    bnd = np.concatenate(([0], np.cumsum(counts)))
    hits_before = np.concatenate(([0], np.cumsum(hit)))
    n_hit = hits_before[bnd[1:]] - hits_before[bnd[:-1]]
    out = {c: pdf[c].to_numpy().copy() for c in pdf.columns}
    for i in np.flatnonzero((n_hit > 0) & (n_hit < counts)):
        keep = ~hit[bnd[i]:bnd[i + 1]]
        d2 = docs[bnd[i]:bnd[i + 1]][keep]
        t = decode(out["tfs_vb"][i])
        nb2 = np.frombuffer(out["norms_b"][i], dtype=np.uint8)[keep]
        t2 = t[keep]
        for c, delta in (
            ("pos_vb", True), ("offs_vb", True),
            ("olen_vb", False), ("pay_vb", False),
        ):
            if c in out and out[c][i]:
                out[c][i] = _seg_keep(out[c][i], t, t2, keep, delta)
        out["docs_vb"][i] = encode(delta_encode(d2))
        out["tfs_vb"][i] = encode(t2)
        out["norms_b"][i] = nb2.tobytes()
        header = {
            "first_doc": d2[0], "ndocs": d2.size, "min_doc": d2[0],
            "max_doc": d2[-1], "max_tf": t2.max(), "min_norm": nb2.min(),
            "min_tf": t2.min(), "max_norm": nb2.max(),
        }
        for c, v in header.items():
            if c in out:  # runs carry first_doc, blocks the rest
                out[c][i] = v
    live = n_hit < counts
    return pd.DataFrame({c: v[live] for c, v in out.items()})


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
    new_posts = spark.read.parquet(tmp)
    terms2 = new_posts.groupBy("term").agg(
        F.sum("ndocs").cast("long").alias("df"),
        F.max("max_tf").alias("max_tf"),
        F.min("min_norm").alias("min_norm"),
    )
    # cf needs decoded tf sums
    def cf_rows(batches):
        for pdf in batches:
            terms, cfs = [], []
            for term, tfs_vb in zip(pdf["term"], pdf["tfs_vb"]):
                terms.append(term)
                cfs.append(int(decode(bytes(tfs_vb)).sum()))
            yield pd.DataFrame({"term": terms, "cf": pd.array(cfs, dtype="int64")})

    cf_df = new_posts.select("term", "tfs_vb").mapInPandas(
        cf_rows, schema="term string, cf long"
    ).groupBy("term").agg(F.sum("cf").alias("cf"))
    terms_joined = terms2.join(cf_df, "term").select(
        "term", "df", "cf", "max_tf", "min_norm"
    )
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
