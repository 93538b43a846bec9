"""Incremental (near-real-time) indexing via Structured Streaming.

Lucene's NRT model (SURVEY.md §2.E): new documents accumulate in writer
buffers, flushes create immutable segments, `SearcherManager.maybeRefresh`
makes flushed segments visible without rebuilding anything
(search/SearcherManager.java:200, index/StandardDirectoryReader.java).

Structured Streaming translation:
  - source -> foreachBatch: every micro-batch becomes one immutable
    segment — docmap/seg=<n> + runs/seg=<n> parquet (the same compact
    run format the batch builder flushes), docIDs assigned sequentially
    from a persisted high-water mark (arrival order, exactly Lucene's
    docID semantics)
  - state.json is committed atomically AFTER the segment's files are
    durable -> crash mid-batch leaves a re-processable batch
    (checkpointed foreachBatch + idempotent overwrite per epoch =
    effectively exactly-once, IndexWriter.commit two-phase analog)
  - refresh(): merge all segment runs into queryable postings/terms/
    stats tables + manifest (ControlledRealTimeReopenThread analog —
    called on whatever cadence visibility demands; segments written
    since the last refresh are invisible until then)

No watermarks/event-time: the reference has none (append-only NRT), so
this is deliberately processing-time micro-batching.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_spark.util.blockcodec import shift_doc_blocks

from lucene_spark.index.builder import (
    BLOCK_SCHEMA,
    FLUSH_DOCS,
    INVERT_SCHEMA,
    _flatten_key,
    _invert_partition,
    _META_COLS,
    _quantile_bounds,
    _repartition_exact,
    _RUN_COLS,
    _salt_runs,
    _with_range_id,
    merge_postings,
)
from lucene_spark.index.deletes import drop_deleted_docs, term_stats_from_blocks
from lucene_spark.index.resumable import _atomic_json


def _state_path(out_dir: str) -> str:
    return os.path.join(out_dir, "state.json")


def _options_path(out_dir: str) -> str:
    return os.path.join(out_dir, "index_options.json")


def _load_index_options(out_dir: str) -> dict | None:
    """Index-wide payload options pinned at the FIRST write_segment.
    store_positions/store_offsets are facts about the data on disk, not
    per-call arguments: mixing them across segments of one index would
    misalign merged payloads (builder._merge_groups guards the
    symptom; this pins the cause). Returns None for pre-option indexes."""
    p = _options_path(out_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return None


def _record_index_options(
    out_dir: str,
    store_positions: bool,
    store_offsets: bool,
    token_filters: tuple[str, ...] = (),
    tokenizer: str = "standard",
    store_payloads: bool = False,
) -> None:
    opts = _load_index_options(out_dir)
    if opts is None:
        _atomic_json(
            _options_path(out_dir),
            {
                "store_positions": bool(store_positions),
                "store_offsets": bool(store_offsets),
                "token_filters": list(token_filters),
                "tokenizer": tokenizer,
                "store_payloads": bool(store_payloads),
            },
        )
        return
    if (
        bool(opts["store_positions"]) != bool(store_positions)
        or bool(opts["store_offsets"]) != bool(store_offsets)
        or list(opts.get("token_filters", [])) != list(token_filters)
        or opts.get("tokenizer", "standard") != tokenizer
        or bool(opts.get("store_payloads", False)) != bool(store_payloads)
    ):
        raise ValueError(
            "index options mismatch: index was created with "
            f"store_positions={opts['store_positions']} "
            f"store_offsets={opts['store_offsets']} "
            f"token_filters={opts.get('token_filters', [])} "
            f"tokenizer={opts.get('tokenizer', 'standard')} "
            f"store_payloads={opts.get('store_payloads', False)}, write "
            f"requested store_positions={bool(store_positions)} "
            f"store_offsets={bool(store_offsets)} "
            f"token_filters={list(token_filters)} "
            f"tokenizer={tokenizer} store_payloads={bool(store_payloads)}"
        )


def _load_state(out_dir: str) -> dict:
    p = _state_path(out_dir)
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)
    return {"next_doc": 0, "segments": [], "epochs": {}}


def write_segment(
    spark: SparkSession,
    batch_df: DataFrame,
    out_dir: str,
    seg_name: str,
    doc_id_start: int,
    *,
    partitions: int | None = None,
    store_positions: bool = True,
    store_offsets: bool = False,
    flush_docs: int = FLUSH_DOCS,
    token_filters: tuple[str, ...] = (),
    tokenizer: str = "standard",
    store_payloads: bool = False,
) -> int:
    """Invert one batch into an immutable segment (docmap + runs parquet).
    Returns the number of docs written. docIDs are
    [doc_id_start, doc_id_start + n) in (repo, path, commit) order within
    the batch — arrival order across batches, Lucene's NRT docID model."""
    n_part = partitions or spark.sparkContext.defaultParallelism
    os.makedirs(out_dir, exist_ok=True)
    _record_index_options(
        out_dir, store_positions, store_offsets, tuple(token_filters),
        tokenizer=tokenizer, store_payloads=store_payloads,
    )
    n_batch = batch_df.count()
    if n_batch == 0:
        return 0
    # boundary sample is bounded (driver never holds the full batch key
    # set); boundaries affect only balance, not correctness
    frac = min(1.0, 8192.0 / n_batch)
    keys = [
        (r["repo"], r["path"], r["commit"])
        for r in batch_df.select("repo", "path", "commit")
        .sample(fraction=frac, seed=42)
        .collect()
    ]
    bounds = _quantile_bounds(sorted(_flatten_key(*k) for k in keys), n_part)
    sorted_docs = (
        _repartition_exact(
            spark, _with_range_id(batch_df, bounds, ["repo", "path", "commit"]), n_part
        )
        .sortWithinPartitions("repo", "path", "commit")
    )
    sizes = dict(
        (r["rpid"], r["cnt"])
        for r in sorted_docs.groupBy("rpid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets: dict[int, int] = {}
    acc = doc_id_start
    for rp in sorted(sizes):
        offsets[rp] = acc
        acc += sizes[rp]

    inverted = sorted_docs.mapInPandas(
        _invert_partition(
            offsets, store_positions, flush_docs,
            store_offsets=store_offsets,
            token_filters=tuple(token_filters),
            tokenizer=tokenizer, store_payloads=store_payloads,
        ),
        schema=INVERT_SCHEMA,
    )
    inv_path = os.path.join(out_dir, "inverted_stream", seg_name)
    inverted.write.mode("overwrite").parquet(inv_path)
    inv = spark.read.parquet(inv_path)
    inv.filter(F.col("term").isNull()).select(*_META_COLS).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "docmap", f"seg={seg_name}"))
    inv.filter(F.col("term").isNotNull()).select(*_RUN_COLS).write.mode(
        "overwrite"
    ).parquet(os.path.join(out_dir, "runs", f"seg={seg_name}"))
    import shutil

    shutil.rmtree(inv_path, ignore_errors=True)
    return acc - doc_id_start


def start_indexing_stream(
    spark: SparkSession,
    stream_df: DataFrame,
    out_dir: str,
    *,
    checkpoint_dir: str | None = None,
    partitions: int | None = None,
    store_positions: bool = True,
    store_offsets: bool = False,
    trigger_available_now: bool = True,
    token_filters: tuple[str, ...] = (),
    tokenizer: str = "standard",
    store_payloads: bool = False,
):
    """Attach the indexing sink to a streaming DataFrame of documents
    (repo, path, commit, lang, content). Returns the StreamingQuery."""
    os.makedirs(out_dir, exist_ok=True)
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")

    def process(batch_df: DataFrame, epoch_id: int):
        state = _load_state(out_dir)
        seg_name = f"b{epoch_id:06d}"
        if str(epoch_id) in state["epochs"]:
            return  # replayed epoch after restart: segment already durable
        n = write_segment(
            spark, batch_df, out_dir, seg_name, state["next_doc"],
            partitions=partitions, store_positions=store_positions,
            store_offsets=store_offsets, token_filters=token_filters,
            tokenizer=tokenizer, store_payloads=store_payloads,
        )
        if n == 0:
            return
        state["next_doc"] += n
        state["segments"].append({"seg": seg_name, "num_docs": n, "ts": time.time()})
        state["epochs"][str(epoch_id)] = seg_name
        _atomic_json(_state_path(out_dir), state)

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _merge_runs_to_gen(
    spark: SparkSession,
    out_dir: str,
    seg_names: list[str],
    gen_name: str,
    n_part: int,
    hot_df_threshold: int,
    hot_salt_span: int,
) -> None:
    """Merge ONLY the given segments' runs into postings/gen=<gen> plus a
    narrow per-gen term-stats table — the incremental unit of the tiered
    policy (reads O(new segments), never the whole index)."""
    run_paths = [os.path.join(out_dir, "runs", f"seg={s}") for s in seg_names]
    runs = spark.read.parquet(*run_paths)
    # segments written before the offsets/payloads options lack the columns
    for c in ("offs_vb", "olen_vb", "pay_vb"):
        if c not in runs.columns:
            runs = runs.withColumn(c, F.lit(b""))
    runs = runs.select(*_RUN_COLS)
    terms_df = runs.groupBy("term").agg(
        F.sum("ndocs").cast("long").alias("df"),
        F.sum("cf").alias("cf"),
        F.max("max_tf").alias("max_tf"),
        F.min("min_norm").alias("min_norm"),
    )
    terms_df.write.mode("overwrite").parquet(
        os.path.join(out_dir, "terms_gens", f"gen={gen_name}")
    )
    tg = spark.read.parquet(os.path.join(out_dir, "terms_gens", f"gen={gen_name}"))
    # hot membership via broadcast join (builder._salt_runs), never a
    # driver-side `isin` literal
    hot_df = (
        tg.filter(F.col("df") > hot_df_threshold)
        .select("term")
        .withColumn("is_hot", F.lit(True))
    )
    merge_postings(
        spark, _salt_runs(runs, hot_df, hot_df.count(), hot_salt_span)
    ).write.mode("overwrite").parquet(
        os.path.join(out_dir, "postings", f"gen={gen_name}")
    )


def _compact_gens(
    spark: SparkSession,
    out_dir: str,
    group: list[dict],
    gen_name: str,
    deleted: np.ndarray | None = None,
) -> None:
    """Tiered compaction: re-merge a group of generations into one. Block
    rows ARE runs (disjoint ascending doc ranges, first_doc = min_doc),
    so the same run-merge kernel re-blocks them at proper 256-doc
    boundaries — a fully-compacted incremental index is bit-identical to
    a one-shot batch merge.

    ``deleted`` (sorted docID array): compaction physically drops those
    docs from the re-merged generation — merge-applies-deletes, the
    SegmentMerger behavior — so a long-running NRT index reclaims
    tombstoned space without a full rebuild. Tombstones stay published
    (uncompacted generations still need query-time filtering; dropping a
    doc that is already gone is a no-op), so this is pure space/decode
    reclamation with identical query results."""
    paths = [os.path.join(out_dir, "postings", f"gen={g['gen']}") for g in group]
    blocks = spark.read.parquet(*paths)
    # pre-offsets/payloads generations lack the occurrence columns
    for c in ("offs_vb", "olen_vb", "pay_vb"):
        if c not in blocks.columns:
            blocks = blocks.withColumn(c, F.lit(b""))
    blocks = blocks.select(
        "term", "salt", F.col("min_doc").alias("first_doc"),
        "docs_vb", "tfs_vb", "norms_b", "pos_vb", "offs_vb", "olen_vb",
        "pay_vb",
    )
    has_deletes = deleted is not None and deleted.size > 0
    if has_deletes:
        # merge-applies-deletes: the tombstone filter runs on the block
        # rows before they are re-merged
        del_b = spark.sparkContext.broadcast(np.asarray(deleted, np.int64))

        def drop_deleted(batches):
            for pdf in batches:
                yield drop_deleted_docs(pdf, del_b.value)

        blocks = blocks.mapInPandas(drop_deleted, schema=blocks.schema)
    merge_postings(spark, blocks).write.mode("overwrite").parquet(
        os.path.join(out_dir, "postings", f"gen={gen_name}")
    )
    if has_deletes:
        # per-gen stats must reflect the dropped docs: recompute them from
        # the surviving blocks instead of summing the stale per-gen stats
        term_stats_from_blocks(
            spark.read.parquet(
                os.path.join(out_dir, "postings", f"gen={gen_name}")
            )
        ).write.mode("overwrite").parquet(
            os.path.join(out_dir, "terms_gens", f"gen={gen_name}")
        )
        return
    tpaths = [os.path.join(out_dir, "terms_gens", f"gen={g['gen']}") for g in group]
    (
        spark.read.parquet(*tpaths)
        .groupBy("term")
        .agg(
            F.sum("df").cast("long").alias("df"),
            F.sum("cf").alias("cf"),
            F.max("max_tf").alias("max_tf"),
            F.min("min_norm").alias("min_norm"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "terms_gens", f"gen={gen_name}"))
    )


def _select_tier_merges(
    gens: list[dict],
    segs_per_tier: int,
    floor_docs: int,
    max_merged_docs: int,
) -> list[list[dict]]:
    """TieredMergePolicy shape (lucene/core/src/java/org/apache/lucene/
    index/TieredMergePolicy.java:77-82 — 5 GB max merged / 16 MB floor /
    ~10 per tier, doc-count analog): size tiers are log-spaced above the
    floor; a tier holding more than segs_per_tier gens gets its smallest
    segs_per_tier+1 members merged into one. Oversize gens never merge."""
    import math

    by_tier: dict[int, list[dict]] = {}
    base = max(2, segs_per_tier)
    for g in gens:
        if g["num_docs"] > max_merged_docs:
            continue
        tier = int(math.log(max(1.0, g["num_docs"] / floor_docs), base)) if g[
            "num_docs"
        ] > floor_docs else 0
        by_tier.setdefault(tier, []).append(g)
    merges = []
    for tier, members in sorted(by_tier.items()):
        if len(members) > segs_per_tier:
            members = sorted(members, key=lambda g: g["num_docs"])
            merges.append(members[: segs_per_tier + 1])
    return merges


def refresh(
    spark: SparkSession,
    out_dir: str,
    *,
    partitions: int | None = None,
    hot_df_threshold: int = 1 << 16,
    hot_salt_span: int = 1 << 20,
    store_positions: bool = True,
    store_offsets: bool = False,
    segs_per_tier: int = 8,
    floor_docs: int = 1 << 14,
    max_merged_docs: int = 5_000_000,
) -> dict:
    """Make all durable segments visible (SearcherManager.maybeRefresh)
    under a TIERED merge policy: only segments written since the last
    refresh are merged (into a new postings generation), and same-size
    generations compact when a tier exceeds segs_per_tier — refresh cost
    is O(new data) + amortized compaction, not O(total index).

    The searcher reads postings/gen=* partition-pruned to the manifest's
    active generation list, so stale dirs from a crash mid-cleanup are
    invisible. The terms table's lb_key10 threshold floor is RECOMPUTED
    here against refresh-time stats (avgdl drifts as the corpus grows,
    so the build-time floor would be stale — recomputing per refresh
    keeps the single-job pruned fast path available on NRT indexes).
    Pass segs_per_tier=1 to force full compaction (bit-identical to the
    one-shot batch build)."""
    n_part = partitions or spark.sparkContext.defaultParallelism
    # compaction decodes prior generations' payloads — refuse indexes
    # written before the self-describing block codec (no 'codec' key)
    mpath = os.path.join(out_dir, "manifest.json")
    prior_manifest: dict | None = None
    if os.path.exists(mpath):
        from lucene_spark.util.blockcodec import validate_manifest_codec

        with open(mpath) as f:
            prior_manifest = json.load(f)
        validate_manifest_codec(prior_manifest)
    # store_positions/store_offsets are facts about the data on disk, not
    # per-call choices: a routine refresh() must never flip the manifest
    # flags away from what the segments actually contain. Derive from the
    # options pinned at the first write_segment; fall back to the prior
    # manifest for pre-option indexes, then (first publish only) to args.
    opts = _load_index_options(out_dir)
    token_filters: list[str] = []
    tokenizer = "standard"
    store_payloads = False
    if opts is not None:
        store_positions = bool(opts["store_positions"])
        store_offsets = bool(opts["store_offsets"])
        token_filters = list(opts.get("token_filters", []))
        tokenizer = opts.get("tokenizer", "standard")
        store_payloads = bool(opts.get("store_payloads", False))
    elif prior_manifest is not None:
        store_positions = bool(
            prior_manifest.get("store_positions", store_positions)
        )
        store_offsets = bool(
            prior_manifest.get("store_offsets", store_offsets)
        )
        token_filters = list(prior_manifest.get("token_filters", []))
        tokenizer = prior_manifest.get("tokenizer", "standard")
        store_payloads = bool(prior_manifest.get("store_payloads", False))
    state = _load_state(out_dir)
    gens: list[dict] = state.setdefault("gens", [])
    merged_segs = {s for g in gens for s in g["segs"]}
    new_segs = [s for s in state["segments"] if s["seg"] not in merged_segs]
    touched = [s["seg"] for s in new_segs]
    old_dirs: list[str] = []

    def _next_gen() -> str:
        n = state.get("next_gen", 0)
        state["next_gen"] = n + 1
        return f"g{n:06d}"

    if new_segs:
        gname = _next_gen()
        _merge_runs_to_gen(
            spark, out_dir, touched, gname, n_part,
            hot_df_threshold, hot_salt_span,
        )
        gens.append(
            {
                "gen": gname,
                "segs": touched,
                "num_docs": int(sum(s["num_docs"] for s in new_segs)),
            }
        )

    compacted = 0
    # merge-applies-deletes: compactions physically drop tombstoned docs
    # (space reclamation; tombstones stay published for uncompacted gens)
    from lucene_spark.index.deletes import load_deleted_ids

    deleted = load_deleted_ids(spark, out_dir)
    while True:
        groups = _select_tier_merges(
            gens, segs_per_tier, floor_docs, max_merged_docs
        )
        if not groups:
            break
        for group in groups:
            gname = _next_gen()
            _compact_gens(spark, out_dir, group, gname, deleted=deleted)
            names = {g["gen"] for g in group}
            for g in group:
                old_dirs.append(os.path.join(out_dir, "postings", f"gen={g['gen']}"))
                old_dirs.append(os.path.join(out_dir, "terms_gens", f"gen={g['gen']}"))
            gens[:] = [g for g in gens if g["gen"] not in names]
            gens.append(
                {
                    "gen": gname,
                    "segs": [s for g in group for s in g["segs"]],
                    "num_docs": int(sum(g["num_docs"] for g in group)),
                }
            )
            compacted += len(group)

    # global terms table from the narrow per-gen stats (no postings
    # payload read — only the block METADATA scan for lb_key10 below)
    active = sorted(g["gen"] for g in gens)
    tg_active = spark.read.parquet(os.path.join(out_dir, "terms_gens")).filter(
        F.col("gen").isin(active)
    )
    terms_all = tg_active.groupBy("term").agg(
        F.sum("df").cast("long").alias("df"),
        F.sum("cf").alias("cf"),
        F.max("max_tf").alias("max_tf"),
        F.min("min_norm").alias("min_norm"),
    )
    # collection stats straight from the per-gen rows (sums commute with
    # the per-term groupBy) so the BM25 cache for lb_key10 is available
    # BEFORE the terms table is written
    agg = tg_active.agg(
        F.sum("cf").alias("sttf"),
        F.sum("df").alias("sdf"),
        F.count_distinct("term").alias("nterms"),
    ).collect()[0]
    doc_count_live = int(state["next_doc"]) - int(state.get("n_expunged", 0))

    # refresh-time lb_key10 (the reason incremental terms tables used to
    # write it NULL was the avgdl drift — recomputing here against the
    # CURRENT stats keeps the floor valid until the next refresh, which
    # recomputes it again; segments written after this refresh are
    # invisible until then, so avgdl cannot drift under a live searcher)
    from lucene_spark.index.builder import lb10_by_term
    from lucene_spark.search.bm25 import BM25Scorer

    cache = BM25Scorer.build(
        max(1, doc_count_live), max(1, int(agg["sttf"] or 0))
    ).cache
    lb10 = lb10_by_term(
        spark, os.path.join(out_dir, "postings"), cache, gens=active
    )
    terms_new = os.path.join(out_dir, "terms_new")
    terms_all.join(lb10, "term", "left").sortWithinPartitions("term").write.mode(
        "overwrite"
    ).parquet(terms_new)

    import shutil

    terms_final = os.path.join(out_dir, "terms")
    terms_old = terms_final + ".old"
    shutil.rmtree(terms_old, ignore_errors=True)
    if os.path.isdir(terms_final):
        os.replace(terms_final, terms_old)
    os.replace(terms_new, terms_final)

    stats = {
        # next_doc is the docID high-water mark (maxDoc analog);
        # n_expunged counts docs PHYSICALLY removed by
        # expunge_deletes_tiered (docID gaps stay — docIDs are never
        # reassigned), so live doc_count = next_doc - n_expunged
        "doc_count": doc_count_live,
        "sum_total_term_freq": int(agg["sttf"] or 0),
        "sum_doc_freq": int(agg["sdf"] or 0),
        "distinct_terms": int(agg["nterms"] or 0),
    }
    from lucene_spark.util.metaio import write_meta_parquet

    write_meta_parquet(os.path.join(out_dir, "stats"), [stats])
    from lucene_spark.util.blockcodec import CODEC_NAME

    manifest = {
        "version": 2,
        "codec": CODEC_NAME,
        **stats,
        "hot_df_threshold": hot_df_threshold,
        "hot_salt_span": hot_salt_span,
        "store_positions": store_positions,
        "store_offsets": store_offsets,
        "store_payloads": store_payloads,
        "tokenizer": tokenizer,
        "token_filters": token_filters,
        "block_size": 256,
        "incremental": True,
        "num_segments": len(state["segments"]),
        "gens": active,
        "num_gens": len(gens),
        "merged_new_segments": touched,
        "compacted_gens": compacted,
    }
    if state.get("expunged_at"):
        manifest["expunged_at"] = state["expunged_at"]
    _atomic_json(os.path.join(out_dir, "manifest.json"), manifest)
    _atomic_json(_state_path(out_dir), state)
    shutil.rmtree(terms_old, ignore_errors=True)
    for d in old_dirs:
        shutil.rmtree(d, ignore_errors=True)
    return manifest


def force_merge(
    spark: SparkSession,
    out_dir: str,
    max_num_gens: int = 1,
    *,
    partitions: int | None = None,
) -> dict:
    """IndexWriter.forceMerge(maxNumSegments) analog (reference
    index/IndexWriter.java:2050-2075) for tiered incremental indexes:
    merge down to AT MOST ``max_num_gens`` generations, regardless of
    the tiered policy's size heuristics. max_num_gens=1 is the classic
    optimize(); higher values balance merge cost against read
    amplification, like Lucene's maxNumSegments.

    Grouping is contiguous in state order (generations hold disjoint
    ascending docID ranges, so any concatenation-ordered group satisfies
    the run-merge block invariant), greedy near-equal by doc count —
    the doc-count analog of forceMerge's size balancing. Groups that
    end up singletons are left untouched (Lucene also skips segments
    that already satisfy the budget). Compaction merge-applies-deletes
    exactly like refresh().

    Crash-safety ordering mirrors expunge_deletes_tiered: new gen dirs
    are written first (stale extras until committed), state is updated,
    then refresh() republishes the manifest — THE commit point — and
    only then are the old generation dirs removed."""
    import shutil

    from lucene_spark.index.deletes import load_deleted_ids

    if int(max_num_gens) < 1:
        raise ValueError("force_merge: max_num_gens must be >= 1")
    # never let the inner refresh's tier policy re-merge past the budget
    tier = max(8, int(max_num_gens) + 1)
    m = refresh(
        spark, out_dir, partitions=partitions, segs_per_tier=tier
    )
    state = _load_state(out_dir)
    gens: list[dict] = state["gens"]
    if len(gens) <= max_num_gens:
        return m

    total = sum(int(g["num_docs"]) for g in gens)
    target = total / float(max_num_gens)
    groups: list[list[dict]] = [[]]
    cum = 0
    for g in gens:
        # start a new group when the current one holds its doc share,
        # unless that would leave more gens than remaining group slots
        if (
            groups[-1]
            and cum >= target * len(groups)
            and len(groups) < max_num_gens
        ):
            groups.append([])
        groups[-1].append(g)
        cum += int(g["num_docs"])

    deleted = load_deleted_ids(spark, out_dir)
    old_dirs: list[str] = []
    for group in groups:
        if len(group) < 2:
            continue
        n = state.get("next_gen", 0)
        state["next_gen"] = n + 1
        gname = f"g{n:06d}"
        _compact_gens(spark, out_dir, group, gname, deleted=deleted)
        names = {g["gen"] for g in group}
        for g in group:
            old_dirs.append(
                os.path.join(out_dir, "postings", f"gen={g['gen']}")
            )
            old_dirs.append(
                os.path.join(out_dir, "terms_gens", f"gen={g['gen']}")
            )
        gens[:] = [g for g in gens if g["gen"] not in names]
        gens.append(
            {
                "gen": gname,
                "segs": [s for g in group for s in g["segs"]],
                "num_docs": int(sum(g["num_docs"] for g in group)),
            }
        )
    _atomic_json(_state_path(out_dir), state)
    m = refresh(
        spark, out_dir, partitions=partitions, segs_per_tier=tier
    )
    for d in old_dirs:
        shutil.rmtree(d, ignore_errors=True)
    return m


def expunge_deletes_tiered(
    spark: SparkSession,
    out_dir: str,
    *,
    partitions: int | None = None,
    store_positions: bool = True,
) -> dict:
    """forceMergeDeletes for tiered incremental indexes (reference
    index/IndexWriter.java forceMergeDeletes): physically rewrite every
    generation still holding tombstoned docs, drop those docs from the
    docmap, clear the tombstone table, and republish stats/manifest.

    Order of operations (crash-safe):
      1. refresh() — absorbs any unmerged segment runs into generations
         first, so clearing tombstones later can never let a stale
         segment run re-introduce a deleted doc.
      2. Per-gen rewrite via _compact_gens(deleted=...) — only gens whose
         docID ranges intersect the tombstone set are touched (Lucene
         skips segments without deletes). Gens hold whole segments and
         segment docID ranges are contiguous by construction, so the
         intersection test is a searchsorted over the sorted tombstones.
      3. Docmap anti-join rewrite + state update, then a second
         refresh() — the manifest commit point — to rebuild terms/stats/
         manifest from the surviving generations (doc_count reflects
         n_expunged). Tombstones and old gen/docmap dirs are deleted
         only AFTER that commit: until then the committed manifest still
         references the old gens (which contain the deleted docs), so
         tombstones must keep filtering them and the dirs must survive.

    docIDs of survivors are preserved (sparse docID space, same as the
    batch expunge); statistics are recomputed, so scores change exactly
    as Lucene's do after the merge that applies deletes."""
    import shutil

    from lucene_spark.index.deletes import load_deleted_ids, _deletes_dir

    refresh(
        spark, out_dir, partitions=partitions, store_positions=store_positions
    )
    deleted = load_deleted_ids(spark, out_dir)
    if deleted.size == 0:
        with open(os.path.join(out_dir, "manifest.json")) as f:
            return json.load(f)

    state = _load_state(out_dir)
    # segment docID ranges: write_segment assigns [start, start+n) in
    # state["segments"] order (next_doc high-water mark)
    seg_range: dict[str, tuple[int, int]] = {}
    acc = 0
    for s in state["segments"]:
        seg_range[s["seg"]] = (acc, acc + s["num_docs"])
        acc += s["num_docs"]

    def _n_deleted_in(gen: dict) -> int:
        n = 0
        for seg in gen["segs"]:
            lo, hi = seg_range[seg]
            n += int(
                np.searchsorted(deleted, hi) - np.searchsorted(deleted, lo)
            )
        return n

    gens: list[dict] = state["gens"]
    old_dirs: list[str] = []
    total_dropped = 0
    for g in list(gens):
        n_del = _n_deleted_in(g)
        if n_del == 0:
            continue
        n = state.get("next_gen", 0)
        state["next_gen"] = n + 1
        gname = f"g{n:06d}"
        _compact_gens(spark, out_dir, [g], gname, deleted=deleted)
        old_dirs.append(os.path.join(out_dir, "postings", f"gen={g['gen']}"))
        old_dirs.append(os.path.join(out_dir, "terms_gens", f"gen={g['gen']}"))
        gens[:] = [x for x in gens if x["gen"] != g["gen"]]
        gens.append(
            {
                "gen": gname,
                "segs": g["segs"],
                "num_docs": int(g["num_docs"]) - n_del,
            }
        )
        total_dropped += n_del

    # docmap rewrite: drop tombstoned rows, preserving the seg=... layout
    # (future write_segment calls keep appending seg dirs)
    docmap_dir = os.path.join(out_dir, "docmap")
    from lucene_spark.index.deletes import tombstones_df

    tdf = tombstones_df(spark, out_dir)
    dm = spark.read.parquet(docmap_dir)
    dm2 = dm.join(tdf, "docID", "left_anti")
    dm_new = docmap_dir + ".new"
    dm2.write.partitionBy("seg").mode("overwrite").parquet(dm_new)
    dm_old = docmap_dir + ".old"
    shutil.rmtree(dm_old, ignore_errors=True)
    os.replace(docmap_dir, dm_old)
    os.replace(dm_new, docmap_dir)

    # publish order (crash-safe): state first (new gens recorded), then
    # refresh() — THE manifest commit point, after which manifest['gens']
    # lists only the rewritten generations — and only then cleanup.
    # Deleting old gen dirs or tombstones BEFORE the manifest commit
    # would break the invariant that manifest['gens'] is the live set
    # (a crash would leave a committed manifest referencing deleted
    # dirs, silently losing postings) and would let the still-committed
    # old gens resurrect deleted docs once tombstones are gone. After
    # the commit, leftover old dirs are stale EXTRAS (invisible to the
    # gen-pruned reader) and leftover tombstones point at physically
    # removed docs (harmless no-op filter).
    state["n_expunged"] = int(state.get("n_expunged", 0)) + total_dropped
    state["expunged_at"] = time.time()
    _atomic_json(_state_path(out_dir), state)
    manifest = refresh(
        spark, out_dir, partitions=partitions, store_positions=store_positions
    )
    shutil.rmtree(_deletes_dir(out_dir), ignore_errors=True)
    shutil.rmtree(dm_old, ignore_errors=True)
    for d in old_dirs:
        shutil.rmtree(d, ignore_errors=True)
    return manifest


def _update_hit_docids(docmap: DataFrame, docs_df: DataFrame) -> DataFrame:
    """docIDs whose (repo, path) key is being replaced — a pure
    distributed semi-join, NO driver materialization of the batch's keys
    (a 10^8-doc update batch must never collect to the driver). AQE picks
    broadcast vs shuffle from the runtime size of the distinct key side."""
    keys = docs_df.select("repo", "path").distinct()
    return docmap.join(keys, ["repo", "path"], "left_semi").select("docID")


def update_documents(
    spark: SparkSession,
    out_dir: str,
    docs_df: DataFrame,
    *,
    partitions: int | None = None,
    store_positions: bool = True,
    do_refresh: bool = True,
) -> dict:
    """updateDocument analog (index/IndexWriter.java:1488-1553): atomically
    delete any existing docs with the same (repo, path) keys and append
    the new versions as a fresh segment with NEW docIDs (exactly Lucene's
    delete-by-term + add). Statistics stay stale until a rebuild, like
    Lucene until merge; tombstones persist across refresh() because the
    segment runs still contain the old docs.

    Requires the incremental (runs/seg=*) layout produced by
    start_indexing_stream / write_segment.

    Crash-safety ordering: the tombstone docIDs are COMPUTED before the
    replacement segment exists (so new docs can never be tombstoned) but
    only PUBLISHED after the segment and state.json are durable — a
    crash in between leaves both versions visible (benign duplicate)
    rather than permanently deleting the documents without their
    replacements."""
    from lucene_spark.index.deletes import publish_tombstones, stage_tombstones

    docmap = spark.read.parquet(os.path.join(out_dir, "docmap"))
    hit = _update_hit_docids(docmap, docs_df)
    staging, n_deleted = stage_tombstones(spark, out_dir, hit)

    state = _load_state(out_dir)
    seg_name = f"u{len(state['segments']):06d}"
    n = write_segment(
        spark, docs_df, out_dir, seg_name, state["next_doc"],
        partitions=partitions, store_positions=store_positions,
    )
    state["next_doc"] += n
    state["segments"].append(
        {"seg": seg_name, "num_docs": n, "updated": True, "ts": time.time()}
    )
    _atomic_json(_state_path(out_dir), state)
    if staging is not None:
        publish_tombstones(out_dir, staging)
    out = {"deleted": int(n_deleted), "added": int(n)}
    if do_refresh:
        out["manifest"] = refresh(
            spark, out_dir, partitions=partitions, store_positions=store_positions
        )
    return out


def add_indexes(
    spark: SparkSession,
    dst_dir: str,
    src_dir: str,
    *,
    partitions: int | None = None,
    store_positions: bool = True,
    do_refresh: bool = True,
) -> dict:
    """IndexWriter.addIndexes(Directory...) analog (reference
    lucene/core/src/java/org/apache/lucene/index/IndexWriter.java
    addIndexes: foreign segments are COPIED with rebased docIDs, never
    re-tokenized): import a built index — batch or tiered layout — into
    a tiered destination as one new generation + one pseudo-segment.

    Imported docs get docIDs [next_doc, next_doc + span) preserving
    source-docID order — arrival-order semantics, exactly like a
    streamed batch; the batch builder's global-rank docID identity does
    NOT extend across imports. Duplicate (repo, path, commit) keys are
    NOT deduplicated (Lucene's addIndexes doesn't either).

    The rebase is a map-only Arrow pass over the source postings: only
    the raw FIRST value of each block's docID delta chain and the
    min_doc/max_doc block metadata shift by the offset; tf/norm/
    position/offset payloads and all term statistics are docID-invariant
    and copied verbatim (term stats land as the new gen's terms_gens
    rows, so the next refresh folds them into the global terms table and
    recomputes lb_key10). Refuses a source with live tombstones (run
    expunge first — copying a foreign tombstone table would alias
    rebased docIDs) and a store_offsets mismatch with the destination.

    A source that was expunged has a SPARSE docID space: the pseudo-
    segment records the full span (expunge_deletes_tiered's range
    arithmetic needs contiguous per-segment ranges) and the hole count
    is added to state["n_expunged"] so doc_count stays honest."""
    from lucene_spark.index.deletes import load_deleted_ids
    from lucene_spark.util.blockcodec import validate_manifest_codec

    with open(os.path.join(src_dir, "manifest.json")) as f:
        src_m = json.load(f)
    validate_manifest_codec(src_m)
    if load_deleted_ids(spark, src_dir).size:
        raise ValueError(
            "add_indexes: source index has live tombstones — expunge it "
            "first (rebased docIDs cannot alias a foreign tombstone table)"
        )
    dst_mpath = os.path.join(dst_dir, "manifest.json")
    if os.path.exists(dst_mpath):
        with open(dst_mpath) as f:
            dst_m = json.load(f)
        validate_manifest_codec(dst_m)
        if bool(dst_m.get("store_offsets")) != bool(src_m.get("store_offsets")):
            raise ValueError(
                "add_indexes: store_offsets mismatch between source and "
                "destination (mixed-payload generations would corrupt "
                "postings_offsets)"
            )
        if bool(dst_m.get("store_payloads")) != bool(src_m.get("store_payloads")):
            raise ValueError(
                "add_indexes: store_payloads mismatch between source and "
                "destination (mixed-payload generations would corrupt "
                "postings_payloads)"
            )
        if dst_m.get("tokenizer", "standard") != src_m.get("tokenizer", "standard"):
            raise ValueError(
                "add_indexes: tokenizer mismatch between source and "
                "destination (terms would come from different analyzers)"
            )
    os.makedirs(dst_dir, exist_ok=True)
    # pin the destination's index-wide options from the source manifest
    # (so a later refresh()/write_segment sees the right payload flags
    # even when the import is the destination's first write)
    _record_index_options(
        dst_dir,
        bool(src_m.get("store_positions", True)),
        bool(src_m.get("store_offsets", False)),
        tuple(src_m.get("token_filters", [])),
        tokenizer=src_m.get("tokenizer", "standard"),
        store_payloads=bool(src_m.get("store_payloads", False)),
    )
    state = _load_state(dst_dir)
    offset = int(state["next_doc"])

    src_dm = spark.read.parquet(os.path.join(src_dir, "docmap"))
    agg = src_dm.agg(
        F.count("*").alias("live"), F.max("docID").alias("mx")
    ).collect()[0]
    live = int(agg["live"] or 0)
    if live == 0:  # empty source: no-op (Lucene's addIndexes likewise)
        if os.path.exists(dst_mpath):
            with open(dst_mpath) as f:
                return json.load(f)
        return {"imported": 0, "gen": None}
    span = int(agg["mx"]) + 1  # sparse after a source expunge

    state.setdefault("gens", [])
    n_imp = sum(1 for s in state["segments"] if s["seg"].startswith("imp"))
    seg_name = f"imp{n_imp:06d}"
    gname = f"g{state.get('next_gen', 0):06d}"
    state["next_gen"] = state.get("next_gen", 0) + 1

    # 1. postings: rebase docIDs in one Arrow pass
    src_post = spark.read.parquet(os.path.join(src_dir, "postings"))
    if src_m.get("gens"):
        src_post = src_post.filter(F.col("gen").isin(list(src_m["gens"])))
    for c in ("offs_vb", "olen_vb", "pay_vb"):
        if c not in src_post.columns:
            src_post = src_post.withColumn(c, F.lit(b""))
    src_post = src_post.select(*[f.name for f in BLOCK_SCHEMA.fields])

    def _shift(batches):
        for pdf in batches:
            yield pdf.assign(
                docs_vb=shift_doc_blocks(pdf["docs_vb"], offset),
                min_doc=pdf["min_doc"] + offset,
                max_doc=pdf["max_doc"] + offset,
            )

    (
        src_post.mapInPandas(_shift, schema=BLOCK_SCHEMA)
        .sortWithinPartitions("term", "salt", "block_seq")
        .write.mode("overwrite")
        .parquet(os.path.join(dst_dir, "postings", f"gen={gname}"))
    )

    # 2. per-gen term stats from the source's global terms table
    (
        spark.read.parquet(os.path.join(src_dir, "terms"))
        .select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.col("cf").cast("long").alias("cf"),
            "max_tf",
            "min_norm",
        )
        .write.mode("overwrite")
        .parquet(os.path.join(dst_dir, "terms_gens", f"gen={gname}"))
    )

    # 3. docmap rows with rebased docIDs under the pseudo-segment
    (
        src_dm.select(*_META_COLS)
        .withColumn("docID", F.col("docID") + offset)
        .select(*_META_COLS)
        .write.mode("overwrite")
        .parquet(os.path.join(dst_dir, "docmap", f"seg={seg_name}"))
    )

    # 4. state LAST (files durable first — the write_segment commit order)
    state["next_doc"] = offset + span
    state["n_expunged"] = int(state.get("n_expunged", 0)) + (span - live)
    state["segments"].append(
        {"seg": seg_name, "num_docs": span, "imported": True,
         "ts": time.time()}
    )
    state["gens"].append(
        {"gen": gname, "segs": [seg_name], "num_docs": span}
    )
    _atomic_json(_state_path(dst_dir), state)

    if not do_refresh:
        return {"imported": live, "gen": gname}
    return refresh(
        spark, dst_dir, partitions=partitions,
        store_positions=store_positions,
        store_offsets=bool(src_m.get("store_offsets")),
    )
