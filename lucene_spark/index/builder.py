"""Distributed inverted-index builder — the Spark-first reimagining of
Lucene's IndexWriter flush/merge pipeline (SURVEY.md §2.A, §3.1).

Dataflow (two shuffles of documents or postings, mirroring DWPT-flush +
merge; the terms aggregate shuffles only one header row per run):

  docs(repo,path,commit,lang,content)
    -> range placement on (repo,path,commit) + sortWithinPartitions
                                               [shuffle 1: doc -> segment]
    -> mapInPandas invert+flush: docID assignment (global sort rank),
       tokenize (StandardAnalyzer chain), per-doc tf/positions,
       dl/norm/sha256, then a MAP-SIDE SEGMENT FLUSH: per-partition
       posting runs (term -> varbyte docID-gaps/tfs/norms/position-gaps)
       emitted every `flush_docs` documents
                                               (DWPT buffer + flush analog:
                                                index/IndexingChain.java:552,1174-1290,
                                                index/DocumentsWriterPerThread.java:406-456,
                                                16MB RAM trigger IndexWriterConfig.java:83)
    -> docmap table (meta rows)                (segment docIDs + .nvd norms)
    -> groupBy(term).agg over run headers -> terms table (df/cf + impact bounds)
    -> merge_postings: runs placed by term range, sortWithinPartitions
       (term, salt, first_doc), one stateful mapInPandas kernel streams
       each partition and carves 256-doc blocks per (term, salt) group
                                               [shuffle 2: segment -> term]
       (SegmentMerger's k-way merge, index/SegmentMerger.java:114-151 —
        runs hold disjoint, ascending docID ranges, so the merge is pure
        concatenation in first_doc order: no re-sort, no docBase remap;
        block encode = Lucene104PostingsWriter.java:237-359)
    -> postings table, written straight from the merge: partition r holds
       term range r in (term, salt, block_seq) order (parquet min/max
       stats replace the block-tree term dictionary)
    -> stats table (IndexSearcher.collectionStatistics analog,
       search/IndexSearcher.java:1134-1148)
    -> manifest.json written atomically last   (segments_N two-phase commit,
       index/IndexWriter.java:3601)

Scale design notes (100 TB / 1000 executors):
  - docID = global rank of (repo,path,commit): deterministic under any
    partitioning/parallelism -> rank-identity & resume reproduce at N vs 4N.
  - Map-side combine: the shuffle to term-space moves ONE compact binary
    row per (partition-flush, term), not one row per posting — ~10-100x
    less shuffle volume than exploding (docID, term, tf, positions) rows,
    and the varbyte payload is already the final wire format.
  - Hot-term skew (license-header tokens): terms with df above
    `hot_df_threshold` are salted by run doc-range (`salt = first_doc //
    hot_salt_span`); salt spans are disjoint doc ranges so the global
    posting list is the concatenation of per-salt block runs — no
    re-merge needed (SURVEY.md §4.2 "Hot-term skew"). The merge kernel
    carries at most one salted group across Arrow batches, so salting
    bounds what it buffers.
  - Per-partition memory is bounded by `flush_docs` (RAM-buffer analog):
    a partition emits multiple independent runs, merged for free later.
  - Norm bytes are embedded per posting (1 B/doc, like .nvd inlined) so
    query-time scoring needs NO join against docmap.
  - All heavy lifting is numpy inside Arrow-batched pandas UDFs; block
    rows carry (max_tf, min_norm) impact bounds for block-max pruning.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from itertools import chain

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lucene_spark.analysis import analyze
from lucene_spark.analysis.fastpath import tokenize_window_ascii
from lucene_spark.analysis.standard import analyze_with_offsets
from lucene_spark.util.blockcodec import (
    CODEC_NAME,
    decode_blocks,
    encode_blocks,
)
from lucene_spark.util.blockcodec import encode_block as encode
from lucene_spark.util.metaio import write_meta_parquet
from lucene_spark.util.smallfloat import int_to_byte4
from lucene_spark.util.varbyte import delta_encode, segmented_delta_encode

BLOCK_SIZE = 256  # Lucene104PostingsFormat ForUtil.BLOCK_SIZE (ForUtil.java:34)
# Per-partition run size bound (DWPT RAM-buffer analog). 16k docs, NOT
# 64k: the vectorized invert materializes the window's flat token array
# (objects) plus packed sort keys, and a 64k-doc window (~45M tokens)
# measured 2.4x slower in the real local[8] build (invert 96.7s vs
# 39.8s; worse still under concurrent memory pressure) — the retained
# per-window working set saturates allocator and memory bandwidth.
# Run boundaries do NOT affect final index bytes (blocks are carved
# from the concatenated per-term postings), so this is purely an
# execution knob; smaller windows cost only a few % more run rows in
# the merge shuffle.
FLUSH_DOCS = 1 << 14

# Cap on driver-side boundary-sample rows (doc keys or vocabulary terms).
# Boundary quality needs only ~n_part * O(100) points; 64k keeps every
# sample constant-size w.r.t. corpus/vocabulary size (SCALE.md: driver
# state is O(#ranges), never O(data)).
KEY_SAMPLE_MAX = 65536.0

# Mixed output of the invert pass: meta rows (term NULL, one per doc) and
# run rows (one per (flush, term), compact varbyte payloads).
INVERT_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("first_doc", LongType()),
        StructField("ndocs", IntegerType()),
        StructField("cf", LongType()),
        StructField("max_tf", IntegerType()),
        StructField("min_norm", IntegerType()),
        StructField("docs_vb", BinaryType()),
        StructField("tfs_vb", BinaryType()),
        StructField("norms_b", BinaryType()),
        StructField("pos_vb", BinaryType()),
        StructField("offs_vb", BinaryType()),
        StructField("olen_vb", BinaryType()),
        StructField("pay_vb", BinaryType()),
        StructField("docID", LongType()),
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("lang", StringType()),
        StructField("content_sha256", BinaryType()),
        StructField("dl", IntegerType()),
        StructField("norm", IntegerType()),
    ]
)

BLOCK_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("salt", LongType()),
        StructField("block_seq", LongType()),
        StructField("ndocs", IntegerType()),
        StructField("min_doc", LongType()),
        StructField("max_doc", LongType()),
        StructField("max_tf", IntegerType()),
        StructField("min_norm", IntegerType()),
        StructField("min_tf", IntegerType()),
        StructField("max_norm", IntegerType()),
        StructField("docs_vb", BinaryType()),
        StructField("tfs_vb", BinaryType()),
        StructField("norms_b", BinaryType()),
        StructField("pos_vb", BinaryType()),
        StructField("offs_vb", BinaryType()),
        StructField("olen_vb", BinaryType()),
        StructField("pay_vb", BinaryType()),
    ]
)
_BLOCK_COLS = [f.name for f in BLOCK_SCHEMA.fields]

_RUN_COLS = [
    "term", "first_doc", "ndocs", "cf", "max_tf", "min_norm",
    "docs_vb", "tfs_vb", "norms_b", "pos_vb", "offs_vb", "olen_vb",
    "pay_vb",
]
_META_COLS = [
    "docID", "repo", "path", "commit", "lang", "content_sha256", "dl", "norm",
]

# ---------------------------------------------------------------------------
# Explicit range partitioning (sampling-free on the heavy path)
#
# Spark's repartitionByRange samples the FULL upstream computation to pick
# boundaries — an extra complete pass (for us: a second corpus generation /
# parquet scan, or a second run of the postings merge). Instead we sample
# keys once on the driver (column-pruned — cheap on parquet; analytic for
# the synthetic corpus), broadcast the sorted boundary list, assign a range
# id with np.searchsorted inside an Arrow batch UDF, and hash-shuffle on
# that id: ONE pass, deterministic boundaries (reused across resume /
# cluster sizes). Python str comparison (code points) == Spark's UTF-8
# binary string ordering, so range ids are monotone under Spark's sort.
# ---------------------------------------------------------------------------

# Separator must sort below every character that can appear in the key
# columns for flattened order == tuple order. \x01 (not \x00: pandas 2.x
# object-string concat silently DROPS NUL bytes) — keys containing \x00 or
# \x01 are not supported (no real repo/path/commit does).
_KEY_SEP = "\x01"


def _flatten_key(repo: str, path: str, commit: str) -> str:
    return f"{repo}{_KEY_SEP}{path}{_KEY_SEP}{commit}"


def _quantile_bounds(sorted_keys: list, n_part: int) -> list:
    """n_part-1 deduped split points from a sorted sample."""
    if n_part <= 1 or not sorted_keys:
        return []
    out, seen = [], set()
    for i in range(1, n_part):
        k = sorted_keys[min(len(sorted_keys) - 1, i * len(sorted_keys) // n_part)]
        if k not in seen:
            seen.add(k)
            out.append(k)
    return out


def _with_range_id(df: DataFrame, bounds: list[str], key_cols: list[str], out_col: str = "rpid"):
    """Add a range-partition id column via broadcast boundaries +
    np.searchsorted (no sampling job, no extra pass)."""
    barr = np.array(bounds, dtype=object)

    if len(key_cols) == 3:
        @F.pandas_udf(IntegerType())
        def rid(repo: pd.Series, path: pd.Series, commit: pd.Series) -> pd.Series:
            keys = (repo + _KEY_SEP + path + _KEY_SEP + commit).to_numpy(dtype=object)
            return pd.Series(np.searchsorted(barr, keys, side="right").astype(np.int32))

        return df.withColumn(out_col, rid(*[F.col(c) for c in key_cols]))

    @F.pandas_udf(IntegerType())
    def rid1(key: pd.Series) -> pd.Series:
        return pd.Series(
            np.searchsorted(barr, key.to_numpy(dtype=object), side="right").astype(np.int32)
        )

    return df.withColumn(out_col, rid1(F.col(key_cols[0])))


_LABEL_CACHE: dict[int, list[int]] = {}


def _placement_labels(spark: SparkSession, n_part: int) -> list[int]:
    """Murmur3 pre-image labels: labels[p] is an int whose Spark hash
    partition (pmod(hash(int), n_part)) is exactly p.

    DataFrame.repartition(n, col) hashes the column, and hashing small
    consecutive ints collides badly — with n ranges into n partitions some
    partitions get 2 ranges and some get 0, doubling the straggler's load.
    Mapping each range id through a pre-image label gives EXACT 1:1
    range->partition placement (the explicit-partitioner idiom, DataFrame
    edition). One tiny driver job per n_part, cached."""
    if n_part in _LABEL_CACHE:
        return _LABEL_CACHE[n_part]
    probe = spark.range(0, max(4096, 64 * n_part)).select(
        F.col("id").cast("int").alias("id"),
        F.pmod(F.hash(F.col("id").cast("int")), F.lit(n_part)).alias("p"),
    ).collect()
    by_target: dict[int, list[int]] = {}
    for r in probe:
        by_target.setdefault(int(r["p"]), []).append(int(r["id"]))
    labels = [by_target[p].pop(0) for p in range(n_part)]
    _LABEL_CACHE[n_part] = labels
    return labels


def _repartition_exact(
    spark: SparkSession, df: DataFrame, n_part: int, rid_col: str = "rpid"
) -> DataFrame:
    """Shuffle so range id r lands exactly on partition r % n_part."""
    labels = _placement_labels(spark, n_part)
    lab_arr = F.array(*[F.lit(x) for x in labels])
    return (
        df.withColumn(
            "__plabel", F.element_at(lab_arr, F.pmod(F.col(rid_col), n_part) + 1)
        )
        .repartition(n_part, "__plabel")
        .drop("__plabel")
    )


# fast-path overlong prefilter: any ASCII token MATCH of length >= 256
# starts with a word char and continues through 255+ word-or-mid chars
import re as _re

_OVERLONG_RE = _re.compile(r"[0-9A-Za-z_][0-9A-Za-z_.,;:']{255,}")


def _window_codes(
    texts: list[str],
    with_offsets: bool = False,
    token_filters: tuple[str, ...] = (),
) -> tuple:
    """`_window_codes_raw` plus an optional analyzer token-filter chain
    (e.g. ("possessive", "porter") — PorterStemFilter.java:51 /
    EnglishPossessiveFilter.java:25 analogs). Filters run on the window
    VOCABULARY only (one call per distinct surface form) and the int32
    token stream is remapped with a single numpy gather — stemming cost
    is O(|vocab|), not O(tokens), which is what makes it free at 100-TB
    scale. For 1:1 filters token count / positions / offsets are
    unchanged, so norms and dl stay valid.

    Returns (codes, uniq, dls, emitted[, tok_st, tok_en]). ``emitted``
    is None for 1:1 chains; with a DROPPING filter (StopFilter analog,
    analysis/StopFilter.java:25) dropped tokens stay IN the stream as
    code -1 — they keep their position slot, so surviving tokens'
    positions gap exactly like enablePositionIncrements — and
    ``emitted`` carries the per-doc count of SURVIVING tokens
    (FieldInvertState.length, which feeds dl/norms). ``dls`` stays the
    RAW per-doc token count: it is the stream segmentation every
    consumer slices by."""
    out = _window_codes_raw(texts, with_offsets)
    if not token_filters:
        codes, uniq, dls, *rest = out
        return (codes, uniq, dls, None, *rest)
    from lucene_spark.analysis.porter import filter_vocab, split_chain

    codes, uniq, dls, *rest = out
    vocab_chain, sh_n = split_chain(token_filters)
    emitted = None
    if vocab_chain:
        new_uniq, remap = filter_vocab(uniq, vocab_chain)
        codes = remap[codes]
        uniq = new_uniq
        if remap.size and (remap < 0).any():
            keep_cum = np.concatenate(
                ([0], np.cumsum((codes >= 0).astype(np.int64)))
            )
            off = np.concatenate(([0], np.cumsum(dls)))
            emitted = (keep_cum[off[1:]] - keep_cum[off[:-1]]).astype(
                dls.dtype
            )
    if sh_n is not None:
        # stream-level 1:N pass — the n-gram stream REPLACES the token
        # stream (dls become the emitted-gram counts; positions stay
        # "slot in stream", which is exactly ShingleFilter's
        # position assignment when outputUnigrams=False)
        codes, uniq, dls, rest = _shingle_stream(
            codes, uniq, dls, sh_n, tuple(rest)
        )
        rest = list(rest)
    return (codes, uniq, dls, emitted, *rest)


def _shingle_stream(
    codes: np.ndarray,
    uniq: list,
    dls: np.ndarray,
    n: int,
    rest: tuple,
) -> tuple:
    """Emit the n-gram-only token stream (ShingleFilter.java:34 with
    min==max==n, outputUnigrams=False; grams join with the default " "
    separator, ShingleFilter.DEFAULT_TOKEN_SEPARATOR). Pure numpy: gram
    starts are every in-document window of n tokens (dl' = max(dl-n+1,
    0) — arithmetic, no masks needed per doc), gram identity builds by
    iterative 64-bit pair-keying + np.unique so the distinct-gram
    vocabulary materializes once per window, never per token. Offsets
    (``rest`` = (tok_st, tok_en)) become [start of first token, end of
    last token) — OffsetAttribute semantics for a shingle."""
    new_dls = np.maximum(dls - (n - 1), 0).astype(dls.dtype)
    total = int(codes.shape[0])
    if total < n or int(new_dls.sum()) == 0:
        empty_rest = tuple(np.empty(0, dtype=np.int32) for _ in rest)
        return (
            np.empty(0, dtype=np.int32),
            [],
            new_dls,
            empty_rest,
        )
    doc_of = np.repeat(np.arange(len(dls), dtype=np.int64), dls)
    idx = np.arange(total - (n - 1), dtype=np.int64)
    starts = idx[doc_of[idx] == doc_of[idx + n - 1]]
    cur = codes[starts].astype(np.int64)
    gram_strs = uniq
    for d in range(1, n):
        right = codes[starts + d].astype(np.int64)
        key = (cur << 32) | right
        uk, inv = np.unique(key, return_inverse=True)
        lefts = (uk >> 32).astype(np.int64)
        rights = (uk & 0xFFFFFFFF).astype(np.int64)
        gram_strs = [
            gram_strs[int(li)] + " " + uniq[int(ri)]
            for li, ri in zip(lefts, rights)
        ]
        cur = inv.astype(np.int64)
    new_rest = ()
    if rest:
        st, en = rest
        new_rest = (st[starts], en[starts + n - 1])
    return cur.astype(np.int32), gram_strs, new_dls, new_rest


def _window_codes_raw(
    texts: list[str],
    with_offsets: bool = False,
) -> tuple:
    """(int32 term codes in document order, vocabulary, per-doc token
    counts[, token start offsets, token end offsets]) for a batch of
    documents. Offsets (requested via ``with_offsets``) are [start, end)
    CHARACTER offsets within each token's own document — the
    OffsetAttribute payload threaded through to the postings when the
    index is built with store_offsets.

    The heavy path is the byte-level vectorized ASCII tokenizer
    (analysis/fastpath.py): numpy masks find token runs, one gather
    materializes the tokens as an Arrow StringArray, and C++
    dictionary_encode assigns dense codes — ZERO per-token Python
    objects (the per-doc regex tokenizer allocated ~one Python string
    per token, and under concurrent executors that allocator/page
    traffic measured a 6.4x tokenize slowdown at 8 workers). Non-ASCII
    documents (or whole windows with >255-char token runs, which need
    the JFlex re-lex split) fall back to the reference `analyze()` and
    are merged into the same code space."""
    n = len(texts)
    # fast-path eligibility: pure ASCII and no token MATCH that could
    # exceed MAX_TOKEN_LENGTH (analyze() re-lexes those with the JFlex
    # 255-char split; the prefilter over-triggers safely — a word char
    # followed by 255+ word-or-mid chars covers every >=256-char match)
    ascii_ok = [
        t.isascii() and _OVERLONG_RE.search(t) is None for t in texts
    ]
    if all(ascii_ok):
        r = tokenize_window_ascii(texts, with_offsets)
        if r is not None:
            return r
        ascii_ok = [False] * n  # safety net: re-lex everything
        r = None
    else:
        a_texts = [t for t, ok in zip(texts, ascii_ok) if ok]
        r = tokenize_window_ascii(a_texts, with_offsets)
        if r is None:
            ascii_ok = [False] * n
    if r is None:
        # full python fallback (prefilter safety net; should not happen)
        if with_offsets:
            trip = [analyze_with_offsets(t) for t in texts]
            tok_lists = [t for t, _, _ in trip]
        else:
            tok_lists = [analyze(t) for t in texts]
        dls = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=n)
        total = int(dls.sum())
        flat = np.fromiter(chain.from_iterable(tok_lists), dtype=object, count=total)
        codes, uniq = pd.factorize(flat)
        out = (np.asarray(codes, dtype=np.int32), list(uniq), dls)
        if with_offsets:
            st = np.fromiter(
                chain.from_iterable(s for _, s, _ in trip),
                dtype=np.int32, count=total,
            )
            en = np.fromiter(
                chain.from_iterable(e for _, _, e in trip),
                dtype=np.int32, count=total,
            )
            out = out + (st, en)
        return out
    if with_offsets:
        codes_a, uniq, dls_a, offs_a, offe_a = r
    else:
        codes_a, uniq, dls_a = r
    uniq = list(uniq)
    vocab = {t: i for i, t in enumerate(uniq)}
    a_off = np.concatenate(([0], np.cumsum(dls_a))).astype(np.int64)
    dls = np.empty(n, dtype=np.int64)
    parts: list[np.ndarray] = []
    s_parts: list[np.ndarray] = []
    e_parts: list[np.ndarray] = []
    ai = 0
    for i, ok in enumerate(ascii_ok):
        if ok:
            parts.append(codes_a[a_off[ai]:a_off[ai + 1]])
            if with_offsets:
                s_parts.append(offs_a[a_off[ai]:a_off[ai + 1]])
                e_parts.append(offe_a[a_off[ai]:a_off[ai + 1]])
            dls[i] = dls_a[ai]
            ai += 1
        else:
            if with_offsets:
                toks, t_st, t_en = analyze_with_offsets(texts[i])
                s_parts.append(np.asarray(t_st, dtype=np.int32))
                e_parts.append(np.asarray(t_en, dtype=np.int32))
            else:
                toks = analyze(texts[i])
            arr = np.empty(len(toks), dtype=np.int32)
            for j, tk in enumerate(toks):
                c = vocab.get(tk)
                if c is None:
                    c = len(uniq)
                    vocab[tk] = c
                    uniq.append(tk)
                arr[j] = c
            parts.append(arr)
            dls[i] = len(toks)
    codes = (
        np.concatenate(parts) if parts else np.empty(0, dtype=np.int32)
    )
    if with_offsets:
        st = np.concatenate(s_parts) if s_parts else np.empty(0, np.int32)
        en = np.concatenate(e_parts) if e_parts else np.empty(0, np.int32)
        return codes, uniq, dls, st, en
    return codes, uniq, dls


def _invert_codes(
    codes32: np.ndarray,
    uniq: list[str],
    dls: np.ndarray,
    ids: np.ndarray,
    norms: np.ndarray,
    store_positions: bool,
    offs: tuple[np.ndarray, np.ndarray] | None = None,
    pays: np.ndarray | None = None,
    has_drops: bool = False,
) -> pd.DataFrame:
    """Invert one flush window (ascending-docID docs of ONE rpid range)
    into per-term posting runs — fully vectorized, no per-token Python.

    FieldInvertState accounting (tf + positions per term per doc) falls
    out of the dense term codes plus one packed sort: within a term
    code, tokens keep (doc asc, position asc) order, so posting
    boundaries are run breaks of (code, doc) and positions are already
    the per-doc concatenation the codec wants.
    """
    n = len(dls)
    total = int(dls.sum())
    terms: list[str] = []
    firsts, ndocs, cfs, mtfs, mnorms = [], [], [], [], []
    dvbs, tvbs, nbs, pvbs = [], [], [], []
    ovbs, lvbs, yvbs = [], [], []
    if total:
        # the kernel is MEMORY-BANDWIDTH-bound (~15 full passes over the
        # window's token-parallel arrays; that ceiling is what caps the
        # 2->8-core build scaling), so everything token-parallel is held
        # in the narrowest dtype: int32 term codes & positions, int32
        # WINDOW-LOCAL doc indexes, uint8 norms. Windows never span rpid
        # boundaries, so their docIDs are one contiguous arange and a
        # local index + ids[0] reconstructs the global docID exactly.
        assert int(ids[-1]) - int(ids[0]) + 1 == n, "window docIDs not contiguous"
        doc_rep = np.repeat(np.arange(n, dtype=np.int32), dls)
        norm_rep = np.repeat(norms.astype(np.uint8), dls)
        doc_starts = np.concatenate(([0], np.cumsum(dls)[:-1]))
        pos = np.arange(total, dtype=np.int32) - np.repeat(
            doc_starts.astype(np.int32), dls
        )
        if has_drops:
            # StopFilter analog: -1 codes are dropped AFTER positions are
            # assigned, so surviving tokens keep their gapped positions
            # (enablePositionIncrements semantics); norms passed in were
            # already computed from emitted counts
            keep = codes32 >= 0
            codes32 = codes32[keep]
            doc_rep = doc_rep[keep]
            norm_rep = norm_rep[keep]
            pos = pos[keep]
            if offs is not None:
                offs = (offs[0][keep], offs[1][keep])
            if pays is not None:
                pays = pays[keep]
            total = int(codes32.size)
        # stable grouping via ONE in-place introsort of unique packed keys
        # (code*total + index) — ~2.5x faster than a stable argsort of the
        # repeated codes at flush-window sizes. The pack needs
        # max_code*total + total-1 < 2^63; real flush windows are orders of
        # magnitude below that, but a pathological window (16k docs of
        # ~185k tokens each) could overflow SILENTLY and corrupt posting
        # grouping, so the bound is CHECKED and the rare giant window
        # falls back to a stable argsort (same result, ~2.5x slower).
        if total and (len(uniq) + 1) * total < (1 << 62):
            key = codes32.astype(np.int64) * np.int64(total) + np.arange(
                total, dtype=np.int64
            )
            key.sort()
            order = key % np.int64(total)
            del key
        else:
            order = np.argsort(codes32, kind="stable")
        sc = codes32[order]
        sd = doc_rep[order]
        sn = norm_rep[order]
        sp = pos[order] if store_positions else None
        if offs is not None:
            so = offs[0][order]
            sl = (offs[1] - offs[0]).astype(np.int32)[order]  # token lengths
        if pays is not None:
            sy = pays[order]
        del codes32, doc_rep, norm_rep, pos
        # posting boundaries: run breaks of (term code, doc). Size guards
        # cover a window whose every token was dropped (all-stopword docs)
        pb = (
            np.concatenate(([True], (sc[1:] != sc[:-1]) | (sd[1:] != sd[:-1])))
            if sc.size
            else np.empty(0, dtype=bool)
        )
        pstarts = np.flatnonzero(pb)
        tf = np.diff(np.append(pstarts, total))
        pdocs = sd[pstarts].astype(np.int64) + np.int64(ids[0])
        pnorms = sn[pstarts]
        pcodes = sc[pstarts]
        # term boundaries within the posting arrays. Codes ascend but are
        # NOT necessarily dense: a window assembled from batch slices can
        # skip vocabulary entries, so each slice is labeled by its ACTUAL
        # code, never by slice ordinal.
        tb = (
            np.concatenate(([True], pcodes[1:] != pcodes[:-1]))
            if pcodes.size
            else np.empty(0, dtype=bool)
        )
        tstarts = np.flatnonzero(tb)
        tends = np.append(tstarts[1:], pstarts.size)
        tok_bounds = np.append(pstarts, total)
        tcodes = pcodes[tstarts]
        for k in range(tstarts.size):
            s, e = int(tstarts[k]), int(tends[k])
            d = pdocs[s:e]
            t = tf[s:e]
            terms.append(uniq[int(tcodes[k])])
            firsts.append(int(d[0]))
            ndocs.append(d.size)
            cfs.append(int(t.sum()))
            mtfs.append(int(t.max()))
            mnorms.append(int(pnorms[s:e].min()))
            dvbs.append(encode(delta_encode(d)))
            tvbs.append(encode(t))
            nbs.append(pnorms[s:e].tobytes())
            if store_positions:
                p = sp[tok_bounds[s]:tok_bounds[e]].astype(np.int64)
                pvbs.append(encode(segmented_delta_encode(p, t)))
            else:
                pvbs.append(b"")
            if offs is not None:
                # per-doc token order == position order, so start offsets
                # ascend within each posting's tf segment (same shape as
                # positions); lengths are small non-negative ints
                ost = so[tok_bounds[s]:tok_bounds[e]].astype(np.int64)
                oln = sl[tok_bounds[s]:tok_bounds[e]].astype(np.int64)
                ovbs.append(encode(segmented_delta_encode(ost, t)))
                lvbs.append(encode(oln))
            else:
                ovbs.append(b"")
                lvbs.append(b"")
            if pays is not None:
                # per-occurrence payload ints in position order — same
                # tf-segment layout as positions/offset-lengths, plain
                # varbyte (values are arbitrary, never monotone)
                yvbs.append(encode(sy[tok_bounds[s]:tok_bounds[e]].astype(np.int64)))
            else:
                yvbs.append(b"")
    frame = pd.DataFrame(
        {
            "term": terms,
            "first_doc": pd.array(firsts, dtype="int64"),
            "ndocs": pd.array(ndocs, dtype="int32"),
            "cf": pd.array(cfs, dtype="int64"),
            "max_tf": pd.array(mtfs, dtype="int32"),
            "min_norm": pd.array(mnorms, dtype="int32"),
            "docs_vb": dvbs,
            "tfs_vb": tvbs,
            "norms_b": nbs,
            "pos_vb": pvbs,
            "offs_vb": ovbs,
            "olen_vb": lvbs,
            "pay_vb": yvbs,
        }
    )
    for c in _META_COLS:
        frame[c] = None
    return frame[_RUN_COLS + _META_COLS]


def _invert_partition(
    offsets: dict[int, int],
    store_positions: bool,
    flush_docs: int = FLUSH_DOCS,
    store_offsets: bool = False,
    token_filters: tuple[str, ...] = (),
    tokenizer: str = "standard",
    store_payloads: bool = False,
):
    """mapInPandas kernel: one generator instance == one range partition;
    assigns dense docIDs from the partition's global offset, buffers each
    document's tokens, and inverts + flushes per-term posting runs every
    ``flush_docs`` docs (DWPT flush analog) via the vectorized
    ``_invert_window`` — the only remaining per-doc Python is the
    C-speed regex tokenizer and the sha256 call."""
    from lucene_spark.analysis.porter import chain_can_drop

    # drop-capable chains (StopFilter) put -1 codes in the stream; the
    # flag gates every negative-handling pass so 1:1 chains and the
    # default path pay nothing
    droppy = chain_can_drop(token_filters)

    def fn(batches):
        # docIDs: each range id (rpid) owns the dense docID range
        # [offsets[rpid], offsets[rpid]+count); rows arrive key-sorted, so
        # rpid groups are contiguous within the partition. A physical
        # partition may hold several NON-adjacent rpid ranges (hash
        # placement), so runs must not span rpid boundaries — each run's
        # doc range has to be disjoint from every other run's for the
        # merge-by-first_doc concatenation to stay sorted.
        next_ids: dict[int, int] = {}
        # window state: per-batch code chunks with their own vocabularies
        # (token STRINGS never accumulate — only int32 codes + tiny
        # chunk vocabs live across batches; the flush remaps chunk codes
        # into one window code space via a |vocab|-sized table)
        win_chunks: list[tuple[np.ndarray, list[str]]] = []
        win_dls: list[np.ndarray] = []
        win_ids: list[np.ndarray] = []
        win_norms: list[np.ndarray] = []
        win_offs: list[tuple[np.ndarray, np.ndarray]] = []
        win_pays: list[np.ndarray] = []
        buffered = 0
        cur_rp: int | None = None

        def _flush_window() -> pd.DataFrame:
            nonlocal win_chunks, win_dls, win_ids, win_norms, win_offs, \
                win_pays, buffered
            vocab: dict[str, int] = {}
            uniq: list[str] = []
            parts: list[np.ndarray] = []
            for codes_c, uniq_c in win_chunks:
                if not uniq:
                    uniq = list(uniq_c)
                    vocab = {t: i for i, t in enumerate(uniq)}
                    parts.append(codes_c)
                    continue
                remap = np.empty(len(uniq_c), dtype=np.int32)
                for k, t in enumerate(uniq_c):
                    c = vocab.get(t)
                    if c is None:
                        c = len(uniq)
                        vocab[t] = c
                        uniq.append(t)
                    remap[k] = c
                if droppy:
                    # -1 (dropped) codes must survive the chunk remap —
                    # a plain gather would alias them to the last entry
                    mapped = remap[np.maximum(codes_c, 0)]
                    mapped[codes_c < 0] = -1
                    parts.append(mapped)
                else:
                    parts.append(remap[codes_c])
            codes = (
                np.concatenate(parts) if parts else np.empty(0, np.int32)
            )
            offs_w = None
            if store_offsets:
                offs_w = (
                    np.concatenate([o[0] for o in win_offs])
                    if win_offs else np.empty(0, np.int32),
                    np.concatenate([o[1] for o in win_offs])
                    if win_offs else np.empty(0, np.int32),
                )
            pays_w = None
            if store_payloads:
                pays_w = (
                    np.concatenate(win_pays)
                    if win_pays else np.empty(0, np.int64)
                )
            out = _invert_codes(
                codes,
                uniq,
                np.concatenate(win_dls),
                np.concatenate(win_ids),
                np.concatenate(win_norms),
                store_positions,
                offs=offs_w,
                pays=pays_w,
                has_drops=droppy,
            )
            win_chunks, win_dls, win_ids, win_norms, win_offs = [], [], [], [], []
            win_pays = []
            buffered = 0
            return out

        for pdf in batches:
            n = len(pdf)
            rpids = pdf["rpid"].to_numpy(np.int64)
            # vectorized docID assignment: one arange per contiguous rpid run
            ids = np.empty(n, dtype=np.int64)
            run_starts = np.flatnonzero(
                np.concatenate(([True], rpids[1:] != rpids[:-1]))
            )
            run_ends = np.append(run_starts[1:], n)
            for s, e in zip(run_starts, run_ends):
                rp = int(rpids[s])
                st = next_ids.get(rp, offsets[rp])
                ids[s:e] = np.arange(st, st + (e - s), dtype=np.int64)
                next_ids[rp] = st + (e - s)

            # tokenize the whole batch in one vectorized pass
            texts = list(pdf["content"])
            pays_b = None
            if tokenizer == "whitespace":
                from lucene_spark.analysis.whitespace import (
                    whitespace_window_codes,
                )

                codes_b, uniq_b, dls, pays_b = whitespace_window_codes(
                    texts, parse_payloads=store_payloads
                )
                kept_b = None  # whitespace path takes no filter chain
            elif store_offsets:
                codes_b, uniq_b, dls, kept_b, tok_st, tok_en = _window_codes(
                    texts, with_offsets=True, token_filters=token_filters
                )
            else:
                codes_b, uniq_b, dls, kept_b = _window_codes(
                    texts, token_filters=token_filters
                )
            # off_b segments the RAW token stream (dropped codes keep
            # their slot); dl/norms count only EMITTED tokens
            off_b = np.concatenate(([0], np.cumsum(dls)))
            eff_dls = kept_b if kept_b is not None else dls
            norms_arr = int_to_byte4(eff_dls)

            meta_pdf = pd.DataFrame(
                {
                    "docID": pd.array(ids, dtype="int64"),
                    "repo": pdf["repo"].to_numpy(),
                    "path": pdf["path"].to_numpy(),
                    "commit": pdf["commit"].to_numpy(),
                    "lang": pdf["lang"].to_numpy(),
                    "content_sha256": [
                        hashlib.sha256(t.encode("utf-8")).digest()
                        for t in texts
                    ],
                    "dl": pd.array(eff_dls, dtype="int32"),
                    "norm": pd.array(norms_arr, dtype="int32"),
                }
            )
            for c in _RUN_COLS:
                meta_pdf[c] = None
            yield meta_pdf[_RUN_COLS + _META_COLS]

            # window accumulation: flush at every rpid boundary (runs must
            # hold disjoint doc ranges) and every flush_docs docs
            for s, e in zip(run_starts, run_ends):
                rp = int(rpids[s])
                if rp != cur_rp:
                    if buffered:
                        yield _flush_window()
                    cur_rp = rp
                i = s
                while i < e:
                    take = min(e - i, flush_docs - buffered)
                    win_chunks.append(
                        (codes_b[off_b[i]:off_b[i + take]], uniq_b)
                    )
                    win_dls.append(dls[i:i + take])
                    win_ids.append(ids[i:i + take])
                    win_norms.append(norms_arr[i:i + take])
                    if store_offsets:
                        win_offs.append(
                            (
                                tok_st[off_b[i]:off_b[i + take]],
                                tok_en[off_b[i]:off_b[i + take]],
                            )
                        )
                    if pays_b is not None:
                        win_pays.append(pays_b[off_b[i]:off_b[i + take]])
                    buffered += take
                    i += take
                    if buffered >= flush_docs:
                        yield _flush_window()
        if buffered:
            yield _flush_window()

    return fn


# Columns the postings merge reads, in kernel order: salted runs, or
# postings blocks re-read as runs (compaction: first_doc = min_doc).
MERGE_COLS = [
    "term", "salt", "first_doc", "docs_vb", "tfs_vb", "norms_b",
    "pos_vb", "offs_vb", "olen_vb", "pay_vb",
]
# occurrence payloads: (column, delta-coded per posting, name in errors)
_OCC_PAYLOADS = (
    ("pos_vb", True, "positions"),
    ("offs_vb", True, "offsets"),
    ("olen_vb", False, None),
    ("pay_vb", False, "payloads"),
)


def _runs_cumsum(gaps: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Prefix sums restarted at every segment of ``gaps`` (segment i holds
    counts[i] values, its first gap absolute): the vectorized inverse of
    per-segment delta coding over many segments at once."""
    cs = np.cumsum(gaps, dtype=np.int64)
    before = np.concatenate(([0], cs))[np.cumsum(counts) - counts]
    return cs - np.repeat(before, counts)


def _merge_groups(cols: list[np.ndarray], starts: np.ndarray) -> pd.DataFrame:
    """Merge complete (term, salt) groups into 256-doc postings blocks.

    ``cols`` holds MERGE_COLS of consecutive rows; group g is rows
    [starts[g], starts[g+1]). Runs of one group hold disjoint docID
    ranges, so the group's postings are its runs concatenated in
    first_doc order (SegmentMerger's merge with no re-sort; block encode
    = Lucene104PostingsWriter.java:237-359). Every payload column of the
    batch decodes in one vectorized pass; block impact bounds come from
    reduceat over the block starts; only the block payload encodes are
    per block."""
    n = cols[0].size
    sizes = np.diff(np.append(starts, n))
    gid = np.repeat(np.arange(starts.size), sizes)
    first = cols[2]
    if np.any((first[1:] < first[:-1]) & (gid[1:] == gid[:-1])):
        order = np.lexsort((first, gid))
        cols = [c[order] for c in cols]
    term, salt, _, docs_vb, tfs_vb, norms_b = cols[:6]

    gaps, run_ndocs = decode_blocks(docs_vb)
    docs = _runs_cumsum(gaps, run_ndocs)
    tfs, _ = decode_blocks(tfs_vb)
    norms = np.frombuffer(b"".join(norms_b), dtype=np.uint8)
    run_post = np.concatenate(([0], np.cumsum(run_ndocs)))
    occ = np.concatenate(([0], np.cumsum(tfs)))

    # occurrence payloads, laid out on the global occurrence index. The
    # mixed guard: the flat arrays are cut by occurrence offsets of ALL
    # runs, so a group where only SOME runs carry a payload would be
    # silently misaligned. write_segment pins the index-wide options
    # (index_options.json), so this can only mean corruption or a
    # hand-mixed layout — fail loudly rather than emit garbage payloads.
    occ_vals: dict[str, np.ndarray] = {}
    occ_has: dict[str, np.ndarray] = {}
    for ci, (col, delta, label) in enumerate(_OCC_PAYLOADS, start=6):
        vb = cols[ci]
        present = np.fromiter(map(bool, vb), dtype=bool, count=n)
        if not present.any():
            continue
        carried = np.add.reduceat(present.astype(np.int64), starts)
        mixed = np.flatnonzero((carried > 0) & (carried != sizes))
        if label is not None and mixed.size:
            g = int(mixed[0])
            raise ValueError(
                f"term {term[starts[g]]!r}: {carried[g]}/{sizes[g]} runs "
                f"carry {label} — segments were written with mixed "
                f"store_{label}"
            )
        post_mask = np.repeat(present, run_ndocs)
        vals, _ = decode_blocks(vb[present])
        if delta:
            vals = _runs_cumsum(vals, tfs[post_mask])
        if not present.all():
            full = np.zeros(int(occ[-1]), dtype=np.int64)
            full[np.repeat(post_mask, tfs)] = vals
            vals = full
        occ_vals[col] = vals
        occ_has[col] = carried > 0

    # block layout: each group's postings cut every BLOCK_SIZE docs
    g_post0 = run_post[starts]
    g_npost = run_post[np.append(starts[1:], n)] - g_post0
    nblk = (g_npost + BLOCK_SIZE - 1) // BLOCK_SIZE
    blk_g = np.repeat(np.arange(starts.size), nblk)
    seq = np.arange(blk_g.size) - np.repeat(np.cumsum(nblk) - nblk, nblk)
    bstart = g_post0[blk_g] + seq * BLOCK_SIZE
    bend = np.minimum(bstart + BLOCK_SIZE, (g_post0 + g_npost)[blk_g])
    bn = bend - bstart
    out = {
        "term": term[starts][blk_g],
        "salt": salt[starts][blk_g].astype(np.int64),
        "block_seq": seq.astype(np.int64),
        "ndocs": bn.astype(np.int32),
        "min_doc": docs[bstart],
        "max_doc": docs[bend - 1],
    }
    if blk_g.size:
        out["max_tf"] = np.maximum.reduceat(tfs, bstart).astype(np.int32)
        out["min_norm"] = np.minimum.reduceat(norms, bstart).astype(np.int32)
        out["min_tf"] = np.minimum.reduceat(tfs, bstart).astype(np.int32)
        out["max_norm"] = np.maximum.reduceat(norms, bstart).astype(np.int32)
    else:
        for c in ("max_tf", "min_norm", "min_tf", "max_norm"):
            out[c] = np.empty(0, dtype=np.int32)
    # blocks tile the batch's postings, so their payloads encode in one
    # batched call per column
    out["docs_vb"] = encode_blocks(segmented_delta_encode(docs, bn), bn)
    out["tfs_vb"] = encode_blocks(tfs, bn)
    norm_bytes = norms.tobytes()
    out["norms_b"] = [
        norm_bytes[a:b] for a, b in zip(bstart.tolist(), bend.tolist())
    ]
    bocc = occ[bend] - occ[bstart]
    for col, delta, _ in _OCC_PAYLOADS:
        if col not in occ_vals:
            out[col] = [b""] * blk_g.size
            continue
        vals = occ_vals[col]
        if delta:
            vals = segmented_delta_encode(vals, tfs)
        enc = encode_blocks(vals, bocc)
        has = occ_has[col][blk_g]
        out[col] = [e if h else b"" for e, h in zip(enc, has.tolist())]
    return pd.DataFrame(out, columns=_BLOCK_COLS)


def _merge_postings_kernel(batches):
    """mapInPandas kernel of ``merge_postings``. Rows arrive sorted by
    (term, salt, first_doc), so each (term, salt) group is a run of
    consecutive rows that may straddle Arrow batches. Group breaks are
    found with numpy; every complete group of a batch is merged in one
    ``_merge_groups`` call, and only the trailing group is carried into
    the next batch — memory stays bounded by one Arrow batch (decoded
    into a small multiple of its encoded bytes) plus one carried salted
    group. Output comes out in (term, salt, block_seq) order."""
    carry: list[np.ndarray] | None = None
    for pdf in batches:
        if not len(pdf):
            continue
        cols = [pdf[c].to_numpy() for c in MERGE_COLS]
        if carry is not None:
            cols = [np.concatenate((a, b)) for a, b in zip(carry, cols)]
        term, salt = cols[0], cols[1]
        breaks = np.flatnonzero(
            (term[1:] != term[:-1]) | (salt[1:] != salt[:-1])
        ) + 1
        tail = int(breaks[-1]) if breaks.size else 0
        carry = [c[tail:] for c in cols]
        if tail:
            yield _merge_groups(
                [c[:tail] for c in cols], np.concatenate(([0], breaks[:-1]))
            )
    if carry is not None:
        yield _merge_groups(carry, np.zeros(1, dtype=np.int64))


TOPK_LB = 10  # k for the build-time theta floor stored per term


def _salt_runs(
    runs: DataFrame, hot_df: DataFrame, n_hot: int, hot_salt_span: int
) -> DataFrame:
    """Attach the skew salt column: hot terms (df above threshold) salt by
    run doc-range so one reducer never merges a full stop-word posting
    list; everything else salts 0. Membership comes from a BROADCAST join
    against the tiny (term, is_hot) table — never a driver-side `isin`
    literal, which at web scale is a megabyte expression tree evaluated
    per row. Salt spans are disjoint doc ranges, preserving the
    concatenation-merge block invariant."""
    if n_hot == 0:
        return runs.withColumn("salt", F.lit(0).cast("long"))
    return (
        runs.join(F.broadcast(hot_df), "term", "left")
        .withColumn(
            "salt",
            F.when(
                F.col("is_hot"),
                (F.col("first_doc") / F.lit(hot_salt_span)).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        .drop("is_hot")
    )


def merge_postings(
    spark: SparkSession,
    runs: DataFrame,
    term_bounds: list[str] | None = None,
    n_part: int | None = None,
) -> DataFrame:
    """Merge salted posting runs (MERGE_COLS) into postings blocks
    (BLOCK_SCHEMA) in ONE shuffle: place runs by term, sort each
    partition by (term, salt, first_doc), and stream the sorted rows
    through one stateful mapInPandas kernel (``_merge_postings_kernel``)
    that carves blocks group by group with no per-group Python call.
    The output is already in (term, salt, block_seq) order.

    With ``term_bounds`` (sorted split terms) runs land by exact term
    range, range r on partition r % n_part, so each postings file holds
    one contiguous term range — parquet min/max stats then serve as the
    term dictionary. Without them runs hash-place by term and AQE
    coalesces the small partitions (refresh and compaction output)."""
    runs = runs.select(*MERGE_COLS)
    if term_bounds is None:
        placed = runs.repartition("term")
    else:
        placed = _repartition_exact(
            spark, _with_range_id(runs, term_bounds, ["term"]), n_part
        ).drop("rpid")
    return placed.sortWithinPartitions("term", "salt", "first_doc").mapInPandas(
        _merge_postings_kernel, schema=BLOCK_SCHEMA
    )


TERMVEC_SCHEMA = StructType(
    [
        StructField("docID", LongType()),
        StructField("term", StringType()),
        StructField("tf", IntegerType()),
        StructField("positions", ArrayType(IntegerType())),
    ]
)


def _term_vectors_partition(
    offsets: dict[int, int],
    store_positions: bool,
    token_filters: tuple[str, ...] = (),
):
    """mapInPandas kernel: DOC-MAJOR (docID, term, tf, positions) rows —
    the term-vectors side table (reference lucene/core/src/java/org/
    apache/lucene/codecs/lucene90/Lucene90TermVectorsFormat.java
    semantics: per-document term/freq/position access without a
    term-major scan). Rows inherit the global docID assignment (same
    rpid-offset scheme as _invert_partition) and arrive docID-ASCENDING,
    so the parquet files carry tight min/max rowgroup stats on docID —
    a term_vector(docID) point lookup prunes to one rowgroup, which is
    the Spark analog of Lucene's doc-indexed vector file. Map-only: no
    shuffle, tokenization is the only cost of the opt-in flag."""
    from lucene_spark.analysis.porter import chain_can_drop

    def fn(batches):
        next_ids: dict[int, int] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rpids = pdf["rpid"].to_numpy()
            ids = np.empty(len(pdf), dtype=np.int64)
            starts = np.flatnonzero(np.r_[True, rpids[1:] != rpids[:-1]])
            bounds = np.r_[starts, len(pdf)]
            for i, st in enumerate(starts):
                en = bounds[i + 1]
                rp = int(rpids[st])
                base = next_ids.get(rp, offsets[rp])
                ids[st:en] = np.arange(base, base + (en - st))
                next_ids[rp] = base + (en - st)
            codes, uniq, dls = _window_codes(
                pdf["content"].tolist(), token_filters=tuple(token_filters)
            )[:3]
            if len(codes) == 0:
                continue
            uniq_arr = np.asarray(uniq, dtype=object)
            doc_idx = np.repeat(np.arange(len(pdf)), dls)
            doc_starts = np.r_[0, np.cumsum(dls)[:-1]]
            pos_in_doc = (
                np.arange(len(codes)) - np.repeat(doc_starts, dls)
            ).astype(np.int32)
            if chain_can_drop(token_filters):
                # dropped (-1) codes leave gapped positions, same as the
                # postings path
                keep = codes >= 0
                codes = codes[keep]
                doc_idx = doc_idx[keep]
                pos_in_doc = pos_in_doc[keep]
                if len(codes) == 0:
                    continue
            key = doc_idx.astype(np.int64) * (len(uniq_arr) + 1) + codes
            order = np.argsort(key, kind="stable")  # keeps positions ASC
            skey, spos = key[order], pos_in_doc[order]
            grp = np.flatnonzero(np.r_[True, skey[1:] != skey[:-1]])
            gend = np.r_[grp[1:], len(skey)]
            d = skey[grp] // (len(uniq_arr) + 1)
            c = skey[grp] % (len(uniq_arr) + 1)
            out = {
                "docID": ids[d],
                "term": uniq_arr[c],
                "tf": (gend - grp).astype(np.int32),
            }
            if store_positions:
                out["positions"] = [
                    spos[s:e].tolist() for s, e in zip(grp, gend)
                ]
            else:
                out["positions"] = [None] * len(grp)
            yield pd.DataFrame(out)

    return fn


def lb10_by_term(
    spark: SparkSession, postings_path: str, cache, gens: list[str] | None = None
) -> DataFrame:
    """Per-term build-time WAND threshold floor: `lb_key10` = the tf*inv
    product of the TOPK_LB-th best per-doc score LOWER bound.

    Every doc in a block scores >= w - w/(1 + min_tf * cache[max_norm])
    (the BM25 expression is monotone in tf and in 1/norm-length, the
    shape Lucene chose for exactly this property —
    lucene/core/src/java/org/apache/lucene/search/similarities/BM25Similarity.java:221-238).
    Blocks of one term hold disjoint docs, so sorting a term's blocks by
    that bound descending and walking ndocs gives >= TOPK_LB distinct
    docs whose true scores are each >= the bound where the cumulative
    count reaches TOPK_LB. That bound is therefore a valid
    minCompetitiveScore for any top-k query with k <= TOPK_LB — known
    BEFORE scoring anything, so block-max pruning needs no bootstrap job
    (WANDScorer.java:262-340 obtains it progressively instead).

    Stored as the raw `min_tf * cache[max_norm]` product; the searcher
    applies the per-term idf weight (which depends on the query only
    through the term). NULL when df < TOPK_LB (no pruning allowed: the
    result set may have fewer than k docs). Scan is narrow — parquet
    prunes the vbyte payload columns.

    ``gens``: on tiered incremental layouts, restrict to the ACTIVE
    postings generations (partition-pruned). Blocks of one term across
    gens hold disjoint docs (gens own disjoint docID ranges), so the
    cumulative-ndocs slot argument holds unchanged — this is what lets
    refresh() recompute the floor against refresh-time avgdl (Lucene's
    impacts exist in every segment no matter how it was written,
    Lucene104PostingsWriter.java:389-540)."""
    from pyspark.sql import Window

    meta = spark.read.parquet(postings_path)
    if gens is not None:
        meta = meta.filter(F.col("gen").isin(list(gens)))
    meta = meta.select("term", "ndocs", "min_tf", "max_norm")
    cache_arr = F.array(*[F.lit(float(x)) for x in cache])
    lbk = F.col("min_tf").cast("double") * F.element_at(
        cache_arr, F.col("max_norm") + 1
    )
    win = (
        Window.partitionBy("term")
        .orderBy(F.desc("lb_key"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        meta.withColumn("lb_key", lbk)
        .withColumn("cum", F.sum("ndocs").over(win))
        .filter(F.col("cum") >= TOPK_LB)
        .groupBy("term")
        .agg(F.max("lb_key").alias("lb_key10"))
    )


def build_index(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    *,
    partitions: int | None = None,
    hot_df_threshold: int = 1 << 16,
    hot_salt_span: int = 1 << 20,
    store_positions: bool = True,
    store_offsets: bool = False,
    store_term_vectors: bool = False,
    flush_docs: int = FLUSH_DOCS,
    key_sample: list[tuple[str, str, str]] | None = None,
    sample_fraction: float = 0.1,
    seed: int = 42,
    token_filters: tuple[str, ...] = (),
    tokenizer: str = "standard",
    store_payloads: bool = False,
) -> dict:
    """Build the full index at ``out_dir`` and return build metrics.

    ``token_filters``: ordered analyzer filter chain applied after
    tokenize+lowercase — names from analysis.porter.TOKEN_FILTERS
    (currently "possessive" = EnglishPossessiveFilter.java:25,
    "porter" = PorterStemFilter.java:51). Recorded in the manifest;
    IndexSearcher applies the same chain to query terms
    (EnglishAnalyzer.java:43 pairs them index- and query-side). Filters
    run per window VOCABULARY entry, not per token — see _window_codes.

    ``key_sample``: optional pre-computed (repo, path, commit) sample used
    for range boundaries (skips the sampling scan entirely — e.g. the
    synthetic corpus derives keys analytically; on parquet the default
    column-pruned sample scan is already cheap).

    ``store_offsets``: additionally store each occurrence's [start, end)
    character offsets — IndexOptions
    DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS (reference
    lucene/core/src/java/org/apache/lucene/index/IndexOptions.java:46-50);
    requires store_positions (the enum is strictly increasing in Lucene
    too). Occurrence payloads are parquet-pruned from every scoring
    scan, so query latency is unaffected; only build encode time and
    index bytes grow.

    ``store_term_vectors``: additionally write a DOC-MAJOR
    {out_dir}/termvectors/ side table (docID, term, tf, positions) —
    Lucene's term-vectors file analog (codecs/lucene90/
    Lucene90TermVectorsFormat.java): per-document term access without a
    term-major postings scan, feeding IndexSearcher.term_vector() and
    the vector-based MoreLikeThis path. Map-only second tokenize pass;
    batch build only (streaming refresh does not carry it).

    ``tokenizer``: "standard" (StandardAnalyzer chain, the default) or
    "whitespace" (WhitespaceTokenizer, reference
    lucene/analysis/common/src/java/org/apache/lucene/analysis/core/
    WhitespaceTokenizer.java:28 — no lowercasing, no filter chain;
    queries must use surface forms verbatim).

    ``store_payloads``: run the DelimitedPayloadTokenFilter analog
    (term "foo|5" -> term "foo" with integer payload 5 at that position;
    reference lucene/analysis/common/src/java/org/apache/lucene/
    analysis/payloads/DelimitedPayloadTokenFilter.java:38) and store
    per-occurrence payload ints as a `pay_vb` posting column (the
    PostingsEnum.PAYLOADS flag, reference lucene/core/src/java/org/
    apache/lucene/index/PostingsEnum.java:58). Requires the whitespace
    tokenizer ('|' never survives standard tokenization) and
    store_positions (payloads are per-position, IndexOptions ordering).
    Parquet prunes pay_vb from every scoring scan.

    Output layout: {out_dir}/{docmap,terms,postings,stats,lineage}/ parquet
    + manifest.json (written last = commit point)."""
    if store_offsets and not store_positions:
        raise ValueError("store_offsets requires store_positions")
    if tokenizer not in ("standard", "whitespace"):
        raise ValueError(f"unknown tokenizer {tokenizer!r}")
    if store_payloads and tokenizer != "whitespace":
        raise ValueError(
            "store_payloads requires tokenizer='whitespace' (the "
            "delimited-payload filter's '|' never survives standard "
            "tokenization)"
        )
    if store_payloads and not store_positions:
        raise ValueError("store_payloads requires store_positions")
    if tokenizer == "whitespace" and (
        store_offsets or store_term_vectors or token_filters
    ):
        raise ValueError(
            "tokenizer='whitespace' supports neither store_offsets, "
            "store_term_vectors, nor token_filters"
        )
    from lucene_spark.analysis.porter import (
        TOKEN_FILTERS,
        resolve_filter,
        shingle_size,
        split_chain,
    )

    token_filters = tuple(token_filters)
    split_chain(token_filters)  # shingle placement / drop-combo rules
    for tf_name in token_filters:
        if shingle_size(tf_name) is not None:
            continue  # stream filter — validated by split_chain above
        try:
            resolve_filter(tf_name)
        except KeyError:
            raise ValueError(
                f"unknown token filter {tf_name!r}; "
                f"available: {sorted(TOKEN_FILTERS)}, length_<min>_<max>, "
                f"truncate_<n>, or shingle_<n>"
            ) from None
    t0 = time.time()
    phases: dict[str, float] = {}

    def _mark(name: str, since: list[float]) -> None:
        now = time.time()
        phases[name] = round(now - since[0], 3)
        since[0] = now

    _t = [t0]
    n_part = partitions or spark.sparkContext.defaultParallelism

    # --- shuffle 1: deterministic doc order ------------------------------
    if key_sample is None:
        # COUNT-bounded boundary sample (write_segment pattern): a plain
        # fraction collects O(corpus) keys to the driver — 10^11 rows at
        # 10^12 files. The count is parquet-metadata-cheap; the collected
        # sample stays ~KEY_SAMPLE_MAX rows at any corpus size (boundaries
        # affect only balance, never correctness).
        n_docs_est = docs.count()
        frac = min(
            float(sample_fraction), KEY_SAMPLE_MAX / max(1.0, float(n_docs_est))
        )
        key_sample = [
            (r["repo"], r["path"], r["commit"])
            for r in docs.select("repo", "path", "commit")
            .sample(fraction=min(1.0, frac), seed=seed)
            .collect()
        ]
    bounds = _quantile_bounds(
        sorted(_flatten_key(*k) for k in key_sample), n_part
    )
    sorted_docs = (
        _repartition_exact(
            spark,
            _with_range_id(docs, bounds, ["repo", "path", "commit"]),
            n_part,
        )
        .sortWithinPartitions("repo", "path", "commit")
    )
    # NO persist: Spark reuses the map-side shuffle files across the two
    # jobs below (count + invert), and reading the columnar DataFrame
    # cache at high task concurrency measured 2-4x SLOWER than the
    # post-shuffle recompute itself
    # range sizes -> global docID offsets (zipWithIndex two-pass, but the
    # counting aggregate is map-side + tiny)
    sizes = dict(
        (r["rpid"], r["cnt"])
        for r in sorted_docs.groupBy("rpid").agg(F.count("*").alias("cnt")).collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    doc_count = acc
    _mark("shuffle_docs", _t)

    # --- invert + map-side segment flush ---------------------------------
    # one Python pass, durably written; later phases read back with
    # column pruning (cheaper than double-storing via persist, and the
    # parquet file doubles as the segment-run checkpoint)
    inv_path = os.path.join(out_dir, "inverted_runs")
    sorted_docs.mapInPandas(
        _invert_partition(
            offsets, store_positions, flush_docs,
            store_offsets=store_offsets, token_filters=token_filters,
            tokenizer=tokenizer, store_payloads=store_payloads,
        ),
        schema=INVERT_SCHEMA,
    ).write.mode("overwrite").parquet(inv_path)
    inverted = spark.read.parquet(inv_path)
    _mark("invert_write", _t)

    if store_term_vectors:
        # map-only doc-major pass; re-reads the sorted shuffle files
        # (cheaper than persisting the wide docs frame — see the NO
        # persist note above), writes docID-ascending so rowgroup stats
        # make term_vector(docID) a one-rowgroup point lookup
        # narrow select: ship ONLY (rpid, content) through Arrow — row
        # order within partitions is preserved, so docID assignment is
        # identical to the invert pass
        sorted_docs.select("rpid", "content").mapInPandas(
            _term_vectors_partition(offsets, store_positions, token_filters),
            schema=TERMVEC_SCHEMA,
        ).write.mode("overwrite").parquet(os.path.join(out_dir, "termvectors"))
        _mark("termvectors_write", _t)

    docmap = inverted.filter(F.col("term").isNull()).select(*_META_COLS)
    docmap.write.mode("overwrite").parquet(os.path.join(out_dir, "docmap"))

    runs = inverted.filter(F.col("term").isNotNull()).select(*_RUN_COLS)
    _mark("docmap_write", _t)

    # --- term dictionary + stats (cheap agg over run headers) ------------
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
    # hot set as a DataFrame, never a driver-side literal: at 100 TB the
    # df > threshold set is 10^4-10^5 terms and an `isin` literal becomes
    # a megabyte Catalyst expression evaluated per row — a broadcast join
    # against this tiny (term, is_hot) table costs one hash probe instead
    hot_df = (
        terms_df.filter(F.col("df") > hot_df_threshold)
        .select("term")
        .withColumn("is_hot", F.lit(True))
    )
    n_hot_terms = hot_df.count()

    # collection stats now (terms write happens after postings, because the
    # per-term lb_key10 threshold floor is derived from block metadata)
    agg = terms_df.agg(
        F.sum("cf").alias("sttf"),
        F.sum("df").alias("sdf"),
        F.count("*").alias("nterms"),
    ).collect()[0]
    stats = {
        "doc_count": int(doc_count),
        "sum_total_term_freq": int(agg["sttf"] or 0),
        "sum_doc_freq": int(agg["sdf"] or 0),
        "distinct_terms": int(agg["nterms"] or 0),
    }
    _mark("terms_agg", _t)

    # --- shuffle 2: merge runs into postings blocks (salted hot terms) ---
    # runs land by term range (the parquet file/rowgroup min-max stats ARE
    # our term dictionary) — boundaries come from the cached terms table.
    # count-bounded vocabulary sample (distinct_terms is already known):
    # 0.2 of a web-scale vocabulary would collect 10^9+ terms driverside
    term_frac = min(0.2, KEY_SAMPLE_MAX / max(1.0, float(stats["distinct_terms"])))
    term_bounds = _quantile_bounds(
        sorted(
            r["term"]
            for r in terms_df.select("term")
            .sample(fraction=min(1.0, term_frac), seed=seed)
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
    _mark("postings_write", _t)

    # --- terms table: run-header aggregates + block-derived lb_key10 -----
    from lucene_spark.search.bm25 import BM25Scorer

    cache = BM25Scorer.build(
        max(1, doc_count), max(1, stats["sum_total_term_freq"])
    ).cache
    lb10 = lb10_by_term(spark, os.path.join(out_dir, "postings"), cache)
    terms_out = terms_df.join(lb10, "term", "left").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    terms_out.repartitionByRange(max(1, n_part // 4), "term").sortWithinPartitions(
        "term"
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "terms"))
    terms_out.unpersist()
    _mark("terms_write", _t)

    write_meta_parquet(os.path.join(out_dir, "stats"), [stats])
    _mark("stats_write", _t)

    # --- lineage (per-partition segment metrics, resume unit) ------------
    lineage = [
        {
            "pid": int(pid),
            "doc_id_start": int(offsets[pid]),
            "num_docs": int(sizes[pid]),
            "status": "complete",
        }
        for pid in sorted(sizes)
    ]
    write_meta_parquet(os.path.join(out_dir, "lineage"), lineage)
    _mark("lineage_write", _t)

    terms_df.unpersist()
    # drop the intermediate run checkpoint (merged into postings) — in the
    # background; it gates nothing downstream
    import shutil
    import threading

    threading.Thread(
        target=shutil.rmtree, args=(inv_path,), kwargs={"ignore_errors": True},
        daemon=True,
    ).start()

    _mark("stats_lineage", _t)
    elapsed = time.time() - t0
    manifest = {
        "version": 2,
        "codec": CODEC_NAME,
        "phases": phases,
        "doc_count": stats["doc_count"],
        "sum_total_term_freq": stats["sum_total_term_freq"],
        "sum_doc_freq": stats["sum_doc_freq"],
        "distinct_terms": stats["distinct_terms"],
        # membership is derivable from the terms table (df > threshold);
        # only the count is recorded — a web-scale hot set would bloat
        # manifest.json into the megabytes
        "n_hot_terms": int(n_hot_terms),
        "hot_df_threshold": hot_df_threshold,
        "hot_salt_span": hot_salt_span,
        "store_positions": store_positions,
        "store_offsets": store_offsets,
        "store_term_vectors": store_term_vectors,
        "store_payloads": store_payloads,
        "tokenizer": tokenizer,
        "token_filters": list(token_filters),
        "block_size": BLOCK_SIZE,
        "flush_docs": flush_docs,
        "partitions": n_part,
        "build_wall_sec": elapsed,
        "docs_per_sec": stats["doc_count"] / elapsed if elapsed > 0 else 0.0,
    }
    # two-phase commit: write tmp then atomic rename (segments_N analog)
    tmp = os.path.join(out_dir, "manifest.json.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=2)
    os.replace(tmp, os.path.join(out_dir, "manifest.json"))
    return manifest
