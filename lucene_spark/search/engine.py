"""Query engine: BM25 top-k over the compressed postings table.

Spark-first reimagining of IndexSearcher (SURVEY.md §3.2):
  - driver-side "Weight creation": one tiny lookup of per-term (df, cf,
    max_tf, min_norm) from the terms table + global stats from
    manifest.json (TermStates.build / collectionStatistics analog,
    lucene/core/src/java/org/apache/lucene/search/IndexSearcher.java:1119-1148)
  - physical plan: postings blocks filtered to the query terms (parquet
    min/max on the sorted `term` column = the term dictionary), optional
    block-max pruning (WANDScorer analog, search/WANDScorer.java:55-340),
    Arrow-batched decode+score UDF, groupBy(docID) double-sum, then
    ORDER BY score DESC, docID ASC LIMIT k — Spark's
    TakeOrderedAndProject is Lucene's per-slice HitQueue + TopDocs.merge
    (search/TopDocs.java:203-231, tie-break at HitQueue.java:76-83).

Score semantics: per-term scores in float32 (BM25Similarity expression
shape), summed in double, cast back to float32 — matching
ConjunctionScorer.java:57-63 / DisjunctionSumScorer.java:40-46 exactly,
so results are rank-identical to Lucene for term/AND/OR queries.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from lucene_spark.analysis import analyze
from lucene_spark.search.bm25 import BM25Scorer, idf
from lucene_spark.util.blockcodec import decode_block as decode
from lucene_spark.util.blockcodec import validate_manifest_codec
from lucene_spark.util.varbyte import delta_decode, segmented_delta_decode

def _pos_shift(max_pos: int, headroom: int, floor_bits: int = 21) -> np.int64:
    """Doc-key packing shift: smallest power of two > max_pos + headroom
    (floored at 2^floor_bits, the cheap common case). Positional kernels
    pack (doc, position) as batch_doc_index * SHIFT + position; deriving
    SHIFT from the batch's real max position keeps the packing
    collision-free for pathological documents with >=2^21 token
    positions — a fixed shift would bleed such positions into the next
    doc's key space and report false cross-document adjacency."""
    bits = floor_bits
    need = int(max_pos) + int(headroom)
    while (1 << bits) <= need:
        bits += 1
    return np.int64(1) << np.int64(bits)


SCORE_SCHEMA = StructType(
    [
        StructField("docID", LongType()),
        StructField("score", FloatType()),
        StructField("tf", IntegerType()),
    ]
)


@dataclass
class TermStats:
    term: str
    df: int
    cf: int
    max_tf: int
    min_norm: int
    # build-time theta floor: tf*inv product of the TOPK_LB-th best
    # per-doc lower bound over this term's blocks (builder.lb10_by_term);
    # None when df < 10 or the index predates the column
    lb_key10: float | None = None


class IndexSearcher:
    def __init__(self, spark: SparkSession, index_dir: str, query_cache=None):
        self.spark = spark
        self.index_dir = index_dir
        self.query_cache = query_cache  # search.cache.QueryCache or None
        with open(os.path.join(index_dir, "manifest.json")) as f:
            self.manifest = json.load(f)
        validate_manifest_codec(self.manifest)
        self.doc_count = self.manifest["doc_count"]
        self.scorer = BM25Scorer.build(
            self.doc_count, self.manifest["sum_total_term_freq"]
        )
        self._postings = spark.read.parquet(os.path.join(index_dir, "postings"))
        # tiered incremental indexes: only the manifest's ACTIVE postings
        # generations are live — partition pruning skips stale gen dirs
        # left by a crash mid-cleanup (streaming/incremental.refresh)
        if self.manifest.get("gens"):
            self._postings = self._postings.filter(
                F.col("gen").isin(list(self.manifest["gens"]))
            )
        self._terms = spark.read.parquet(os.path.join(index_dir, "terms"))
        self._token_filters = tuple(self.manifest.get("token_filters", ()))
        self._dl_hist: tuple[np.ndarray, np.ndarray] | None = None
        # per-reader TermStates cache (term -> TermStats | None-for-absent)
        self._term_stats_cache: dict[str, TermStats | None] = {}
        self.reload_deletes()

    # above this many tombstones the set is no longer shipped to tasks at
    # all: decode kernels skip filtering and an anti-join strips deleted
    # docs instead (10^9 deletes would be a multi-GB broadcast)
    ANTIJOIN_DELETES_THRESHOLD = 5_000_000

    def reload_deletes(self) -> int:
        """Load the tombstone set (PendingDeletes bitset analog). Small
        sets are broadcast ONCE (torrent-distributed; the previous design
        captured the array in every kernel closure, re-serializing it per
        task) and dropped inside the decode kernels; sets above
        ANTIJOIN_DELETES_THRESHOLD stay distributed and are removed by a
        left_anti join on the decoded rows. Scores of surviving docs keep
        the stale pre-merge statistics, like Lucene until a merge."""
        from lucene_spark.index.deletes import tombstones_df

        tdf = tombstones_df(self.spark, self.index_dir)
        n = 0 if tdf is None else tdf.count()
        self._n_deleted = int(n)
        if n and n <= self.ANTIJOIN_DELETES_THRESHOLD:
            # Arrow transfer + numpy sort: collect() would materialize up
            # to 5M Row OBJECTS and sort them in pure Python on the driver;
            # toPandas ships Arrow batches and the sort is one C pass over
            # a flat int64 array (~40 MB at the threshold).
            arr = np.sort(
                tdf.toPandas()["docID"].to_numpy(dtype=np.int64, copy=True)
            )
            self._tombstones = None
        else:
            arr = np.empty(0, dtype=np.int64)
            self._tombstones = tdf if n else None
        old = getattr(self, "_deleted_bc", None)
        if old is not None:
            old.unpersist()
        self._deleted = arr  # driver-side view (size checks, tests)
        self._deleted_bc = self.spark.sparkContext.broadcast(arr)
        return self._n_deleted

    def apply_soft_deletes(self, field: str) -> int:
        """SoftDeletesDirectoryReaderWrapper analog
        (index/SoftDeletesDirectoryReaderWrapper.java:46): hide every
        doc whose numeric docvalues `field` is non-zero — READER-side
        only. The tombstone table, postings, and stats are untouched;
        `reload_deletes()` (or a fresh searcher) drops the wrapper and
        the docs are visible again, exactly like opening the directory
        without the wrapper. Soft-hidden docs merge into this reader's
        broadcast/anti-join liveness, so every decode kernel and the
        cache epoch see them as deleted. Returns the number of docs
        hidden by the field (including ones also hard-deleted)."""
        from lucene_spark.index.docvalues import read_docvalues

        soft = (
            read_docvalues(self.spark, self.index_dir, field)
            .where(F.col("value") != 0)
            .select("docID")
        )
        n = soft.count()
        if n == 0:
            return 0
        if (
            self._tombstones is None
            and n + self._deleted.size <= self.ANTIJOIN_DELETES_THRESHOLD
        ):
            arr = soft.toPandas()["docID"].to_numpy(np.int64, copy=True)
            arr = np.unique(np.concatenate([self._deleted, arr]))
            old = self._deleted_bc
            self._deleted = arr
            self._deleted_bc = self.spark.sparkContext.broadcast(arr)
            old.unpersist()
            self._n_deleted = int(arr.size)
        else:
            tomb = self._tombstones
            self._tombstones = (
                soft if tomb is None
                else tomb.select("docID").union(soft).distinct()
            )
            self._n_deleted += int(n)  # upper bound; only drives epoch/shortcut
        return int(n)

    def _cache_epoch(self) -> tuple:
        """Key component that changes whenever cached doc sets could go
        stale: postings generation set + tombstone count (the reader-
        change invalidation of LRUQueryCache)."""
        return (
            self.index_dir,
            tuple(self.manifest.get("gens", ())),
            self.manifest.get("expunged_at"),
            self._n_deleted,
        )

    def filter_docs(self, term: str) -> DataFrame:
        """Non-scoring doc-set filter for one term (the cached-filter
        unit of LRUQueryCache; ConstantScore(TermQuery) analog). Returns
        distinct docIDs; cached as a persisted narrow DataFrame when the
        searcher has a QueryCache."""
        def compute() -> DataFrame:
            return self.postings_tf([term]).select("docID").distinct()

        if self.query_cache is None:
            return compute()
        return self.query_cache.get_or_compute(
            self._cache_epoch() + ("filter", term), compute
        )

    def search_term_set(self, terms: list[str], k: int = 10) -> DataFrame:
        """TermInSetQuery under ConstantScoreQuery (reference lucene/
        core/src/java/org/apache/lucene/search/TermInSetQuery.java —
        SetQuery membership over a bag of terms, constant score 1.0;
        its small-set rewrite to BooleanQuery-of-TermQuerys is an
        executor detail with identical semantics). Terms are taken
        VERBATIM (no analysis) — the reference builds Terms from raw
        bytes, the keyword-field convention. Returns (docID, score=1.0f)
        by docID ASC (the constant-score tie-break).

        Plan: one pruned postings decode over the term set, distinct
        docIDs, tombstone strip — no norms join, no scoring expression;
        at scale the decode prunes to the set's parquet row-groups like
        any term query. ``k=None`` returns the whole doc set unsorted
        (the filter/facet consumer shape — callers applying their own
        ordering should cut in THEIR key space, not docID space)."""
        ts = list(dict.fromkeys(terms))
        if not ts:
            return self._empty_topk()
        docs = self.postings_tf(ts).select("docID").distinct()
        docs = self._strip_deleted(docs).withColumn(
            "score", F.lit(1.0).cast(FloatType())
        )
        if k is None:
            return docs
        return docs.orderBy(F.asc("docID")).limit(k)

    def count_term_set(self, terms: list[str]) -> int:
        """TermInSetQuery hit count (IndexSearcher.count over the set)."""
        ts = list(dict.fromkeys(terms))
        if not ts:
            return 0
        return (
            self._strip_deleted(
                self.postings_tf(ts).select("docID").distinct()
            ).count()
        )

    def _strip_deleted(self, df: DataFrame, col: str = "docID") -> DataFrame:
        """Anti-join fallback for tombstone sets too large to broadcast
        (kernels received an empty array in that mode)."""
        if self._tombstones is None:
            return df
        tomb = self._tombstones
        if col != "docID":
            tomb = tomb.select(F.col("docID").alias(col))
        return df.join(tomb, col, "left_anti")

    # -- planning ---------------------------------------------------------

    def term_stats(self, terms: list[str]) -> dict[str, TermStats]:
        """Resolve per-term statistics (TermStates.build). Results are
        memoized per searcher — Lucene caches TermStates per reader the
        same way (stats are immutable for a reader's lifetime; deletes
        deliberately leave them stale until a merge) — so repeated terms
        across queries cost zero Spark jobs. Absent terms are cached as
        None to avoid re-scanning for hopeless terms."""
        if not terms:
            return {}
        want = list(dict.fromkeys(terms))
        cache = self._term_stats_cache
        missing = [t for t in want if t not in cache]
        if missing:
            rows = self._terms.filter(F.col("term").isin(missing)).collect()
            has_lb = "lb_key10" in self._terms.columns
            for r in rows:
                cache[r["term"]] = TermStats(
                    r["term"], r["df"], r["cf"], r["max_tf"], r["min_norm"],
                    (None if not has_lb or r["lb_key10"] is None
                     else float(r["lb_key10"])),
                )
            for t in missing:
                cache.setdefault(t, None)
        return {t: cache[t] for t in want if cache[t] is not None}

    MAX_EXPANSIONS = 1024  # IndexSearcher.maxClauseCount analog

    @staticmethod
    def _regex_literal_prefix(pattern: str) -> str:
        """Longest MANDATORY literal prefix of a regex — the automaton
        common-prefix analog (reference search/RegexpQuery.java:215 via
        CompiledAutomaton.commonPrefix): every match of a start-anchored
        pattern must begin with this prefix, so it can be pushed as a
        `startswith` range predicate bounding the dictionary scan.
        Conservative: stops at the first metacharacter or escape, and
        drops a trailing literal that a following quantifier could make
        optional — an empty result just means no pushdown. Any top-level
        alternation makes the preceding literal non-mandatory ('foo|bar'
        matches 'bar...'), and '|' inside groups is top-level for some
        branch too, so the presence of '|' anywhere disables pushdown
        entirely (Lucene derives this through the automaton's true
        common prefix; we stay conservative)."""
        if "|" in pattern:
            return ""
        specials = ".^$*+?()[]{}|\\"
        out: list[str] = []
        n = len(pattern)
        i = 0
        while i < n:
            c = pattern[i]
            if c in specials:
                break
            if i + 1 < n and pattern[i + 1] in "*?{":
                break  # quantified literal is not mandatory
            out.append(c)
            i += 1
        return "".join(out)

    def _regexp_filter(self, t: DataFrame, pattern: str, full_match: bool):
        """rlike filter plus the literal-prefix pushdown (sound only when
        the match is anchored at the start of the term)."""
        if full_match:
            pre = self._regex_literal_prefix(pattern)
            t = t.filter(F.col("term").rlike(f"^(?:{pattern})$"))
        else:
            pre = (
                self._regex_literal_prefix(pattern[1:])
                if pattern.startswith("^")
                else ""
            )
            t = t.filter(F.col("term").rlike(pattern))
        if pre:
            t = t.filter(F.col("term").startswith(pre))
        return t

    def regexp_terms(self, pattern: str, full_match: bool = True) -> DataFrame:
        """Dictionary terms matching ``pattern`` as a (term, df) DataFrame
        — RegexpQuery's term expansion (search/RegexpQuery.java).
        full_match anchors the pattern like Lucene (a RegexpQuery matches
        whole terms); the scan is bounded by the pattern's mandatory
        literal prefix pushed as a startswith predicate over the sorted
        terms table (parquet min/max pruning = the sorted-term-dict
        intersection of AutomatonTermsEnum)."""
        return self._regexp_filter(self._terms, pattern, full_match).select(
            "term", "df"
        )

    def expand_terms(
        self,
        *,
        prefix: str | None = None,
        like: str | None = None,
        regex: str | None = None,
        regex_full_match: bool = False,
        lo: str | None = None,
        hi: str | None = None,
        include_lo: bool = True,
        include_hi: bool = True,
        max_expansions: int | None = None,
        top_terms: bool = False,
    ) -> list[str]:
        """Bounded multi-term dictionary expansion (MultiTermQuery rewrite
        analog). A pathological pattern (`e*`) must never collect an
        unbounded term list to the driver:

        - top_terms=True keeps the max_expansions highest-df terms
          (TopTermsRewrite, lucene/core/src/java/org/apache/lucene/search/TopTermsRewrite.java)
        - top_terms=False raises like BooleanQuery.TooManyClauses when the
          expansion exceeds the cap (ScoringRewrite over maxClauseCount)
        """
        cap = max_expansions or self.MAX_EXPANSIONS
        t = self._terms
        if prefix is not None:
            t = t.filter(F.col("term").startswith(prefix))
        if like is not None:
            t = t.filter(F.col("term").like(like))
        if regex is not None:
            t = self._regexp_filter(t, regex, regex_full_match)
        if lo is not None:
            t = t.filter(
                F.col("term") >= lo if include_lo else F.col("term") > lo
            )
        if hi is not None:
            t = t.filter(
                F.col("term") <= hi if include_hi else F.col("term") < hi
            )
        if top_terms:
            rows = (
                t.orderBy(F.desc("df"), F.asc("term"))
                .select("term")
                .limit(cap)
                .collect()
            )
            return [r["term"] for r in rows]
        rows = t.select("term").limit(cap + 1).collect()
        if len(rows) > cap:
            raise ValueError(
                f"term expansion exceeds {cap} terms (TooManyClauses); "
                "narrow the pattern or pass top_terms=True"
            )
        return [r["term"] for r in rows]

    def fuzzy_terms(self, term: str, max_edits: int = 2) -> DataFrame:
        """Dictionary terms within ``max_edits`` Levenshtein edits of
        ``term`` as a (term, df) DataFrame. FuzzyQuery.java:272 intersects
        a Levenshtein automaton with the term index; the Catalyst analog
        prunes the dictionary scan with two SOUND pushed pre-filters
        before the exact levenshtein test:

        - length window: |len(t) - len(term)| <= max_edits
        - pigeonhole substrings: split ``term`` into max_edits+1 pieces;
          a match must contain at least one piece unedited (each edit
          touches at most one piece), so OR-of-contains prunes terms
          sharing no piece. Skipped when pieces would be empty.

        Both filters are push-down-able column predicates evaluated in
        the parquet scan; levenshtein runs only on survivors.
        """
        e = int(max_edits)
        t = self._terms.filter(
            F.length("term").between(len(term) - e, len(term) + e)
        )
        k = e + 1
        if len(term) >= k:
            bounds = [i * len(term) // k for i in range(k + 1)]
            cond = None
            for i in range(k):
                piece = term[bounds[i]:bounds[i + 1]]
                c = F.col("term").contains(piece)
                cond = c if cond is None else (cond | c)
            t = t.filter(cond)
        return t.filter(
            F.levenshtein(F.col("term"), F.lit(term)) <= e
        ).select("term", "df")

    def expand_fuzzy(
        self, term: str, max_edits: int = 2, max_expansions: int | None = None
    ) -> list[str]:
        """FuzzyQuery expansion list: the ``max_expansions`` highest-df
        terms within ``max_edits`` of ``term`` (TopTermsRewrite order —
        FuzzyQuery's default rewrite keeps top terms by weight)."""
        cap = max_expansions or self.MAX_EXPANSIONS
        rows = (
            self.fuzzy_terms(term, max_edits)
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(cap)
            .collect()
        )
        return [r["term"] for r in rows]

    def _weights(self, stats: dict[str, TermStats]) -> dict[str, float]:
        return {
            t: float(self.scorer.term_weight(s.df)) for t, s in stats.items()
        }

    # -- scoring kernel ---------------------------------------------------

    def _decode_score_udf(self, weights: dict[str, float]):
        cache = self.scorer.cache
        dele_bc = self._deleted_bc

        def fn(batches):
            dele = dele_bc.value
            for pdf in batches:
                outs = []
                for term, tfs_vb, norms_b, docs_vb in zip(
                    pdf["term"], pdf["tfs_vb"], pdf["norms_b"], pdf["docs_vb"]
                ):
                    doc_ids = delta_decode(decode(bytes(docs_vb)))
                    tfs = decode(bytes(tfs_vb))
                    norms = np.frombuffer(bytes(norms_b), dtype=np.uint8)
                    if dele.size:
                        keep = ~np.isin(doc_ids, dele)
                        doc_ids, tfs, norms = doc_ids[keep], tfs[keep], norms[keep]
                    w = np.float32(weights[term])
                    inv = cache[norms]
                    scores = (
                        w - w / (np.float32(1.0) + tfs.astype(np.float32) * inv)
                    ).astype(np.float32)
                    outs.append(
                        pd.DataFrame(
                            {
                                "docID": doc_ids,
                                "score": scores,
                                "tf": tfs.astype(np.int32),
                            }
                        )
                    )
                yield pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
                    {"docID": [], "score": [], "tf": []}
                )

        return fn

    def _scored_postings(
        self,
        terms: list[str],
        stats: dict[str, TermStats],
        weights: dict[str, float] | None = None,
    ) -> DataFrame:
        """(docID, term, score) rows for every posting of the query terms
        (stats may cover a superset of terms — only `terms` are scored).
        `weights` overrides the per-term idf weight (BlendedTermQuery
        scores every term with an artificial blended df)."""
        if weights is None:
            weights = {
                t: w for t, w in self._weights(stats).items() if t in set(terms)
            }
        # select only the scoring columns so the parquet scan prunes
        # pos_vb (positions are ~half the index bytes; ReadSchema shows it)
        blocks = self._postings.filter(F.col("term").isin(list(weights))).select(
            "term", "docs_vb", "tfs_vb", "norms_b"
        )
        return self._strip_deleted(
            blocks.mapInPandas(self._decode_score_udf(weights), schema=SCORE_SCHEMA)
        )

    def postings_tf(self, terms: list[str] | None = None) -> DataFrame:
        """Decode posting blocks back to (docID, term, tf) rows — the
        uncompressed inverted index (used for SQL-expressible duels and
        as the building block for exports)."""
        schema = StructType(
            [
                StructField("docID", LongType()),
                StructField("term", StringType()),
                StructField("tf", LongType()),
            ]
        )

        dele_bc = self._deleted_bc

        def fn(batches):
            dele = dele_bc.value
            for pdf in batches:
                outs = []
                for term, docs_vb, tfs_vb in zip(
                    pdf["term"], pdf["docs_vb"], pdf["tfs_vb"]
                ):
                    doc_ids = delta_decode(decode(bytes(docs_vb)))
                    tfs = decode(bytes(tfs_vb))
                    if dele.size:
                        keep = ~np.isin(doc_ids, dele)
                        doc_ids, tfs = doc_ids[keep], tfs[keep]
                    outs.append(
                        pd.DataFrame({"docID": doc_ids, "term": term, "tf": tfs})
                    )
                yield pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
                    {"docID": pd.array([], dtype="int64"), "term": [], "tf": pd.array([], dtype="int64")}
                )

        blocks = self._postings
        if terms is not None:
            blocks = blocks.filter(F.col("term").isin(list(set(terms))))
        return self._strip_deleted(
            blocks.select("term", "docs_vb", "tfs_vb").mapInPandas(fn, schema=schema)
        )

    def postings_positions(self, terms: list[str]) -> DataFrame:
        """Decode position data to exploded (docID, term, pos) rows —
        the uncompressed positional index for the query terms (gate
        duels, interval/phrase analytics in plain DataFrame ops)."""
        schema = StructType(
            [
                StructField("docID", LongType()),
                StructField("term", StringType()),
                StructField("pos", LongType()),
            ]
        )
        dele_bc = self._deleted_bc

        def fn(batches):
            dele = dele_bc.value
            for pdf in batches:
                outs = []
                for term, docs_vb, tfs_vb, pos_vb in zip(
                    pdf["term"], pdf["docs_vb"], pdf["tfs_vb"], pdf["pos_vb"]
                ):
                    doc_ids = delta_decode(decode(bytes(docs_vb)))
                    tfs = decode(bytes(tfs_vb))
                    flat = segmented_delta_decode(decode(bytes(pos_vb)), tfs)
                    if dele.size:
                        keep = ~np.isin(doc_ids, dele)
                        if not keep.all():
                            ends = np.cumsum(tfs)
                            parts = [
                                flat[(ends[i] - tfs[i]):ends[i]]
                                for i in np.flatnonzero(keep)
                            ]
                            flat = (
                                np.concatenate(parts)
                                if parts
                                else np.empty(0, np.int64)
                            )
                            doc_ids, tfs = doc_ids[keep], tfs[keep]
                    outs.append(
                        pd.DataFrame(
                            {
                                "docID": np.repeat(doc_ids, tfs),
                                "term": term,
                                "pos": flat,
                            }
                        )
                    )
                yield pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
                    {"docID": pd.array([], dtype="int64"), "term": [],
                     "pos": pd.array([], dtype="int64")}
                )

        if not self.manifest.get("store_positions", True):
            raise ValueError("index built without positions")
        blocks = self._postings.filter(
            F.col("term").isin(list(set(terms)))
        ).select("term", "docs_vb", "tfs_vb", "pos_vb")
        return self._strip_deleted(blocks.mapInPandas(fn, schema=schema))

    def postings_offsets(self, terms: list[str]) -> DataFrame:
        """Decode occurrence offsets to exploded (docID, term, pos,
        start_offset, end_offset) rows — PostingsEnum with the OFFSETS
        flag over an index built with store_offsets (IndexOptions
        DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS, reference
        lucene/core/src/java/org/apache/lucene/index/IndexOptions.java:46-50).
        start/end are [inclusive, exclusive) CHARACTER offsets into the
        original document content."""
        if not self.manifest.get("store_offsets"):
            raise ValueError("index built without offsets")
        schema = StructType(
            [
                StructField("docID", LongType()),
                StructField("term", StringType()),
                StructField("pos", LongType()),
                StructField("start_offset", LongType()),
                StructField("end_offset", LongType()),
            ]
        )
        dele_bc = self._deleted_bc

        def fn(batches):
            dele = dele_bc.value
            for pdf in batches:
                outs = []
                for term, docs_vb, tfs_vb, pos_vb, offs_vb, olen_vb in zip(
                    pdf["term"], pdf["docs_vb"], pdf["tfs_vb"],
                    pdf["pos_vb"], pdf["offs_vb"], pdf["olen_vb"],
                ):
                    doc_ids = delta_decode(decode(bytes(docs_vb)))
                    tfs = decode(bytes(tfs_vb))
                    pos = segmented_delta_decode(decode(bytes(pos_vb)), tfs)
                    st = segmented_delta_decode(decode(bytes(offs_vb)), tfs)
                    ln = decode(bytes(olen_vb))
                    if dele.size:
                        keep = ~np.isin(doc_ids, dele)
                        if not keep.all():
                            ends = np.cumsum(tfs)
                            idx = np.flatnonzero(keep)
                            parts = [
                                np.arange(ends[i] - tfs[i], ends[i])
                                for i in idx
                            ]
                            sel = (
                                np.concatenate(parts)
                                if parts
                                else np.empty(0, np.int64)
                            )
                            pos, st, ln = pos[sel], st[sel], ln[sel]
                            doc_ids, tfs = doc_ids[keep], tfs[keep]
                    outs.append(
                        pd.DataFrame(
                            {
                                "docID": np.repeat(doc_ids, tfs),
                                "term": term,
                                "pos": pos,
                                "start_offset": st,
                                "end_offset": st + ln,
                            }
                        )
                    )
                yield pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
                    {"docID": pd.array([], dtype="int64"), "term": [],
                     "pos": pd.array([], dtype="int64"),
                     "start_offset": pd.array([], dtype="int64"),
                     "end_offset": pd.array([], dtype="int64")}
                )

        blocks = self._postings.filter(
            F.col("term").isin(list(set(terms)))
        ).select("term", "docs_vb", "tfs_vb", "pos_vb", "offs_vb", "olen_vb")
        return self._strip_deleted(blocks.mapInPandas(fn, schema=schema))

    def postings_payloads(self, terms: list[str]) -> DataFrame:
        """Decode per-occurrence payloads to exploded (docID, term, pos,
        payload) rows — PostingsEnum with the PAYLOADS flag (reference
        lucene/core/src/java/org/apache/lucene/index/PostingsEnum.java:58)
        over an index built with store_payloads (integer payloads from
        the delimited-payload filter; see index.builder.build_index)."""
        if not self.manifest.get("store_payloads"):
            raise ValueError("index built without payloads")
        schema = StructType(
            [
                StructField("docID", LongType()),
                StructField("term", StringType()),
                StructField("pos", LongType()),
                StructField("payload", LongType()),
            ]
        )
        dele_bc = self._deleted_bc

        def fn(batches):
            dele = dele_bc.value
            for pdf in batches:
                outs = []
                for term, docs_vb, tfs_vb, pos_vb, pay_vb in zip(
                    pdf["term"], pdf["docs_vb"], pdf["tfs_vb"],
                    pdf["pos_vb"], pdf["pay_vb"],
                ):
                    doc_ids = delta_decode(decode(bytes(docs_vb)))
                    tfs = decode(bytes(tfs_vb))
                    pos = segmented_delta_decode(decode(bytes(pos_vb)), tfs)
                    pay = decode(bytes(pay_vb))
                    if dele.size:
                        keep = ~np.isin(doc_ids, dele)
                        if not keep.all():
                            ends = np.cumsum(tfs)
                            idx = np.flatnonzero(keep)
                            parts = [
                                np.arange(ends[i] - tfs[i], ends[i])
                                for i in idx
                            ]
                            sel = (
                                np.concatenate(parts)
                                if parts
                                else np.empty(0, np.int64)
                            )
                            pos, pay = pos[sel], pay[sel]
                            doc_ids, tfs = doc_ids[keep], tfs[keep]
                    outs.append(
                        pd.DataFrame(
                            {
                                "docID": np.repeat(doc_ids, tfs),
                                "term": term,
                                "pos": pos,
                                "payload": pay,
                            }
                        )
                    )
                yield pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
                    {"docID": pd.array([], dtype="int64"), "term": [],
                     "pos": pd.array([], dtype="int64"),
                     "payload": pd.array([], dtype="int64")}
                )

        blocks = self._postings.filter(
            F.col("term").isin(list(set(terms)))
        ).select("term", "docs_vb", "tfs_vb", "pos_vb", "pay_vb")
        return self._strip_deleted(blocks.mapInPandas(fn, schema=schema))

    def payload_score(
        self, term: str, agg: str = "sum", k: int | None = 10
    ) -> DataFrame:
        """PayloadScoreQuery analog (reference lucene/queries/src/java/
        org/apache/lucene/queries/payloads/PayloadScoreQuery.java:47 with
        includeSpanScore=false): score each matching doc by an aggregate
        of the payloads at the term's positions — ``agg`` in
        sum/max/min/avg (SumPayloadFunction / MaxPayloadFunction /
        MinPayloadFunction / AveragePayloadFunction, reference
        lucene/queries/src/java/org/apache/lucene/queries/payloads/).
        Returns the top ``k`` (docID, payload_score) by score DESC,
        docID ASC.

        Scale shape: one (term, docID) pair lives in exactly ONE block
        row (blocks partition doc ranges; salt spans and tiered gens own
        disjoint ranges), so per-block reduceat aggregation is already
        complete per doc — a zero-shuffle map + TakeOrdered plan."""
        if agg not in ("sum", "max", "min", "avg"):
            raise ValueError(f"unknown payload aggregate {agg!r}")
        if not self.manifest.get("store_payloads"):
            raise ValueError("index built without payloads")
        out_type = "double" if agg == "avg" else "long"
        dele_bc = self._deleted_bc

        def fn(batches):
            dele = dele_bc.value
            for pdf in batches:
                outs = []
                for docs_vb, tfs_vb, pay_vb in zip(
                    pdf["docs_vb"], pdf["tfs_vb"], pdf["pay_vb"]
                ):
                    doc_ids = delta_decode(decode(bytes(docs_vb)))
                    tfs = decode(bytes(tfs_vb))
                    pay = decode(bytes(pay_vb))
                    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
                    if agg == "sum":
                        sc = np.add.reduceat(pay, starts)
                    elif agg == "max":
                        sc = np.maximum.reduceat(pay, starts)
                    elif agg == "min":
                        sc = np.minimum.reduceat(pay, starts)
                    else:  # avg
                        sc = np.add.reduceat(pay, starts) / tfs
                    if dele.size:
                        keep = ~np.isin(doc_ids, dele)
                        doc_ids, sc = doc_ids[keep], sc[keep]
                    outs.append(
                        pd.DataFrame({"docID": doc_ids, "payload_score": sc})
                    )
                yield pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
                    {"docID": pd.array([], dtype="int64"),
                     "payload_score": pd.array(
                         [], dtype="float64" if agg == "avg" else "int64"
                     )}
                )

        scored = self._postings.filter(F.col("term") == term).select(
            "docs_vb", "tfs_vb", "pay_vb"
        ).mapInPandas(fn, schema=f"docID long, payload_score {out_type}")
        scored = self._strip_deleted(scored)
        if k is None:  # all matches (caller applies its own tie-break)
            return scored
        return scored.orderBy(
            F.desc("payload_score"), F.asc("docID")
        ).limit(k)

    @property
    def docmap(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.index_dir, "docmap"))

    def _dl_histogram(self) -> tuple[np.ndarray, np.ndarray]:
        """(dl values, doc counts) histogram of the docmap — computed once
        per searcher (distinct dl count is tiny next to doc count) so
        derived collection statistics (combined-field avgdl for ANY
        title_len/weights) become driver-side numpy, not a per-query
        docmap scan. Matches Lucene reading per-field sumTotalTermFreq
        from precomputed segment stats rather than rescanning norms."""
        if self._dl_hist is None:
            pdf = self.docmap.groupBy("dl").count().toPandas()
            self._dl_hist = (
                pdf["dl"].to_numpy(dtype=np.int64),
                pdf["count"].to_numpy(dtype=np.int64),
            )
        return self._dl_hist

    @property
    def terms_table(self) -> DataFrame:
        return self._terms

    # -- public query API -------------------------------------------------

    def search(
        self,
        query: str | list[str],
        k: int = 10,
        mode: str = "or",
        prune: bool = False,
        pre_analyzed: bool = False,
    ) -> DataFrame:
        """Top-k DataFrame (docID long, score float) for a bag of terms.

        mode='or'  -> BooleanQuery of SHOULD clauses (sum of scores)
        mode='and' -> BooleanQuery of MUST clauses (leapfrog == count filter)
        prune=True -> block-max WAND pruning (score-safe; see
                      search_pruned for the bound derivation)

        CONTRACT: repeated query terms score ONCE (deduplicated) — the
        oracle dedups identically; Lucene's BooleanQuery would keep
        duplicate SHOULD clauses and double the contribution.

        pre_analyzed=True takes the terms VERBATIM (caller already ran
        the analyzer chain — e.g. a dictionary expansion; re-analysis
        could re-stem an already-stemmed term).
        """
        terms = (
            ([query] if isinstance(query, str) else list(query))
            if pre_analyzed
            else self._parse(query)
        )
        stats = self.term_stats(terms)
        present = [t for t in terms if t in stats]
        if not present or (mode == "and" and len(present) < len(set(terms))):
            return self._empty_topk()
        if prune:
            return self._search_pruned(present, stats, k, mode)
        scored = self._scored_postings(present, stats)
        return self._topk(scored, k, mode, n_terms=len(set(present)))

    def search_boolean(
        self,
        should: str | list[str] | None = None,
        must: str | list[str] | None = None,
        must_not: str | list[str] | None = None,
        min_should_match: int = 0,
        k: int = 10,
    ) -> DataFrame:
        """General BooleanQuery: MUST clauses all required (scored),
        SHOULD clauses optional (scored, >= min_should_match of them),
        MUST_NOT excluded (unscored) — ReqOptSum + ReqExcl semantics
        (search/ReqOptSumScorer.java, ReqExclScorer.java), float32 scores
        summed in double like DisjunctionSumScorer."""
        must_terms = self._parse(must) if must else []
        should_terms = self._parse(should) if should else []
        not_terms = self._parse(must_not) if must_not else []
        stats = self.term_stats(must_terms + should_terms)
        if any(t not in stats for t in must_terms):
            return self._empty_topk()
        should_present = [t for t in should_terms if t in stats]
        if not must_terms and not should_present:
            return self._empty_topk()

        parts = []
        if must_terms:
            m = self._scored_postings(must_terms, stats).withColumn(
                "req", F.lit(1)
            )
            parts.append(m)
        if should_present:
            s = self._scored_postings(should_present, stats).withColumn(
                "req", F.lit(0)
            )
            parts.append(s)
        scored = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        agg = scored.groupBy("docID").agg(
            F.sum(F.col("score").cast(DoubleType())).alias("dsum"),
            F.sum("req").alias("nreq"),
            F.sum(F.lit(1) - F.col("req")).alias("nopt"),
        )
        if must_terms:
            agg = agg.filter(F.col("nreq") == len(set(must_terms)))
        if min_should_match > 0:
            agg = agg.filter(F.col("nopt") >= min_should_match)
        if not_terms:
            excl_stats = self.term_stats(not_terms)
            present = [t for t in not_terms if t in excl_stats]
            if present:
                if self.query_cache is not None:
                    excl = None
                    for t in present:
                        d = self.filter_docs(t)
                        excl = d if excl is None else excl.unionByName(d)
                    excl = excl.distinct()
                else:
                    excl = self.postings_tf(present).select("docID").distinct()
                agg = agg.join(excl, "docID", "left_anti")
        return (
            agg.select("docID", F.col("dsum").cast(FloatType()).alias("score"))
            .orderBy(F.desc("score"), F.asc("docID"))
            .limit(k)
        )

    def search_common_terms(
        self,
        query: str | list[str],
        max_term_frequency: float = 0.01,
        low_freq_occur: str = "should",
        high_freq_occur: str = "should",
        low_msm: float = 0.0,
        high_msm: float = 0.0,
        k: int = 10,
    ) -> DataFrame:
        """CommonTermsQuery (queries/CommonTermsQuery.java:55): terms are
        classified by actual document frequency — a term is HIGH-frequency
        iff (maxTermFrequency >= 1 and df > maxTermFrequency) or
        df > ceil(maxTermFrequency * maxDoc) (buildQuery's exact OR,
        CommonTermsQuery.java:154-156). Low-frequency terms form the
        REQUIRED clause (with ``low_freq_occur`` per clause + minimum
        should match), high-frequency terms a purely OPTIONAL clause that
        only ever scores docs already matching the required part — the
        stopword-robust query shape. A fractional msm f in (0,1) means
        round(f * numClauses) (minNrShouldMatch, line 138-144); with no
        low-frequency terms the high clause rewrites to a conjunction
        unless an explicit high msm / MUST is set (line 175-182). A
        single-term query rewrites to a plain TermQuery (rewrite(),
        line 93-96); absent terms count as low-frequency clauses that can
        never match (termStates == null, line 151-153).

        Scale note: exactly ONE postings decode over all query terms —
        classification happens driver-side from the stats lookup, and the
        low/high split is two conditional aggregates in the same groupBy,
        so the "high-frequency terms are expensive" problem Lucene solves
        with lazy optional iterators is solved here by never scanning
        postings twice."""
        for name, occ in (("low_freq_occur", low_freq_occur), ("high_freq_occur", high_freq_occur)):
            if occ not in ("must", "should"):
                raise ValueError(f"{name} must be 'must' or 'should' (MUST_NOT is invalid), got {occ!r}")
        terms = self._parse(query)
        if not terms:
            return self._empty_topk()
        if len(terms) == 1:
            return self.search(terms, k=k)
        uniq = list(dict.fromkeys(terms))
        stats = self.term_stats(uniq)
        mtf = float(max_term_frequency)
        ceil_cut = int(math.ceil(mtf * float(self.doc_count)))
        low, high = [], []
        for t in uniq:
            df = stats[t].df if t in stats else 0
            if t in stats and ((mtf >= 1.0 and df > mtf) or df > ceil_cut):
                high.append(t)
            else:
                low.append(t)

        def _msm(f: float, n_opt: int) -> int:
            if f >= 1.0 or f == 0.0:
                return int(f)
            return int(math.floor(f * n_opt + 0.5))  # Java Math.round

        low_occ, high_occ = low_freq_occur, high_freq_occur
        low_req = _msm(low_msm, len(low)) if (low_occ == "should" and low) else 0
        high_req = _msm(high_msm, len(high)) if (high_occ == "should" and high) else 0
        if not low and high_req == 0 and high_occ != "must":
            high_occ = "must"  # all-high rewrites to a conjunction

        low_present = [t for t in low if t in stats]
        if low:
            # the low clause is REQUIRED: if it can't match, nothing does
            if low_occ == "must" and len(low_present) < len(low):
                return self._empty_topk()
            if not low_present:
                return self._empty_topk()
        present = low_present + high
        if not present:
            return self._empty_topk()

        # disjoint term sets -> the two scans decode the same total
        # postings one pass would; union + one groupBy keeps it one job
        parts = []
        if low_present:
            parts.append(
                self._scored_postings(low_present, stats).withColumn("lo", F.lit(1))
            )
        if high:
            parts.append(
                self._scored_postings(high, stats).withColumn("lo", F.lit(0))
            )
        scored = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
        agg = scored.groupBy("docID").agg(
            F.sum(F.when(F.col("lo") == 1, F.col("score").cast(DoubleType())).otherwise(0.0)).alias("low_sum"),
            F.sum("lo").alias("low_cnt"),
            F.sum(F.when(F.col("lo") == 0, F.col("score").cast(DoubleType())).otherwise(0.0)).alias("high_sum"),
            F.sum(F.lit(1) - F.col("lo")).alias("high_cnt"),
        )
        high_match = (
            (F.col("high_cnt") == len(high))
            if high_occ == "must"
            else (F.col("high_cnt") >= max(high_req, 1))
        )
        if low:
            agg = agg.filter(
                F.col("low_cnt") == len(low)
                if low_occ == "must"
                else F.col("low_cnt") >= max(low_req, 1)
            )
            score = F.col("low_sum") + F.when(high_match, F.col("high_sum")).otherwise(0.0)
        else:
            agg = agg.filter(high_match)
            score = F.col("high_sum")
        return (
            agg.select("docID", score.cast(FloatType()).alias("score"))
            .orderBy(F.desc("score"), F.asc("docID"))
            .limit(k)
        )

    def search_covering(
        self,
        queries: list[str | list[str]],
        min_match,
        k: int = 10,
    ) -> DataFrame:
        """CoveringQuery (sandbox/search/CoveringQuery.java:51): match docs
        where at least minimumNumberMatch(doc) of the sub-queries match,
        the minimum being a PER-DOCUMENT long values source. Values < 1
        clamp to 1 (CoveringScorer.java:135 Math.max(1, ...)); documents
        WITHOUT a value do not match (the constructor contract). Score =
        sum of the matching sub-queries' scores. Sub-queries are term
        bags scored like search(mode='or').

        ``min_match`` is the LongValuesSource analog: either a numeric
        DocValues field name (index/docvalues.py live generation) or a
        (docID, value) DataFrame. Returns top-k (docID, score).

        Plan shape: one decode per sub-query's term set (disjoint work),
        one groupBy for (count, sum), one join against the values source
        — the values side is a 2-column columnar scan, never the corpus."""
        subs = []
        all_parsed = [self._parse(q) for q in queries]
        flat = [t for p in all_parsed for t in p]
        stats = self.term_stats(flat)
        for terms in all_parsed:
            present = [t for t in terms if t in stats]
            if not present:
                continue
            subs.append(
                self._scored_postings(present, stats)
                .groupBy("docID")
                .agg(F.sum(F.col("score").cast(DoubleType())).alias("sub"))
            )
        if not subs:
            return self._empty_topk()
        un = subs[0]
        for s in subs[1:]:
            un = un.unionByName(s)
        agg = un.groupBy("docID").agg(
            F.count("*").alias("nmatch"),
            F.sum("sub").alias("dsum"),
        )
        if isinstance(min_match, str):
            from lucene_spark.index.docvalues import read_docvalues

            vals = read_docvalues(self.spark, self.index_dir, min_match)
        else:
            vals = min_match.select("docID", "value")
        hit = agg.join(vals, "docID").filter(
            F.col("nmatch") >= F.greatest(F.lit(1), F.col("value"))
        )
        return (
            hit.select("docID", F.col("dsum").cast(FloatType()).alias("score"))
            .orderBy(F.desc("score"), F.asc("docID"))
            .limit(k)
        )

    def search_dismax(
        self, queries: list[str], tie_breaker: float = 0.0, k: int = 10
    ) -> DataFrame:
        """DisjunctionMaxQuery: score = max(sub) + tieBreaker * sum(others)
        (search/DisjunctionMaxQuery.java:357). Sub-queries here are bags of
        terms scored like `search(mode='or')`."""
        all_terms: list[str] = []
        parsed = [self._parse(q) for q in queries]
        for p in parsed:
            all_terms.extend(p)
        stats = self.term_stats(all_terms)
        subs = []
        for qi, terms in enumerate(parsed):
            present = [t for t in terms if t in stats]
            if not present:
                continue
            sub = (
                self._scored_postings(present, stats)
                .groupBy("docID")
                .agg(F.sum(F.col("score").cast(DoubleType())).alias("sub"))
                .withColumn("qi", F.lit(qi))
            )
            subs.append(sub)
        if not subs:
            return self._empty_topk()
        un = subs[0]
        for s in subs[1:]:
            un = un.unionByName(s)
        agg = un.groupBy("docID").agg(
            F.max("sub").alias("mx"), F.sum("sub").alias("sm")
        )
        score = (F.col("mx") + tie_breaker * (F.col("sm") - F.col("mx"))).cast(
            FloatType()
        )
        return (
            agg.select("docID", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("docID"))
            .limit(k)
        )

    def search_block_join(
        self,
        child_query: str | list[str],
        parent_of: str = "repo",
        score_mode: str = "avg",
        k: int = 10,
        mode: str = "or",
    ) -> DataFrame:
        """ToParentBlockJoinQuery analog (reference lucene/join/src/java/
        org/apache/lucene/search/join/ToParentBlockJoinQuery.java:63 with
        ScoreMode lucene/join/src/java/org/apache/lucene/search/join/
        ScoreMode.java): score child docs with the boolean BM25 query,
        then aggregate matching children up to their parent —
        ``score_mode`` in none/avg/max/total/min (ScoreMode.None matches
        without scoring; parents score 0 like Lucene's).

        Parent identity, Spark-first: Lucene requires each parent and its
        children to be indexed as one contiguous doc block (the parents
        BitSet marks block ends). Here the same invariant holds
        structurally — docID is the global (repo, path, commit) rank — so
        any ``parent_of`` SQL expression over the docmap columns that is
        constant exactly on contiguous key ranges (e.g. ``repo``, or a
        path prefix) defines valid blocks; the parent is returned as its
        key rather than a sentinel docID.

        Returns top-``k`` (parent, score double, n_children) by score
        DESC, parent ASC.

        Plan shape at scale: child scoring is the standard map-only block
        decode; the docID->parent attachment is ONE join against the
        docmap projection (the hits side is query-selective, so AQE
        broadcasts it for selective queries); the parent rollup is one
        partially-aggregated groupBy — two shuffles total, independent of
        corpus size."""
        agg = self._block_join_parent_scores(
            child_query, parent_of, score_mode, mode
        )
        if agg is None:
            return self.spark.createDataFrame(
                [], "parent string, score double, n_children long"
            )
        return (
            agg.orderBy(F.desc("score"), F.asc("parent"))
            .limit(k)
            .select("parent", F.col("score").cast(DoubleType()), "n_children")
        )

    def _block_join_parent_scores(
        self,
        child_query: str | list[str],
        parent_of: str,
        score_mode: str,
        mode: str,
    ) -> DataFrame | None:
        """Unlimited (parent, score, n_children) rollup shared by the
        ToParent and ToChild block-join directions; None when no child
        term exists (both directions return empty)."""
        if score_mode not in ("none", "avg", "max", "total", "min"):
            raise ValueError(f"unknown ScoreMode {score_mode!r}")
        terms = self._parse(child_query)
        stats = self.term_stats(terms)
        present = [t for t in terms if t in stats]
        if not present or (mode == "and" and len(present) < len(set(terms))):
            return None
        child = (
            self._scored_postings(present, stats)
            .groupBy("docID")
            .agg(
                F.sum(F.col("score").cast(DoubleType())).alias("cs"),
                F.count("*").alias("nt"),
            )
        )
        if mode == "and":
            child = child.filter(F.col("nt") == len(set(present)))
        parents = self.docmap.selectExpr("docID", f"({parent_of}) AS parent")
        joined = child.join(parents, "docID")
        agg_fn = {
            "avg": F.avg, "max": F.max, "total": F.sum, "min": F.min,
            "none": lambda c: F.lit(0.0),
        }[score_mode]
        return joined.groupBy("parent").agg(
            agg_fn("cs").alias("score"), F.count("*").alias("n_children")
        )

    def search_block_join_children(
        self,
        child_query: str | list[str],
        parent_of: str = "repo",
        score_mode: str = "avg",
        k: int = 10,
        mode: str = "or",
    ) -> DataFrame:
        """ToChildBlockJoinQuery analog (reference lucene/join/src/java/
        org/apache/lucene/search/join/ToChildBlockJoinQuery.java:57): the
        inverse join direction — a parent-level score is pushed DOWN to
        every (live) child doc of the matching block, each child scoring
        exactly its parent's score (the doScores=true path,
        ToChildBlockJoinQuery.java:188-197 ``parentScore``). Composed the
        way the reference's nested-document pattern uses it: the parent
        score comes from the same child query + ScoreMode rollup as
        ``search_block_join`` (ToChild(ToParent(q)) — "give me every
        child of the best-matching parents").

        Returns top-``k`` (docID, parent, score double) by score DESC,
        docID ASC. Tombstoned children never come back (`_live_docmap`),
        mirroring the reference's acceptDocs filtering at
        ToChildBlockJoinQuery.java:152.

        Plan shape at scale: the parent rollup is `search_block_join`'s
        two-shuffle aggregate; the down-join touches each docmap row once
        against the (at most |parents|-row) aggregate — AQE broadcasts
        the parent side for selective queries — then TakeOrdered. No
        shuffle proportional to corpus size beyond the scan."""
        agg = self._block_join_parent_scores(
            child_query, parent_of, score_mode, mode
        )
        if agg is None:
            return self.spark.createDataFrame(
                [], "docID long, parent string, score double"
            )
        parents = agg.select(
            "parent", F.col("score").cast(DoubleType()).alias("score")
        )
        children = self._live_docmap().selectExpr(
            "docID", f"({parent_of}) AS parent"
        )
        return (
            children.join(parents, "parent")
            .orderBy(F.desc("score"), F.asc("docID"))
            .limit(k)
            .select("docID", "parent", F.col("score").cast(DoubleType()))
        )

    def _live_docmap(self) -> DataFrame:
        """docmap restricted to live docs (the liveDocs bitset applied to
        a doc-major scan): the broadcast tombstone set becomes a broadcast
        anti-join frame; the oversized-set mode reuses the anti-join
        fallback. Paths that START from postings get liveness from the
        decode kernels instead — this is for paths that start from the
        docmap itself."""
        dm = self.docmap
        if self._deleted.size:
            tomb = self.spark.createDataFrame(
                pd.DataFrame({"docID": self._deleted})
            )
            return dm.join(F.broadcast(tomb), "docID", "left_anti")
        return self._strip_deleted(dm)

    def search_query_join(
        self,
        from_query: str | list[str],
        from_field: str,
        to_field: str | None = None,
        score_mode: str = "avg",
        k: int = 10,
        mode: str = "or",
    ) -> DataFrame:
        """Query-time join — JoinUtil.createJoinQuery analog (reference
        lucene/join/src/java/org/apache/lucene/search/join/JoinUtil.java:81):
        phase 1 runs ``from_query`` and aggregates the BM25 scores of
        matching docs per ``from_field`` value under ``score_mode``
        (none/avg/max/total/min, join/ScoreMode.java); phase 2 matches
        every live doc whose ``to_field`` equals one of the collected
        values, scored with that value's aggregate. ScoreMode.None scores
        a constant 1.0 (JoinUtil wraps the collected terms in a
        ConstantScoreQuery). Fields are SQL expressions over docmap
        columns. Returns top-``k`` (docID, value, score) by score DESC,
        docID ASC.

        Plan shape at scale: the from-side per-value aggregate is at most
        |distinct from_field values| rows — broadcast to the to-side
        docmap scan (hinted explicitly), so the 10^9-doc side never
        shuffles; TakeOrdered finishes it."""
        if score_mode not in ("none", "avg", "max", "total", "min"):
            raise ValueError(f"unknown ScoreMode {score_mode!r}")
        to_field = to_field or from_field
        empty = self.spark.createDataFrame(
            [], "docID long, value string, score double"
        )
        terms = self._parse(from_query)
        stats = self.term_stats(terms)
        present = [t for t in terms if t in stats]
        if not present or (mode == "and" and len(present) < len(set(terms))):
            return empty
        hits = (
            self._scored_postings(present, stats)
            .groupBy("docID")
            .agg(
                F.sum(F.col("score").cast(DoubleType())).alias("cs"),
                F.count("*").alias("nt"),
            )
        )
        if mode == "and":
            hits = hits.filter(F.col("nt") == len(set(present)))
        from_vals = hits.join(
            self.docmap.selectExpr("docID", f"({from_field}) AS value"), "docID"
        )
        agg_fn = {
            "avg": F.avg, "max": F.max, "total": F.sum, "min": F.min,
            "none": lambda c: F.lit(1.0),
        }[score_mode]
        joined = (
            from_vals.groupBy("value")
            .agg(agg_fn("cs").cast(DoubleType()).alias("score"))
        )
        to_side = self._live_docmap().selectExpr(
            "docID", f"({to_field}) AS value"
        )
        return (
            to_side.join(F.broadcast(joined), "value")
            .orderBy(F.desc("score"), F.asc("docID"))
            .limit(k)
            .select("docID", "value", "score")
        )

    def drill_sideways(
        self,
        query: str | list[str],
        drill_downs: dict[str, str],
        mode: str = "or",
    ) -> DataFrame:
        """DrillSideways analog (reference lucene/facet/src/java/org/
        apache/lucene/facet/DrillSideways.java:62): for each drill-down
        dimension, facet counts over the docs matching the base query
        plus every OTHER dimension's drill-down — the "sideways" sets a
        faceted UI shows so the user can switch one filter's value
        without losing the rest. Dimensions are docmap column names with
        exact-match drill-down values.

        Single-pass near-miss evaluation (DrillSidewaysScorer.java:49's
        contract, re-expressed declaratively): a base-matching doc that
        fails 0 drill-downs contributes to EVERY dimension's counts; a
        doc that fails exactly 1 contributes only to the failed
        dimension; 2+ misses contribute nowhere. One postings decode, one
        explode of at most |dims| structs per doc, one partial-agg
        groupBy — no per-dimension re-query.

        Returns (dim, value, count) ordered dim ASC, count DESC, value
        ASC."""
        dims = list(drill_downs)
        empty = self.spark.createDataFrame(
            [], "dim string, value string, count long"
        )
        terms = self._parse(query)
        stats = self.term_stats(terms)
        present = [t for t in terms if t in stats]
        if not present or (mode == "and" and len(present) < len(set(terms))):
            return empty
        hits = (
            self._scored_postings(present, stats)
            .groupBy("docID")
            .agg(F.count("*").alias("nt"))
        )
        if mode == "and":
            hits = hits.filter(F.col("nt") == len(set(present)))
        base = hits.join(self.docmap.select("docID", *dims), "docID")
        miss = sum(
            (F.when(F.col(d) == F.lit(v), 0).otherwise(1))
            for d, v in drill_downs.items()
        )
        contribs = F.array(*[
            F.when(
                # misses among the OTHER dims == 0
                miss - F.when(F.col(d) == F.lit(drill_downs[d]), 0).otherwise(1)
                == 0,
                F.struct(
                    F.lit(d).alias("dim"),
                    F.col(d).cast(StringType()).alias("value"),
                ),
            )
            for d in dims
        ])
        exploded = (
            base.select(F.explode(contribs).alias("c"))
            .filter(F.col("c").isNotNull())
            .select("c.dim", "c.value")
        )
        return (
            exploded.groupBy("dim", "value")
            .agg(F.count("*").alias("count"))
            .orderBy(F.asc("dim"), F.desc("count"), F.asc("value"))
        )

    def search_synonym(self, terms: list[str], k: int = 10) -> DataFrame:
        """SynonymQuery: all terms scored as ONE pseudo-term — tf summed
        per doc, df = |union of doc sets| (search/SynonymQuery.java:719);
        float32 BM25 over byte4 norms like TermQuery."""
        terms = self._parse(terms)
        stats = self.term_stats(terms)
        present = [t for t in terms if t in stats]
        if not present:
            return self._empty_topk()
        blocks = self._postings.filter(F.col("term").isin(present)).select(
            "docs_vb", "tfs_vb", "norms_b"
        )
        cache = self.scorer.cache

        schema = StructType(
            [
                StructField("docID", LongType()),
                StructField("tf", LongType()),
                StructField("norm", IntegerType()),
            ]
        )

        dele_bc = self._deleted_bc

        def decode_rows(batches):
            dele = dele_bc.value
            for pdf in batches:
                outs = []
                for docs_vb, tfs_vb, norms_b in zip(
                    pdf["docs_vb"], pdf["tfs_vb"], pdf["norms_b"]
                ):
                    doc_ids = delta_decode(decode(bytes(docs_vb)))
                    tfs = decode(bytes(tfs_vb))
                    norms = np.frombuffer(bytes(norms_b), dtype=np.uint8)
                    if dele.size:
                        keep = ~np.isin(doc_ids, dele)
                        doc_ids, tfs, norms = doc_ids[keep], tfs[keep], norms[keep]
                    outs.append(
                        pd.DataFrame(
                            {"docID": doc_ids, "tf": tfs, "norm": norms.astype(np.int32)}
                        )
                    )
                yield pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
                    {"docID": pd.array([], dtype="int64"), "tf": pd.array([], dtype="int64"), "norm": pd.array([], dtype="int32")}
                )

        rows = self._strip_deleted(blocks.mapInPandas(decode_rows, schema=schema))
        # df of the pseudo-term (|union of doc sets|) gates the weight, so
        # two actions touch `merged` — persist the NARROW (docID, tf,
        # norm) aggregate so the block decode + groupBy run exactly once
        # (persisting narrow aggregates is fine; the measured persist trap
        # is wide columnar rows), and finalize the k-row result eagerly so
        # the cache can be released before returning.
        merged = rows.groupBy("docID").agg(
            F.sum("tf").alias("tf"), F.min("norm").alias("norm")
        ).persist()
        out_schema = StructType(
            [StructField("docID", LongType()), StructField("score", FloatType())]
        )
        try:
            df_union = merged.count()
            w = float(np.float32(idf(df_union, self.doc_count)))

            def score_rows(batches):
                wv = np.float32(w)
                for pdf in batches:
                    tfs = pdf["tf"].to_numpy(np.float32)
                    inv = cache[pdf["norm"].to_numpy(np.int64)]
                    sc = (wv - wv / (np.float32(1.0) + tfs * inv)).astype(np.float32)
                    yield pd.DataFrame({"docID": pdf["docID"], "score": sc})

            scored = merged.mapInPandas(score_rows, schema=out_schema)
            top = scored.orderBy(F.desc("score"), F.asc("docID")).limit(k).collect()
            return self.spark.createDataFrame(top, out_schema)
        finally:
            merged.unpersist()

    def search_blended(
        self,
        terms: list[str],
        k: int = 10,
        tie_breaker: float = 0.01,
        boosts: dict[str, float] | None = None,
    ) -> DataFrame:
        """BlendedTermQuery (search/BlendedTermQuery.java:271-299): every
        term is scored with one BLENDED df — the max df across the terms —
        so search-time synonyms score identically regardless of their own
        rarity; the per-term scores then combine like DisjunctionMax with
        ``tie_breaker`` (default 0.01 = DISJUNCTION_MAX_REWRITE). Per-term
        boosts multiply the term weight, matching BoostQuery-wrapping of
        the rewritten TermQuerys."""
        terms = self._parse(terms)
        stats = self.term_stats(terms)
        present = [t for t in terms if t in stats]
        if not present:
            return self._empty_topk()
        df_blend = max(stats[t].df for t in present)
        w = float(np.float32(idf(df_blend, self.doc_count)))
        weights = {
            t: w * float((boosts or {}).get(t, 1.0)) for t in set(present)
        }
        scored = self._scored_postings(present, stats, weights=weights)
        agg = scored.groupBy("docID").agg(
            F.max(F.col("score").cast(DoubleType())).alias("mx"),
            F.sum(F.col("score").cast(DoubleType())).alias("sm"),
        )
        score = (
            F.col("mx") + F.lit(float(tie_breaker)) * (F.col("sm") - F.col("mx"))
        ).cast(FloatType())
        return (
            agg.select("docID", score.alias("score"))
            .orderBy(F.desc("score"), F.asc("docID"))
            .limit(k)
        )

    def search_with_synonyms(
        self,
        query: str | list[str],
        synonyms: dict[str, list[str]],
        k: int = 10,
        mode: str = "or",
    ) -> DataFrame:
        """Query-time synonym-graph expansion: SynonymGraphFilter
        (analysis/common/.../synonym/SynonymGraphFilter.java:78) applied
        at query time the way QueryBuilder.analyzeGraphBoolean composes
        it — each analyzed query token becomes one SLOT scored as a
        SynonymQuery over [token] + synonyms[token] (tf summed per doc,
        df = |union of the group's doc sets|, min norm;
        search/SynonymQuery.java:719), and slots combine as BooleanQuery
        SHOULD (mode='or') or MUST ('and').

        Dictionary values pass through the same analyzer chain as the
        query, so a stemmed index expands consistently. The whole
        multi-slot query is ONE postings scan: terms are decoded once
        with a term->slot label, aggregated per (docID, slot), and the
        per-slot union-df weights come from a single count on the
        persisted narrow aggregate."""
        tokens = self._parse(query)
        raw_slots: list[list[str]] = []
        for tok in tokens:
            group = [tok]
            for syn in synonyms.get(tok, ()):
                group.extend(self._parse(syn))
            raw_slots.append(list(dict.fromkeys(group)))
        stats = self.term_stats([t for g in raw_slots for t in g])
        term_slot: dict[str, int] = {}
        live_slots: list[list[str]] = []
        for g in raw_slots:
            present = [t for t in g if t in stats and t not in term_slot]
            if not present:
                if mode == "and":
                    return self._empty_topk()  # a MUST slot can't match
                continue
            for t in present:
                term_slot[t] = len(live_slots)
            live_slots.append(present)
        if not live_slots:
            return self._empty_topk()
        n_slots = len(live_slots)
        blocks = self._postings.filter(
            F.col("term").isin(list(term_slot))
        ).select("term", "docs_vb", "tfs_vb", "norms_b")
        cache = self.scorer.cache
        dele_bc = self._deleted_bc
        slot_of = dict(term_slot)

        schema = StructType(
            [
                StructField("docID", LongType()),
                StructField("slot", IntegerType()),
                StructField("tf", LongType()),
                StructField("norm", IntegerType()),
            ]
        )

        def decode_rows(batches):
            dele = dele_bc.value
            for pdf in batches:
                outs = []
                for term, docs_vb, tfs_vb, norms_b in zip(
                    pdf["term"], pdf["docs_vb"], pdf["tfs_vb"], pdf["norms_b"]
                ):
                    doc_ids = delta_decode(decode(bytes(docs_vb)))
                    tfs = decode(bytes(tfs_vb))
                    norms = np.frombuffer(bytes(norms_b), dtype=np.uint8)
                    if dele.size:
                        keep = ~np.isin(doc_ids, dele)
                        doc_ids, tfs, norms = doc_ids[keep], tfs[keep], norms[keep]
                    outs.append(
                        pd.DataFrame(
                            {
                                "docID": doc_ids,
                                "slot": np.full(
                                    len(doc_ids), slot_of[term], dtype=np.int32
                                ),
                                "tf": tfs,
                                "norm": norms.astype(np.int32),
                            }
                        )
                    )
                if outs:
                    yield pd.concat(outs, ignore_index=True)

        rows = self._strip_deleted(blocks.mapInPandas(decode_rows, schema=schema))
        # same persist rationale as search_synonym: the narrow
        # (docID, slot, tf, norm) aggregate feeds both the per-slot df
        # count and the scoring pass
        merged = rows.groupBy("docID", "slot").agg(
            F.sum("tf").alias("tf"), F.min("norm").alias("norm")
        ).persist()
        try:
            ws = np.zeros(n_slots, dtype=np.float32)
            for r in merged.groupBy("slot").agg(F.count("*").alias("df")).collect():
                ws[r["slot"]] = np.float32(idf(r["df"], self.doc_count))

            out_schema = StructType(
                [StructField("docID", LongType()), StructField("score", FloatType())]
            )

            def score_rows(batches):
                for pdf in batches:
                    tfs = pdf["tf"].to_numpy(np.float32)
                    inv = cache[pdf["norm"].to_numpy(np.int64)]
                    wv = ws[pdf["slot"].to_numpy(np.int64)]
                    sc = (wv - wv / (np.float32(1.0) + tfs * inv)).astype(
                        np.float32
                    )
                    yield pd.DataFrame({"docID": pdf["docID"], "score": sc})

            scored = merged.mapInPandas(score_rows, schema=out_schema)
            top = self._topk(scored, k, mode, n_terms=n_slots).collect()
            return self.spark.createDataFrame(top, out_schema)
        finally:
            merged.unpersist()

    def count(self, query: str | list[str]) -> int:
        """TotalHitCountCollector analog; single terms shortcut via df."""
        terms = self._parse(query)
        stats = self.term_stats(terms)
        if len(terms) == 1 and not self._n_deleted:
            return stats[terms[0]].df if terms[0] in stats else 0
        present = [t for t in terms if t in stats]
        if not present:
            return 0
        return (
            self._scored_postings(present, stats)
            .select("docID")
            .distinct()
            .count()
        )

    # -- vector & hybrid retrieval (KnnFloatVectorQuery analog) ------------

    def knn_search(
        self,
        vectors: DataFrame,
        query_vec,
        k: int = 10,
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Exact cosine top-k over a docID-keyed vector column as a
        SEARCHER citizen (KnnFloatVectorQuery.java:48 +
        DocIdSetIterator liveDocs semantics): deleted docs never
        surface — the Arrow-batched scoring kernel drops the broadcast
        tombstone set (same contract as every postings decode kernel)
        and the output additionally passes the anti-join fallback for
        oversized delete sets. One narrow map + TakeOrdered; the 10^9
        path is search_ivf (cell-pruned probes into a persisted IVF
        layout)."""
        dele_bc = self._deleted_bc
        qd = np.asarray(query_vec, dtype=np.float64)
        qd = qd / max(float(np.linalg.norm(qd)), 1e-30)
        schema = StructType(
            [StructField("docID", LongType()), StructField("score", DoubleType())]
        )

        def score(batches):
            dele = dele_bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                ids = pdf["docID"].to_numpy(np.int64)
                vecs = pdf[vec_col].to_numpy()
                if dele.size:
                    keep = np.isin(ids, dele, invert=True)
                    if not keep.any():
                        continue
                    ids = ids[keep]
                    vecs = vecs[keep]
                mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
                nrms = np.maximum(np.linalg.norm(mat, axis=1), 1e-30)
                yield pd.DataFrame({"docID": ids, "score": (mat @ qd) / nrms})

        out = vectors.select("docID", vec_col).mapInPandas(score, schema=schema)
        out = self._strip_deleted(out)
        return out.orderBy(F.desc("score"), F.asc("docID")).limit(k)

    def search_ivf(
        self,
        ivf_dir: str,
        query_vec,
        k: int = 10,
        nprobe: int = 4,
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Tombstone-aware approximate top-k against a persisted IVF
        index whose id column is docID: probe the nprobe nearest cells
        (partition-pruned scan), exact re-rank via knn_search (which
        drops deleted docs)."""
        from lucene_spark.pipeline.ann import ivf_candidates

        cand, _ = ivf_candidates(self.spark, ivf_dir, query_vec, nprobe)
        return self.knn_search(cand, query_vec, k=k, vec_col=vec_col)

    def search_hybrid(
        self,
        query: str | list[str],
        query_vec,
        vectors: DataFrame | None = None,
        ivf_dir: str | None = None,
        k: int = 10,
        n_candidates: int = 100,
        rrf_k: int = 60,
        mode: str = "or",
        nprobe: int = 4,
    ) -> DataFrame:
        """Hybrid BM25 + vector top-k via reciprocal-rank fusion
        (search/hybrid.py): fused score = sum over legs of
        1/(rrf_k + rank). Both legs are tombstone-aware; ranks use the
        engine-wide tie-break (score DESC, docID ASC) so the fusion is
        an exact double-precision closed form."""
        from lucene_spark.search.hybrid import rrf_fuse

        bm = self.search(query, k=n_candidates, mode=mode)
        if ivf_dir is not None:
            kn = self.search_ivf(ivf_dir, query_vec, k=n_candidates, nprobe=nprobe)
        else:
            if vectors is None:
                raise ValueError("search_hybrid needs vectors or ivf_dir")
            kn = self.knn_search(vectors, query_vec, k=n_candidates)
        return rrf_fuse([bm, kn], k=k, rrf_k=rrf_k)

    def sort_by_docvalue(
        self,
        term: str,
        field: str,
        k: int = 10,
        descending: bool = True,
        after: tuple[int, int] | None = None,
    ) -> DataFrame:
        """SortField.LONG over an index-resident numeric DocValues
        column (index/docvalues.py — updateNumericDocValue analog):
        live docs matching `term`, ordered by the field's LIVE
        generation (re-resolved through the manifest per call, so
        updates are visible without reopening the searcher).

        ``after=(value, docID)`` is searchAfter for field sorts
        (IndexSearcher.searchAfter + FieldDoc): only docs strictly after
        the cursor in (value, docID) order are considered. On a
        generation written value-sorted (set_docvalues' default) the
        cursor's value bound is a PLAIN range predicate the parquet scan
        prunes with file/rowgroup min/max stats — the
        IndexSortSortedNumericDocValuesRangeQuery.java:60 trick: page N
        of a deep pagination reads only the value range past the
        cursor, not the whole column."""
        from lucene_spark.index.docvalues import read_docvalues

        dv = read_docvalues(self.spark, self.index_dir, field)
        if after is not None:
            av, adoc = int(after[0]), int(after[1])
            val_past = (
                F.col("value") < av if descending else F.col("value") > av
            )
            dv = dv.filter(
                val_past
                | ((F.col("value") == av) & (F.col("docID") > adoc))
            )
        hits = self.filter_docs(term)
        order = [
            F.desc("value") if descending else F.asc("value"),
            F.asc("docID"),
        ]
        return (
            hits.join(dv, "docID")
            .orderBy(*order)
            .limit(k)
            .select("docID", "value")
        )

    def suggest(self, prefix: str, k: int = 10) -> DataFrame:
        """Search-as-you-type completion over the term dictionary —
        the suggest module's lookup with document frequency as the
        weight (reference lucene/suggest/src/java/org/apache/lucene/
        search/suggest/fst/WFSTCompletionLookup.java): top-k terms
        starting with `prefix`, heaviest (highest df) first, ties term
        ASC. The startswith predicate prunes the term-range-partitioned
        terms scan via parquet min/max — the FST prefix-walk analog."""
        return (
            self._terms.filter(F.col("term").startswith(prefix))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(k)
            .select("term", F.col("df").cast(LongType()).alias("df"))
        )

    def suggest_similar(
        self, term: str, k: int = 5, max_edits: int = 2
    ) -> DataFrame:
        """Spell correction ("did you mean") — DirectSpellChecker analog
        (reference lucene/suggest/src/java/org/apache/lucene/search/
        spell/DirectSpellChecker.java:50): candidate dictionary terms
        within ``max_edits`` Levenshtein edits of the (presumably
        misspelled) input, the input itself excluded, ranked by edit
        distance ASC (DirectSpellChecker's string-distance score, which
        for whole-term Levenshtein orders identically), then document
        frequency DESC (its docFreq tie-break), then term ASC for full
        determinism. Reuses fuzzy_terms' pruned dictionary scan (length
        window + pigeonhole substrings pushed into the parquet scan), so
        the exact levenshtein runs only on survivors. Columns
        (term, df, dist)."""
        t = self.fuzzy_terms(term, max_edits).filter(F.col("term") != term)
        return (
            t.withColumn(
                "dist",
                F.levenshtein(F.col("term"), F.lit(term)).cast(LongType()),
            )
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(k)
            .select(
                "term", F.col("df").cast(LongType()).alias("df"), "dist"
            )
        )

    def suggest_word_breaks(
        self,
        term: str,
        k: int = 5,
        min_break_length: int = 2,
        min_suggestion_frequency: int = 1,
    ) -> DataFrame:
        """Word-break correction — WordBreakSpellChecker.suggestWordBreaks
        analog (reference lucene/suggest/src/java/org/apache/lucene/
        search/spell/WordBreakSpellChecker.java:34, defaults
        DEFAULT_MIN_BREAK_WORD_LENGTH=1 raised to 2 here,
        maxChanges=1 i.e. single-break only — the reference's recursive
        multi-break pass is a documented omission): split the
        (run-together) input into two dictionary words at every
        position, keep splits where BOTH halves are terms with
        df >= min_suggestion_frequency, ranked by the reference's
        NUM_CHANGES_THEN_SUMMED_FREQUENCY order (changes are constant 1
        here, so summed df DESC), ties left ASC for determinism.
        Columns (left, right, freq_sum).

        Plan shape: the split candidates are a len(term)-row driver
        literal frame; both joins hit the vocab-sized terms table with
        an `isin` over at most len(term) literals each — pushed to the
        sorted-term parquet stats, no postings read, no shuffle beyond
        two small joins."""
        n = len(term)
        cands = [
            (term[:i], term[i:])
            for i in range(min_break_length, n - min_break_length + 1)
        ]
        if not cands:
            return self.spark.createDataFrame(
                [], "left string, right string, freq_sum long"
            )
        cdf = self.spark.createDataFrame(cands, "left string, right string")
        tl = self._terms.filter(
            F.col("term").isin([c[0] for c in cands])
            & (F.col("df") >= min_suggestion_frequency)
        ).select(F.col("term").alias("left"), F.col("df").alias("df_l"))
        tr = self._terms.filter(
            F.col("term").isin([c[1] for c in cands])
            & (F.col("df") >= min_suggestion_frequency)
        ).select(F.col("term").alias("right"), F.col("df").alias("df_r"))
        return (
            cdf.join(F.broadcast(tl), "left")
            .join(F.broadcast(tr), "right")
            .select(
                "left",
                "right",
                (F.col("df_l") + F.col("df_r"))
                .cast(LongType())
                .alias("freq_sum"),
            )
            .orderBy(F.desc("freq_sum"), F.asc("left"))
            .limit(k)
        )

    def suggest_infix(self, substr: str, k: int = 10) -> DataFrame:
        """Infix completion — AnalyzingInfixSuggester analog (reference
        lucene/suggest/src/java/org/apache/lucene/search/suggest/analyzing/
        AnalyzingInfixSuggester.java:82): suggestions whose text CONTAINS
        the typed fragment anywhere, not just as a prefix, heaviest
        (highest df) first, ties term ASC. The reference builds a side
        index of edge n-grams to make this a term lookup; on Spark the
        dictionary is a columnar table a contains-filter scans directly —
        at 100 TB the terms table is ~vocab-sized (millions of rows, not
        corpus-sized), so the full scan is a single small stage and needs
        no auxiliary n-gram index."""
        return (
            self._terms.filter(F.col("term").contains(substr))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(k)
            .select("term", F.col("df").cast(LongType()).alias("df"))
        )

    def suggest_fuzzy(
        self,
        prefix: str,
        k: int = 10,
        max_edits: int = 1,
        non_fuzzy_prefix: int = 1,
        min_fuzzy_length: int = 3,
    ) -> DataFrame:
        """Typo-tolerant completion — FuzzySuggester analog (reference
        lucene/suggest/src/java/org/apache/lucene/search/suggest/analyzing/
        FuzzySuggester.java:63, defaults DEFAULT_MAX_EDITS=1,
        DEFAULT_NON_FUZZY_PREFIX=1, DEFAULT_MIN_FUZZY_LENGTH=3): top-k
        dictionary terms some PREFIX of which is within ``max_edits``
        Levenshtein edits of the typed text, ranked df DESC (the
        suggester weight), ties term ASC.

        Prefix-edit-distance on columns: ped(p, t) = min over
        L in [len(p)-e, len(p)+e] of lev(substring(t, 1, L), p) — the
        Levenshtein automaton intersected with the suggest FST collapses
        to a bounded LEAST() of 2e+1 whole-string distances, pure
        codegen, no UDF. Cheap pruning first: the reference's
        nonFuzzyPrefix (first characters must match exactly) is a
        startswith the parquet term-range stats prune, and terms shorter
        than len(p)-e cannot reach ped <= e (their best prefix is the
        whole term, already len(p)-len(t) > e deletions short).

        Deviation (documented): the reference automaton counts a
        transposition as ONE edit (FuzzySuggester.java:104
        transpositions=true); classic Levenshtein counts two. Same
        convention as suggest_similar / fuzzy_terms — the oracle duels
        use the identical metric on both sides.

        Inputs shorter than min_fuzzy_length get no edits (the
        reference's guard against absurd 1-letter fuzziness) — the call
        degrades to plain suggest()."""
        p = prefix
        e = int(max_edits) if len(p) >= int(min_fuzzy_length) else 0
        t = self._terms
        npx = min(int(non_fuzzy_prefix), len(p))
        if npx > 0:
            t = t.filter(F.col("term").startswith(p[:npx]))
        if e <= 0:
            t = t.filter(F.col("term").startswith(p))
        else:
            t = t.filter(F.length("term") >= len(p) - e)
            ped = F.least(
                *[
                    F.levenshtein(F.substring("term", 1, L), F.lit(p))
                    for L in range(max(1, len(p) - e), len(p) + e + 1)
                ]
            )
            t = t.filter(ped <= e)
        return (
            t.orderBy(F.desc("df"), F.asc("term"))
            .limit(k)
            .select("term", F.col("df").cast(LongType()).alias("df"))
        )

    def search_diversified(
        self,
        query: str | list[str],
        k: int = 10,
        max_per_key: int = 1,
        key_col: str = "repo",
    ) -> DataFrame:
        """Diversified top-k — DiversifiedTopDocsCollector analog
        (reference lucene/misc/src/java/org/apache/lucene/misc/search/
        DiversifiedTopDocsCollector.java:47): the usual scored top-k but
        with at most ``max_per_key`` hits per key (the reference's
        NumericDocValues key; here any docmap column, e.g. repo — the
        "only one result per artist" use case its javadoc describes).

        Plan shape: per-key pruning is ONE window (row_number over
        key, score DESC, docID ASC) after the score aggregation — a
        single extra shuffle keyed by ``key_col``; the final top-k stays
        a TakeOrderedAndProject. Scores are float32 like search() (cast
        after the double sum), ranked in docID-tie-break order."""
        terms = self._parse(query)
        stats = self.term_stats(terms)
        present = [t for t in terms if t in stats]
        if not present:
            return self._empty_topk().withColumn(
                key_col, F.lit(None).cast(StringType())
            )
        from pyspark.sql import Window

        scored = self._scored_postings(present, stats)
        # sum in double, rank in float32 — the same cast order _topk uses,
        # so diversified ranks are tie-consistent with search()
        agg = scored.groupBy("docID").agg(
            F.sum(F.col("score").cast(DoubleType()))
            .cast(FloatType())
            .alias("score")
        )
        keyed = agg.join(self.docmap.select("docID", key_col), "docID")
        w = Window.partitionBy(key_col).orderBy(
            F.desc("score"), F.asc("docID")
        )
        return (
            keyed.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_per_key)
            .select("docID", "score", key_col)
            .orderBy(F.desc("score"), F.asc("docID"))
            .limit(k)
        )

    def rescore(
        self,
        first_pass: DataFrame,
        query: str | list[str],
        weight: float = 2.0,
        k: int = 10,
    ) -> DataFrame:
        """Two-pass rescoring — QueryRescorer.rescore analog (reference
        lucene/core/src/java/org/apache/lucene/search/QueryRescorer.java:42
        and its combine(): firstPassScore + weight * secondPassScore,
        second pass contributing 0 where it does not match). ``first_pass``
        is a (docID, score) frame (typically search(..., k=window)).

        Plan shape: the second query's postings are semi-joined to the
        BROADCAST first-pass window BEFORE aggregation — the rescore
        touches only window-many docs of the second query's postings, the
        exact "only rescore the top window" property the reference's
        TopDocs-driven loop has, so window size (not corpus size) bounds
        the second pass."""
        terms = self._parse(query)
        stats = self.term_stats(terms)
        present = [t for t in terms if t in stats]
        base = first_pass.select(
            "docID", F.col("score").cast(DoubleType()).alias("s1")
        )
        if present:
            scored = self._scored_postings(present, stats).join(
                F.broadcast(base.select("docID")), "docID"
            )
            sec = scored.groupBy("docID").agg(
                F.sum(F.col("score").cast(DoubleType())).alias("s2")
            )
            base = base.join(sec, "docID", "left")
        else:
            base = base.withColumn("s2", F.lit(None).cast(DoubleType()))
        comb = base.withColumn(
            "c",
            F.col("s1")
            + F.lit(float(weight)) * F.coalesce(F.col("s2"), F.lit(0.0)),
        )
        return (
            comb.select("docID", F.col("c").cast(FloatType()).alias("score"))
            .orderBy(F.desc("score"), F.asc("docID"))
            .limit(k)
        )

    def rescore_expression(
        self,
        first_pass: DataFrame,
        source: str,
        doc_features: DataFrame | None = None,
        k: int = 10,
    ) -> DataFrame:
        """Expression rescoring — the expressions module's
        ExpressionRescorer (reference lucene/expressions/src/java/org/
        apache/lucene/expressions/ExpressionRescorer.java via
        Expression.getRescorer): each top-window hit's score is REPLACED
        by the compiled expression's value, where the ``score`` variable
        binds to the first-pass score (SimpleBindings convention) and
        every other variable binds to a same-named column of
        ``doc_features`` (a per-doc values frame keyed by docID — the
        DoubleValuesSource bindings; missing docs bind 0.0, matching a
        sparse numeric docvalue's default).

        Plan shape: the expression compiles to ONE Catalyst column (no
        UDF — pure whole-stage codegen), and the window frame is
        broadcast into the features join, so window size (not corpus
        size) bounds the second pass, the same property rescore() has.
        """
        from lucene_spark.search.expressions import compile_expression

        expr = compile_expression(source)
        base = first_pass.select(
            "docID", F.col("score").cast(DoubleType()).alias("_s1")
        )
        feat_vars = [v for v in expr.variables if v != "score"]
        if feat_vars:
            if doc_features is None:
                raise ValueError(
                    f"expression needs doc_features columns {feat_vars}"
                )
            missing = set(feat_vars) - set(doc_features.columns)
            if missing:
                raise ValueError(
                    f"doc_features lacks columns {sorted(missing)}"
                )
            feats = doc_features.select(
                "docID",
                *[
                    F.col(v).cast(DoubleType()).alias(v)
                    for v in feat_vars
                ],
            )
            # bound the (possibly corpus-sized) features frame to the
            # window FIRST via a broadcast inner join, then left-join
            # the now-window-sized result back — broadcasting the
            # preserved side of a left join is impossible, so hinting
            # `base` would silently shuffle all of doc_features
            feats_w = feats.join(
                F.broadcast(base.select("docID")), "docID"
            )
            base = base.join(F.broadcast(feats_w), "docID", "left")
        bindings = {"score": F.col("_s1")}
        for v in feat_vars:
            bindings[v] = F.coalesce(F.col(v), F.lit(0.0))
        comb = base.withColumn("_c", expr.to_column(bindings))
        return (
            comb.select(
                "docID", F.col("_c").cast(FloatType()).alias("score")
            )
            .orderBy(F.desc("score"), F.asc("docID"))
            .limit(k)
        )

    def sort_by_expression(
        self,
        source: str,
        doc_features: DataFrame,
        matches: DataFrame | None = None,
        k: int = 10,
        ascending: bool = False,
    ) -> DataFrame:
        """Expression sort — Expression.getSortField / DoubleValuesSortField
        (reference lucene/expressions/src/java/org/apache/lucene/
        expressions/ExpressionValueSource.java via Expression.
        getDoubleValuesSource + core's DoubleValuesSource.getSortField):
        rank docs by a compiled expression over per-doc values instead
        of a relevance score. ``matches`` restricts to a (docID) match
        set (e.g. filter_docs / search_term_set output); None sorts all
        live docs. Variables bind to same-named ``doc_features`` columns
        (missing docs bind 0.0, the sparse-docvalue default); the
        ``score`` variable is not available here (sorts don't score —
        use rescore_expression to mix relevance in).

        Plan: one join + one Catalyst column + TakeOrderedAndProject —
        the expression inlines into codegen, and top-k never sorts the
        full corpus. Returns (docID, sortkey double) ordered by sortkey
        (DESC by default), docID ASC."""
        from lucene_spark.search.expressions import compile_expression

        expr = compile_expression(source)
        if "score" in expr.variables:
            raise ValueError(
                "sort expressions cannot bind 'score' (no relevance "
                "pass); use rescore_expression for score mixing"
            )
        missing = set(expr.variables) - set(doc_features.columns)
        if missing:
            raise ValueError(f"doc_features lacks columns {sorted(missing)}")
        feats = doc_features.select(
            "docID",
            *[F.col(v).cast(DoubleType()).alias(v) for v in expr.variables],
        )
        base = (
            matches.select("docID")
            if matches is not None
            else self._live_docmap().select("docID")
        )
        joined = base.join(feats, "docID", "left")
        bindings = {
            v: F.coalesce(F.col(v), F.lit(0.0)) for v in expr.variables
        }
        out = joined.withColumn("sortkey", expr.to_column(bindings))
        order = (
            F.asc("sortkey") if ascending else F.desc("sortkey"),
            F.asc("docID"),
        )
        return out.select("docID", "sortkey").orderBy(*order).limit(k)

    def mlt_terms(
        self,
        seed_text: str,
        max_query_terms: int = 25,
        min_term_freq: int = 2,
        min_doc_freq: int = 5,
        max_doc_freq: int | None = None,
    ) -> list[str]:
        """MoreLikeThis term selection (reference
        lucene/queries/src/java/org/apache/lucene/queries/mlt/
        MoreLikeThis.java:595-675, defaults :165-232): analyze the seed
        text (Lucene's no-term-vectors fallback re-analyzes the stored
        field the same way), keep terms with tf >= min_term_freq and
        min_doc_freq <= df (<= max_doc_freq), rank by

            tf * (ln((N + 1) / (df + 1)) + 1)    # ClassicSimilarity.idf,
                                                 # similarities/ClassicSimilarity.java:69
        and take the top max_query_terms. Ties rank score DESC, term ASC
        (deterministic; Lucene's PriorityQueue leaves equal-score order
        unspecified). Driver-side on one document — the only Spark job
        is the memoized term_stats lookup."""
        tf: dict[str, int] = {}
        for t in analyze(seed_text):
            tf[t] = tf.get(t, 0) + 1
        return self._mlt_select(
            tf, max_query_terms, min_term_freq, min_doc_freq, max_doc_freq
        )

    def _mlt_select(
        self,
        tf: dict[str, int],
        max_query_terms: int,
        min_term_freq: int,
        min_doc_freq: int,
        max_doc_freq: int | None,
    ) -> list[str]:
        """Shared MLT term selection from a term->tf map (text- and
        term-vector-sourced paths feed the same ranking)."""
        cand = [t for t, c in tf.items() if c >= min_term_freq]
        stats = self.term_stats(cand)
        n = self.doc_count
        scored = []
        for t in cand:
            s = stats.get(t)
            if s is None or s.df < min_doc_freq:
                continue
            if max_doc_freq is not None and s.df > max_doc_freq:
                continue
            idf_c = math.log((n + 1) / (s.df + 1)) + 1.0
            scored.append((tf[t] * idf_c, t))
        scored.sort(key=lambda st: (-st[0], st[1]))
        return [t for _, t in scored[:max_query_terms]]

    def term_vectors(self, doc_ids: list[int]) -> DataFrame:
        """Doc-major term-vectors read (reference codecs/lucene90/
        Lucene90TermVectorsFormat.java semantics: per-document
        term/freq/position access without a term-major postings scan).
        Requires an index built with ``store_term_vectors=True``; the
        docID point filter pushes into the termvectors parquet, whose
        docID-ascending layout prunes to the owning rowgroup(s). Deleted
        docs are dropped (driver-side for the broadcast tombstone mode,
        anti-join for the large-set mode). Columns (docID, term, tf,
        positions)."""
        if not self.manifest.get("store_term_vectors"):
            raise ValueError(
                "index was not built with store_term_vectors=True"
            )
        ids = [int(d) for d in doc_ids]
        if getattr(self, "_deleted", None) is not None and self._deleted.size:
            dele = set(int(x) for x in self._deleted[
                np.isin(self._deleted, np.asarray(ids, dtype=np.int64))
            ])
            ids = [d for d in ids if d not in dele]
        tv = self.spark.read.parquet(
            os.path.join(self.index_dir, "termvectors")
        )
        out = (
            tv.where(F.col("docID").isin(ids)) if ids
            else tv.where(F.lit(False))
        )
        return self._strip_deleted(out)

    def term_vector(self, doc_id: int) -> DataFrame:
        """Single-doc term vector — (term, tf, positions)."""
        return self.term_vectors([doc_id]).select("term", "tf", "positions")

    def mlt_terms_for_doc(
        self,
        doc_id: int,
        max_query_terms: int = 25,
        min_term_freq: int = 2,
        min_doc_freq: int = 5,
        max_doc_freq: int | None = None,
    ) -> list[str]:
        """MoreLikeThis.like(int docNum) — the term-vector path
        (reference queries/mlt/MoreLikeThis.java:582 retrieveTerms(int):
        when vectors are stored, term freqs come straight from them, no
        re-analysis of stored content). Driver materialization is one
        doc's vocabulary — bounded."""
        rows = self.term_vectors([doc_id]).select("term", "tf").collect()
        tf = {r.term: int(r.tf) for r in rows}
        return self._mlt_select(
            tf, max_query_terms, min_term_freq, min_doc_freq, max_doc_freq
        )

    def more_like_this_doc(
        self, doc_id: int, k: int = 10, **mlt_kwargs
    ) -> DataFrame:
        """MoreLikeThis over an INDEXED doc via its stored term vector —
        identical scoring to more_like_this (the seed doc itself is not
        excluded, as in Lucene)."""
        terms = self.mlt_terms_for_doc(doc_id, **mlt_kwargs)
        stats = self.term_stats(terms)
        present = [t for t in terms if t in stats]
        if not present:
            return self._empty_topk()
        scored = self._scored_postings(present, stats)
        return self._topk(scored, k, "or", n_terms=len(present))

    def more_like_this(
        self,
        seed_text: str,
        k: int = 10,
        max_query_terms: int = 25,
        min_term_freq: int = 2,
        min_doc_freq: int = 5,
        max_doc_freq: int | None = None,
    ) -> DataFrame:
        """MoreLikeThis (MoreLikeThis.like -> BooleanQuery of SHOULD
        TermQuerys, executed under the searcher's BM25 — boost=false
        default per MoreLikeThis.java:246): top-k docs most similar to
        the seed text. The seed document itself is NOT excluded (Lucene
        doesn't either; callers filter it). Terms are already analyzed,
        so scoring bypasses _parse re-analysis (a token like
        'dotted.pair' must not be re-split)."""
        terms = self.mlt_terms(
            seed_text, max_query_terms, min_term_freq, min_doc_freq,
            max_doc_freq,
        )
        stats = self.term_stats(terms)
        present = [t for t in terms if t in stats]
        if not present:
            return self._empty_topk()
        scored = self._scored_postings(present, stats)
        return self._topk(scored, k, "or", n_terms=len(present))

    def explain(
        self, query: str | list[str], k: int = 10, mode: str = "or"
    ) -> DataFrame:
        """IndexSearcher.explain analog (reference
        lucene/core/src/java/org/apache/lucene/search/IndexSearcher.java
        `explain(Query, int)` + BM25Similarity.explainScore,
        search/similarities/BM25Similarity.java:233-269): for each of
        the query's top-k documents, one row PER MATCHING TERM with the
        full BM25 score decomposition —

            idf     = ln(1 + (N - df + 0.5) / (df + 0.5))
            tf_norm = tf / (tf + k1 * (1 - b + b * dl / avgdl))
            contrib = idf * tf_norm
            score   = sum of the doc's contribs (repeated on each row,
                      Explanation.getValue() of the root node)

        Computed end-to-end in DOUBLE precision — the mathematical value
        the float32 production scorer approximates — so the output duels
        exactly against a SQL oracle (the same convention as every
        double-precision gate). Not a hot path: Lucene's explain also
        re-derives the score outside the bulk scorer.

        Returns (docID, term, tf, df, dl, idf, tf_norm, contrib, score).
        Scale shape: postings decode is bounded to the query terms, the
        doc-length join is a docID equijoin against docmap, and only the
        k winner docIDs (a broadcast) pull their rows back out.
        """
        terms = self._parse(query)
        stats = self.term_stats(terms)
        present = [t for t in dict.fromkeys(terms) if t in stats]
        empty = StructType(
            [
                StructField("docID", LongType()),
                StructField("term", StringType()),
                StructField("tf", LongType()),
                StructField("df", LongType()),
                StructField("dl", LongType()),
                StructField("idf", DoubleType()),
                StructField("tf_norm", DoubleType()),
                StructField("contrib", DoubleType()),
                StructField("score", DoubleType()),
            ]
        )
        if not present or (
            mode == "and" and len(present) < len(set(terms))
        ):
            return self.spark.createDataFrame([], empty)
        n = float(self.doc_count)
        avgdl = self.manifest["sum_total_term_freq"] / self.doc_count
        k1, b = self.scorer.k1, self.scorer.b
        df_map = F.create_map(
            *[F.lit(x) for t in present for x in (t, float(stats[t].df))]
        )
        per = (
            self.postings_tf(present)
            .join(self.docmap.select("docID", "dl"), "docID")
            .withColumn("df", df_map[F.col("term")])
            .withColumn(
                "idf",
                F.log(
                    F.lit(1.0)
                    + (F.lit(n) - F.col("df") + 0.5) / (F.col("df") + 0.5)
                ),
            )
            .withColumn(
                "tf_norm",
                F.col("tf")
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
                ),
            )
            .withColumn("contrib", F.col("idf") * F.col("tf_norm"))
        )
        agg = per.groupBy("docID").agg(
            F.sum("contrib").alias("score"), F.count("*").alias("nmatch")
        )
        if mode == "and":
            agg = agg.filter(F.col("nmatch") == len(present))
        top = (
            agg.orderBy(F.desc("score"), F.asc("docID"))
            .limit(k)
            .select("docID", "score")
        )
        return per.join(F.broadcast(top), "docID").select(
            "docID",
            "term",
            F.col("tf").cast(LongType()).alias("tf"),
            F.col("df").cast(LongType()).alias("df"),
            F.col("dl").cast(LongType()).alias("dl"),
            "idf",
            "tf_norm",
            "contrib",
            "score",
        )

    def highlight(
        self,
        query: str | list[str],
        docs_df: DataFrame | None = None,
        k: int = 10,
        window: int = 120,
        top_docs: DataFrame | None = None,
    ) -> DataFrame:
        """UnifiedHighlighter analog over POSTINGS offsets (reference
        lucene/highlighter/src/java/org/apache/lucene/search/uhighlight/
        UnifiedHighlighter.java, OffsetSource.POSTINGS — no re-analysis;
        requires an index built with store_offsets). For each of the
        query's top-k docs, picks the best fixed-width passage: the
        window [s, s + window) anchored at a match's start offset that
        contains the MOST query-term match starts (FieldHighlighter's
        passage scoring simplified to a deterministic density rule; ties
        break to the earliest anchor).

        Returns (docID, p_start, p_end, n_matches). When `docs_df` — the
        source-of-truth content table (repo, path, commit, content), the
        stored-fields analog — is given, p_end is additionally capped at
        the document's character length and a `snippet` substring column
        is included; without it p_end is p_start + window (may overhang
        a short document's end).

        top_docs overrides doc selection (any DataFrame with a docID
        column, e.g. a double-precision ranking for oracle duels);
        default is the float32 `search()` top-k.

        Scale shape: offsets decode only for the query terms, then a
        BROADCAST semi-join keeps the k candidate docs before any
        pairing work; the self-join that scores anchors touches only
        those k docs' matches; the snippet fetch broadcasts k (repo,
        path, commit) keys against the source table (a stored-fields
        seek, not a scan).
        """
        terms = self._parse(query)
        stats = self.term_stats(terms)
        present = [t for t in dict.fromkeys(terms) if t in stats]
        fields = [
            StructField("docID", LongType()),
            StructField("p_start", LongType()),
            StructField("p_end", LongType()),
            StructField("n_matches", LongType()),
        ]
        if docs_df is not None:
            fields.append(StructField("snippet", StringType()))
        if not present:
            return self.spark.createDataFrame([], StructType(fields))
        if top_docs is None:
            top_docs = self.search(present, k=k)
        hits = F.broadcast(top_docs.select("docID"))
        m = (
            self.postings_offsets(present)
            .join(hits, "docID")
            .select("docID", "start_offset")
        )
        anchors = m.select("docID", F.col("start_offset").alias("astart"))
        counts = (
            anchors.alias("a")
            .join(m.alias("b"), "docID")
            .where(
                (F.col("b.start_offset") >= F.col("a.astart"))
                & (F.col("b.start_offset") < F.col("a.astart") + window)
            )
            .groupBy("docID", "astart")
            .agg(F.count("*").alias("n_matches"))
        )
        from pyspark.sql import Window

        best = (
            counts.withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("docID").orderBy(
                        F.desc("n_matches"), F.asc("astart")
                    )
                ),
            )
            .where(F.col("rn") == 1)
            .select(
                "docID",
                F.col("astart").alias("p_start"),
                (F.col("astart") + window).alias("p_end"),
                "n_matches",
            )
        )
        if docs_df is None:
            return best
        keyed = self.docmap.select("docID", "repo", "path", "commit").join(
            F.broadcast(best), "docID"
        )
        return (
            F.broadcast(keyed)
            .join(docs_df, ["repo", "path", "commit"])
            .withColumn(
                "p_end", F.least(F.col("p_end"), F.length("content").cast(LongType()))
            )
            .withColumn(
                "snippet",
                F.expr("substring(content, p_start + 1, p_end - p_start)"),
            )
            .select("docID", "p_start", "p_end", "n_matches", "snippet")
        )

    # -- internals --------------------------------------------------------

    def _parse(self, query: str | list[str]) -> list[str]:
        """Query-side analyzer: StandardAnalyzer tokenize+lowercase, then
        the SAME token-filter chain the index was built with (manifest
        ``token_filters`` — e.g. Porter stemming; EnglishAnalyzer.java:43
        pairs the chains index- and query-side so "running" finds "run")."""
        parts = [query] if isinstance(query, str) else list(query)
        fns: list = []
        sh_n = None
        if self._token_filters:
            from lucene_spark.analysis.porter import (
                resolve_filter,
                split_chain,
            )

            vocab_chain, sh_n = split_chain(self._token_filters)
            fns = [resolve_filter(n) for n in vocab_chain]
        out: list[str] = []
        # each list element is its own analyzed stream (QueryBuilder
        # analyzes field query texts independently) — crucial for a
        # shingle chain, where concatenating streams would fabricate
        # grams across element boundaries
        for q in parts:
            toks = analyze(q)
            for fn in fns:
                toks = [fn(t) if t is not None else None for t in toks]
            # a dropping filter (StopFilter) removes the token from the
            # query too — QueryBuilder.createFieldQuery drops stopword
            # clauses the same way
            toks = [t for t in toks if t]
            if sh_n is not None:
                # shingle index: the query stream shingles the same way;
                # a query shorter than n tokens yields no grams and can
                # match nothing on a grams-only field
                from lucene_spark.analysis.porter import shingle_tokens

                toks = shingle_tokens(toks, sh_n)
            out.extend(toks)
        return out

    def _empty_topk(self) -> DataFrame:
        return self.spark.createDataFrame(
            [], StructType(
                [StructField("docID", LongType()), StructField("score", FloatType())]
            )
        )

    def _topk(
        self, scored: DataFrame, k: int, mode: str, n_terms: int
    ) -> DataFrame:
        agg = scored.groupBy("docID").agg(
            F.sum(F.col("score").cast(DoubleType())).alias("dsum"),
            F.count("*").alias("nmatch"),
        )
        if mode == "and":
            agg = agg.filter(F.col("nmatch") == n_terms)
        return (
            agg.select(
                "docID", F.col("dsum").cast(FloatType()).alias("score")
            )
            .orderBy(F.desc("score"), F.asc("docID"))
            .limit(k)
        )

    # -- block-max pruned top-k (WAND analog) -----------------------------

    def _block_ub_col(self, weights: dict[str, float]):
        """Native-Catalyst per-block score upper bound: score the block's
        (max_tf, min_norm) impact pair — max_tf/min_norm may come from
        different docs, so this dominates Lucene's competitive-pair bound
        and is therefore score-safe."""
        cache_arr = F.array(*[F.lit(float(v)) for v in self.scorer.cache])
        w_map = F.create_map(
            *[F.lit(x) for kv in weights.items() for x in (kv[0], float(kv[1]))]
        )
        w = w_map[F.col("term")]
        inv = F.element_at(cache_arr, F.col("min_norm") + 1)
        return w - w / (F.lit(1.0) + F.col("max_tf").cast("double") * inv)

    def _search_pruned(
        self, terms: list[str], stats: dict[str, TermStats], k: int, mode: str
    ) -> DataFrame:
        """Two-phase score-safe block pruning.

        Phase 1 (threshold bootstrap): exactly score the blocks with the
        highest upper bounds (enough to cover >= k docs per term) and take
        the k-th best doc score as theta (a LOWER bound of the true k-th
        score, since phase-1 docs may gain score from unscored blocks
        only).
        Phase 2: keep only blocks where ub(block) + sum over other terms
        of that term's global max ub >= theta — any doc in a dropped
        block scores < theta <= kth true score, so top-k is unchanged
        (WANDScorer.java:90-124 head/tail invariant, block-granular).
        """
        weights = self._weights(stats)
        n_terms = len(set(terms))
        # per-term global upper bound for the cross-term slack, computed
        # DRIVER-SIDE from the terms table's (max_tf, min_norm) — no
        # Spark job. It dominates every block ub (same score expression
        # over term-global maxima), so the prune stays score-safe.
        cache = self.scorer.cache
        per_term = {}
        for t in set(terms):
            st = stats[t]
            w = np.float32(weights[t])
            inv = cache[st.min_norm]
            per_term[t] = float(
                w - w / (np.float32(1.0) + np.float32(st.max_tf) * inv)
            )
        total_ub = {
            t: sum(v for t2, v in per_term.items() if t2 != t)
            for t in per_term
        }
        slack = F.create_map(
            *[F.lit(x) for kv in total_ub.items() for x in (kv[0], float(kv[1]))]
        )
        blocks = self._postings.filter(F.col("term").isin(list(weights)))

        # FAST PATH — zero-bootstrap theta from the terms table. lb_key10
        # proves >= 10 distinct docs score >= theta for that term alone,
        # so for OR-mode (or single-term) top-k with k <= 10 it is a valid
        # minCompetitiveScore before anything is scored: the whole pruned
        # search is ONE job, same shape as the unpruned plan but decoding
        # only surviving blocks. Invalid under deletes (slots may count
        # tombstoned docs) and under AND mode (slot docs may not match the
        # other required terms) — those fall through to the bootstrap path.
        if (
            k <= 10
            and (mode == "or" or n_terms == 1)
            and not self._n_deleted
        ):
            theta = float("-inf")
            for t in set(terms):
                lbk = stats[t].lb_key10
                if lbk is not None:
                    w = np.float32(weights[t])
                    theta = max(
                        theta,
                        float(w - w / (np.float32(1.0) + np.float32(lbk))),
                    )
            thr = theta - 1e-5 * (abs(theta) + 1.0)  # -inf stays -inf
            if thr > float("-inf"):
                surviving = blocks.withColumn(
                    "ub", self._block_ub_col(weights)
                ).filter((F.col("ub") + slack[F.col("term")]) >= F.lit(thr))
                scored = surviving.select(
                    "term", "docs_vb", "tfs_vb", "norms_b"
                ).mapInPandas(self._decode_score_udf(weights), schema=SCORE_SCHEMA)
                return self._topk(scored, k, mode, n_terms)

        # phase 1 candidates: top blocks per term by ub, covering >= k docs.
        # The window runs over the NARROW metadata columns only (parquet
        # prunes the vbyte blobs from this scan) so the shuffle is a few
        # dozen bytes per block row, never the postings payload.
        from pyspark.sql import Window

        # On tiered incremental indexes block_seq restarts per postings
        # generation, so (term, salt, block_seq) is NOT unique — the gen
        # partition column must be part of the candidate key or the
        # bootstrap join fans out (duplicate block rows double-count doc
        # scores and inflate theta above the true k-th score, making
        # phase 2 prune true top-k blocks).
        key_cols = ["term", "salt", "block_seq"]
        if "gen" in self._postings.columns:
            key_cols = ["gen"] + key_cols
        meta = self._postings.filter(F.col("term").isin(list(weights))).select(
            *key_cols, "ndocs", "max_tf", "min_norm"
        ).withColumn("ub", self._block_ub_col(weights))
        win = Window.partitionBy("term").orderBy(
            F.desc("ub"), *[F.asc(c) for c in key_cols if c != "term"]
        )
        cand_keys = (
            meta.withColumn(
                "cum",
                F.sum("ndocs").over(win.rowsBetween(Window.unboundedPreceding, -1)),
            )
            .filter((F.col("cum").isNull()) | (F.col("cum") < k))
            .select(*key_cols)
        )

        # theta bootstrap: exact doc scores of the candidate blocks; the
        # k-th best partial score is a LOWER bound of the true k-th score
        # (docs can only gain from unscored blocks). Computed as a
        # broadcast single-row DataFrame instead of a driver collect, so
        # the whole pruned search is ONE action: Spark evaluates the two
        # broadcast subtrees (cand_keys, theta) then the main scan.
        cand = blocks.join(F.broadcast(cand_keys), key_cols)
        scored1 = self._strip_deleted(
            cand.select("term", "docs_vb", "tfs_vb", "norms_b").mapInPandas(
                self._decode_score_udf(weights), schema=SCORE_SCHEMA
            )
        )
        theta_df = (
            self._topk(scored1, k, mode, n_terms)
            .agg(F.min("score").alias("m"), F.count("*").alias("c"))
            .select(
                F.when(F.col("c") == k, F.col("m").cast("double"))
                .otherwise(F.lit(float("-inf")))
                .alias("theta")
            )
        )

        # phase 2: score-safe filter. The doc score is float32(double-sum
        # of float32 per-term scores) while ub is a double-precision
        # bound, so pad theta by a few float32 ulps (MathUtil.sumUpperBound
        # analog) to keep the prune provably score-safe under rounding.
        # theta - pad is -inf when theta is -inf (no prune), since
        # -inf - inf = -inf in IEEE double.
        thr = F.col("theta") - F.lit(1e-5) * (F.abs(F.col("theta")) + F.lit(1.0))
        surviving = (
            blocks.withColumn("ub", self._block_ub_col(weights))
            .crossJoin(F.broadcast(theta_df))
            .filter((F.col("ub") + slack[F.col("term")]) >= thr)
        )
        scored = self._strip_deleted(
            surviving.select("term", "docs_vb", "tfs_vb", "norms_b").mapInPandas(
                self._decode_score_udf(weights), schema=SCORE_SCHEMA
            )
        )
        return self._topk(scored, k, mode, n_terms)

    # -- phrase queries ---------------------------------------------------

    def search_phrase(self, phrase: str, k: int = 10) -> DataFrame:
        """Exact PhraseQuery top-k: conjunction on docID + relative-position
        intersection; freq = #occurrences; weight = sum of per-term idf
        (search/PhraseQuery.java, ExactPhraseMatcher.java:37-167)."""
        terms = self._parse(phrase)
        scored = self.phrase_scores(terms)
        if scored is None:
            return self._empty_topk()
        return scored.orderBy(F.desc("score"), F.asc("docID")).limit(k)


    # accumulated-candidate broadcast cutoff for phrase joins: below this
    # df the rare side (<= df rows of (docID, norm, positions)) is hinted
    # broadcast so every later join is map-side — the common term's full
    # posting decode never shuffles
    PHRASE_BROADCAST_DF = 65536

    def _phrase_join(
        self,
        uniq_terms: list[str],
        stats: dict[str, TermStats] | None = None,
    ) -> DataFrame:
        """n-way inner join on docID of per-term (docID, norm, positions)
        rows — candidate docs contain every phrase term (ConjunctionDISI
        analog); one row per doc with pos0..posN array columns.

        With ``stats``, joins run rarest-term-first (ConjunctionDISI
        orders iterators by cost — ExactPhraseMatcher leads with the
        rarest term) and, when the rarest df is small, the accumulated
        candidate side is broadcast so a stop-word-ish phrase term's full
        postings never cross a shuffle. Column names stay bound to the
        original term order (pos{i}), so matcher offset maps are
        unaffected by the join order."""
        order = list(range(len(uniq_terms)))
        bcast = False
        if stats is not None and all(t in stats for t in uniq_terms):
            order.sort(key=lambda i: stats[uniq_terms[i]].df)
            bcast = stats[uniq_terms[order[0]]].df <= self.PHRASE_BROADCAST_DF
        joined = None
        for i in order:
            side = self._positions_side(uniq_terms[i]).select(
                "docID",
                # any side can provide norm (same doc => same norm byte);
                # take it from the first-joined (rarest) side
                *(["norm"] if joined is None else []),
                F.col("positions").alias(f"pos{i}"),
            )
            if joined is None:
                joined = side
            elif bcast:
                # inner joins only shrink the accumulated candidates, so
                # the broadcast stays <= the rarest term's df rows
                joined = side.join(F.broadcast(joined), "docID")
            else:
                joined = joined.join(side, "docID")
        return self._strip_deleted(joined)

    def _clause_positions_side(self, clause: tuple[str, ...]) -> DataFrame:
        """(docID, norm, positions) rows for a SPAN CLAUSE — a single
        term, or the union of several (SpanMultiTermQueryWrapper's
        SpanOr rewrite, reference lucene/core/src/java/org/apache/
        lucene/search/spans/SpanMultiTermQueryWrapper.java:47: the
        multi-term query's expansions become one disjunction whose
        spans are the merged per-term occurrences). Positions of the
        member terms are disjoint by construction (one token per
        position), so the merge is flatten + sort with no dedup.

        Plan shape: ONE postings scan of all member terms through the
        map-only positions kernel, at any expansion width (a union of
        per-term scans grows the plan with the expansion); the merge is
        ONE partial-aggregated groupBy over only the clause terms'
        postings rows — cost bounded by the clause's summed df, never
        the corpus."""
        if len(clause) == 1:
            return self._positions_side(clause[0])
        return self._positions_side(*clause).groupBy("docID").agg(
            F.first("norm").alias("norm"),
            F.array_sort(F.flatten(F.collect_list("positions"))).alias(
                "positions"
            ),
        )

    def _span_clause_join(
        self,
        clauses: list[tuple[str, ...]],
        stats: dict[str, TermStats],
    ) -> DataFrame:
        """_phrase_join generalized to multi-term clauses: n-way inner
        join on docID of per-clause (docID, norm, positions) sides,
        producing pos{i} array columns bound to the ORIGINAL clause
        order. Join order is cheapest-clause-first with the accumulated
        candidate side broadcast when the rarest clause's summed df is
        small — the same ConjunctionDISI cost ordering `_phrase_join`
        uses, with a clause's cost = the union bound sum(df) of its
        members."""
        cost = [sum(stats[t].df for t in c) for c in clauses]
        order = sorted(range(len(clauses)), key=lambda i: cost[i])
        bcast = cost[order[0]] <= self.PHRASE_BROADCAST_DF
        joined = None
        for i in order:
            side = self._clause_positions_side(clauses[i]).select(
                "docID",
                *(["norm"] if joined is None else []),
                F.col("positions").alias(f"pos{i}"),
            )
            if joined is None:
                joined = side
            elif bcast:
                joined = side.join(F.broadcast(joined), "docID")
            else:
                joined = joined.join(side, "docID")
        return self._strip_deleted(joined)

    def _positions_side(self, *terms: str) -> DataFrame:
        """The terms' postings decoded to (docID, norm, positions) rows,
        one row per (term, doc), with the tombstone set applied INSIDE
        the decode kernel (the decode-kernel liveness contract — every
        new kernel captures self._deleted_bc and filters before
        emitting)."""
        pos_row_schema = StructType(
            [
                StructField("docID", LongType()),
                StructField("norm", IntegerType()),
                StructField("positions", ArrayType(LongType())),
            ]
        )

        dele_bc = self._deleted_bc

        def decode_positions(batches):
            dele = dele_bc.value
            for pdf in batches:
                frames = []
                for docs_vb, tfs_vb, norms_b, pos_vb in zip(
                    pdf["docs_vb"], pdf["tfs_vb"], pdf["norms_b"], pdf["pos_vb"]
                ):
                    doc_ids = delta_decode(decode(bytes(docs_vb)))
                    tfs = decode(bytes(tfs_vb))
                    norms = np.frombuffer(bytes(norms_b), dtype=np.uint8)
                    flat = segmented_delta_decode(decode(bytes(pos_vb)), tfs)
                    if dele.size:
                        keep = ~np.isin(doc_ids, dele)
                        if not keep.all():
                            ends = np.cumsum(tfs)
                            parts = [flat[(ends[i] - tfs[i]):ends[i]] for i in np.flatnonzero(keep)]
                            flat = np.concatenate(parts) if parts else np.empty(0, np.int64)
                            doc_ids, tfs, norms = doc_ids[keep], tfs[keep], norms[keep]
                    frames.append(
                        pd.DataFrame(
                            {
                                "docID": doc_ids,
                                "norm": norms.astype(np.int32),
                                "positions": np.split(flat, np.cumsum(tfs)[:-1]),
                            }
                        )
                    )
                yield pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
                    {"docID": pd.array([], dtype="int64"), "norm": pd.array([], dtype="int32"), "positions": []}
                )

        return (
            self._postings.filter(F.col("term").isin(list(terms)))
            .select("docs_vb", "tfs_vb", "norms_b", "pos_vb")
            .mapInPandas(decode_positions, schema=pos_row_schema)
        )

    def phrase_scores(self, terms: list[str]) -> DataFrame | None:
        """Full (docID, score float32) set for an exact phrase, or None if
        the phrase can match nothing (used by the query parser to compose
        phrases into boolean trees)."""
        if not terms:
            return None
        if len(terms) == 1:
            stats = self.term_stats(terms)
            if terms[0] not in stats:
                return None
            return self._scored_postings(terms, stats).select("docID", "score")
        stats = self.term_stats(terms)
        if any(t not in stats for t in terms):
            return None
        if not self.manifest.get("store_positions", True):
            raise ValueError("index built without positions; phrase queries unavailable")

        w = np.float32(0.0)
        for t in terms:
            w = np.float32(w + idf(stats[t].df, self.doc_count))
        weight = float(w)
        cache = self.scorer.cache
        term_order = {t: i for i, t in enumerate(dict.fromkeys(terms))}
        uniq_terms = list(term_order)

        joined = self._phrase_join(uniq_terms, stats)

        # phrase offsets per unique term (a term may repeat in the phrase)
        offsets_by_tidx: dict[int, list[int]] = {}
        for i, t in enumerate(terms):
            offsets_by_tidx.setdefault(term_order[t], []).append(i)
        base_t = term_order[terms[0]]

        out_schema = StructType(
            [StructField("docID", LongType()), StructField("score", FloatType())]
        )

        def match_batch(batches):
            # Vectorized across the whole Arrow batch: encode (doc,
            # position) pairs as batch_doc_index*SHIFT + pos keys and test
            # phrase alignment with np.isin per (term, offset) — no
            # per-doc loop. (ExactPhraseMatcher.java:37-167 semantics;
            # SHIFT is derived per batch so huge documents can't bleed
            # into the next doc's key space.)
            n_phrase = len(terms)
            for pdf in batches:
                if len(pdf) == 0:
                    yield pd.DataFrame({"docID": pd.array([], dtype="int64"), "score": pd.array([], dtype="float32")})
                    continue
                docids = pdf["docID"].to_numpy(np.int64)
                flats, lens_l = [], []
                maxpos = 0
                for i in range(len(uniq_terms)):
                    arrs = [np.asarray(a, dtype=np.int64) for a in pdf[f"pos{i}"]]
                    lens = np.array([a.size for a in arrs], dtype=np.int64)
                    flat = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
                    if flat.size:
                        maxpos = max(maxpos, int(flat.max()))
                    flats.append(flat)
                    lens_l.append(lens)
                SHIFT = _pos_shift(maxpos, n_phrase)
                doc_key = np.arange(len(pdf), dtype=np.int64) * SHIFT
                cols = {
                    i: (np.repeat(doc_key, lens_l[i]) + flats[i], lens_l[i])
                    for i in range(len(uniq_terms))
                }
                base_keys, base_lens = cols[base_t]
                ok = np.ones(base_keys.shape, dtype=bool)
                for tidx, offs in offsets_by_tidx.items():
                    keys_t = cols[tidx][0]
                    for off in offs:
                        if tidx == base_t and off == 0:
                            continue
                        ok &= np.isin(base_keys + off, keys_t)
                starts = np.concatenate(([0], np.cumsum(base_lens)[:-1]))
                freq = np.add.reduceat(ok, starts) if base_keys.size else np.zeros(0, np.int64)
                freq = np.where(base_lens > 0, freq, 0)
                hit = freq > 0
                wv = np.float32(weight)
                inv = cache[pdf["norm"].to_numpy(np.int64)[hit]]
                f32 = freq[hit].astype(np.float32)
                scores = (wv - wv / (np.float32(1.0) + f32 * inv)).astype(np.float32)
                yield pd.DataFrame({"docID": docids[hit], "score": scores})

        return joined.mapInPandas(match_batch, schema=out_schema)

    # -- span queries (queries/spans) ---------------------------------------

    def span_scores(
        self,
        terms: list[str],
        first_end: int | None = None,
        exclude: str | None = None,
        pre: int = 0,
        post: int = 0,
        first_start: int | None = None,
    ) -> DataFrame | None:
        """(docID, score float32) for a span query whose include side is a
        single term or an exact-adjacency phrase (SpanTermQuery /
        slop-0 SpanNearQuery), optionally constrained by

        - SpanFirstQuery (queries/spans/SpanFirstQuery.java:35): keep only
          spans with end() <= ``first_end`` — a span starting at s with
          length L has end s+L; with ``first_start`` too this is the
          general SpanPositionRangeQuery
          (queries/spans/SpanPositionRangeQuery.java:30: start() >= start
          AND end() <= end — SpanFirst extends it with start=0);
        - SpanNotQuery (queries/spans/SpanNotQuery.java:67, the pre/post
          form): drop spans with an ``exclude``-term occurrence within
          ``pre`` tokens before or ``post`` tokens after, i.e. any
          occurrence q in [s-pre, s+L+post-1] (the matcher at
          SpanNotQuery.java:198-214 re-expressed; negative pre/post allow
          overlap, exactly as documented there).

        freq = number of surviving spans (each exact span's slop factor is
        1, SpanScorer.setFreqCurrentDoc over slop-0 matches); weight = sum
        of include-term idfs — the exclude side never contributes to
        scoring (SpanNotWeight.extractTermStates forwards only the
        include weight). Returns None when the include span can match
        nothing.

        Plan shape: the include side is the rarest-first broadcast phrase
        join; the exclude side joins LEFT (docs without the exclude term
        must survive) on docID, then one Arrow kernel does the
        align/filter with two vectorized searchsorted passes — no per-doc
        loop, no extra shuffle beyond the joins."""
        if not terms:
            return None
        stats = self.term_stats(terms + ([exclude] if exclude else []))
        if any(t not in stats for t in terms):
            return None
        if not self.manifest.get("store_positions", True):
            raise ValueError("index built without positions; span queries unavailable")
        w = np.float32(0.0)
        for t in terms:
            w = np.float32(w + idf(stats[t].df, self.doc_count))
        weight = float(w)
        cache = self.scorer.cache
        term_order = {t: i for i, t in enumerate(dict.fromkeys(terms))}
        uniq_terms = list(term_order)

        joined = self._phrase_join(uniq_terms, stats)
        has_exclude = exclude is not None and exclude in stats
        if has_exclude:
            xside = self._positions_side(exclude).select(
                "docID", F.col("positions").alias("xpos")
            )
            joined = joined.join(xside, "docID", "left")

        offsets_by_tidx: dict[int, list[int]] = {}
        for i, t in enumerate(terms):
            offsets_by_tidx.setdefault(term_order[t], []).append(i)
        base_t = term_order[terms[0]]
        L = len(terms)
        n_pre, n_post = int(pre), int(post)
        end_lim = None if first_end is None else int(first_end)
        start_lim = None if first_start is None else int(first_start)

        out_schema = StructType(
            [StructField("docID", LongType()), StructField("score", FloatType())]
        )

        def match_batch(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    yield pd.DataFrame({"docID": pd.array([], dtype="int64"), "score": pd.array([], dtype="float32")})
                    continue
                docids = pdf["docID"].to_numpy(np.int64)
                flats, lens_l = [], []
                maxpos = 0
                for i in range(len(uniq_terms)):
                    arrs = [np.asarray(a, dtype=np.int64) for a in pdf[f"pos{i}"]]
                    lens = np.array([a.size for a in arrs], dtype=np.int64)
                    flat = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
                    if flat.size:
                        maxpos = max(maxpos, int(flat.max()))
                    flats.append(flat)
                    lens_l.append(lens)
                if has_exclude:
                    xarrs = [
                        np.asarray(a, dtype=np.int64)
                        if a is not None
                        else np.empty(0, np.int64)
                        for a in pdf["xpos"]
                    ]
                    xlens = np.array([a.size for a in xarrs], dtype=np.int64)
                    xflat = np.concatenate(xarrs) if xarrs else np.empty(0, np.int64)
                    if xflat.size:
                        maxpos = max(maxpos, int(xflat.max()))
                SHIFT = _pos_shift(maxpos, L + max(n_post, 0) + 1)
                doc_key = np.arange(len(pdf), dtype=np.int64) * SHIFT
                cols = {
                    i: (np.repeat(doc_key, lens_l[i]) + flats[i], lens_l[i])
                    for i in range(len(uniq_terms))
                }
                base_keys, base_lens = cols[base_t]
                ok = np.ones(base_keys.shape, dtype=bool)
                for tidx, offs in offsets_by_tidx.items():
                    keys_t = cols[tidx][0]
                    for off in offs:
                        if tidx == base_t and off == 0:
                            continue
                        ok &= np.isin(base_keys + off, keys_t)
                if end_lim is not None:
                    ok &= flats[base_t] + L <= end_lim
                if start_lim is not None:
                    ok &= flats[base_t] >= start_lim
                if has_exclude:
                    xkeys = np.repeat(doc_key, xlens) + xflat  # sorted: row-
                    # ascending doc keys + per-doc ascending positions
                    base_doc_key = np.repeat(doc_key, base_lens)
                    lo = np.maximum(base_keys - n_pre, base_doc_key)
                    hi = base_keys + (L + n_post)
                    n_in_window = np.searchsorted(xkeys, hi, side="left") - np.searchsorted(xkeys, lo, side="left")
                    ok &= n_in_window == 0
                starts = np.concatenate(([0], np.cumsum(base_lens)[:-1]))
                freq = np.add.reduceat(ok, starts) if base_keys.size else np.zeros(0, np.int64)
                freq = np.where(base_lens > 0, freq, 0)
                hit = freq > 0
                wv = np.float32(weight)
                inv = cache[pdf["norm"].to_numpy(np.int64)[hit]]
                f32 = freq[hit].astype(np.float32)
                scores = (wv - wv / (np.float32(1.0) + f32 * inv)).astype(np.float32)
                yield pd.DataFrame({"docID": docids[hit], "score": scores})

        return joined.mapInPandas(match_batch, schema=out_schema)

    def search_span_first(
        self, query: str | list[str], end: int, k: int = 10
    ) -> DataFrame:
        """SpanFirstQuery top-k (queries/spans/SpanFirstQuery.java:35):
        spans of the include term/phrase ending at position <= ``end``.
        Returns (docID, score) by score DESC, docID ASC."""
        scored = self.span_scores(self._parse(query), first_end=end)
        if scored is None:
            return self._empty_topk()
        return scored.orderBy(F.desc("score"), F.asc("docID")).limit(k)

    def search_span_not(
        self,
        include: str | list[str],
        exclude: str,
        pre: int = 0,
        post: int = 0,
        k: int = 10,
    ) -> DataFrame:
        """SpanNotQuery top-k (queries/spans/SpanNotQuery.java:67): spans
        of the include term/phrase with no ``exclude`` occurrence within
        ``pre`` tokens before / ``post`` tokens after. Returns
        (docID, score) by score DESC, docID ASC."""
        parsed_x = self._parse(exclude)
        if len(parsed_x) != 1:
            raise ValueError("exclude must be a single term")
        scored = self.span_scores(
            self._parse(include), exclude=parsed_x[0], pre=pre, post=post
        )
        if scored is None:
            return self._empty_topk()
        return scored.orderBy(F.desc("score"), F.asc("docID")).limit(k)

    def search_span_position_range(
        self, query: str | list[str], start: int, end: int, k: int = 10
    ) -> DataFrame:
        """SpanPositionRangeQuery top-k
        (queries/spans/SpanPositionRangeQuery.java:30): spans of the
        include term/phrase with start() >= ``start`` AND end() <=
        ``end`` (SpanFirstQuery is the start=0 special case). Returns
        (docID, score) by score DESC, docID ASC."""
        scored = self.span_scores(
            self._parse(query), first_end=end, first_start=start
        )
        if scored is None:
            return self._empty_topk()
        return scored.orderBy(F.desc("score"), F.asc("docID")).limit(k)

    def _span_clauses_setup(
        self, terms: list, contain: str | None = None
    ) -> tuple | None:
        """Shared clause normalization for the span-near kernels. Each
        element of ``terms`` is a clause: a str (one term) or a
        list/tuple of alternative terms — the SpanMultiTermQueryWrapper
        rewrite (spans/SpanMultiTermQueryWrapper.java:47: the multi-term
        expansion becomes a SpanOrQuery whose spans are the merged
        per-term occurrences, each width 0). Absent members of a
        multi-term clause drop out (a sub-span with zero docFreq emits
        nothing); a clause with NO present member — or an absent single
        term / contain term — can never match, so the query returns
        None (SpanOrQuery with no clauses rewrites to MatchNoDocs).

        Weight = summed idf over the DISTINCT present terms of every
        clause plus the contain term (SpanWeight.buildSimWeight over the
        deduplicated termStates map — the wrapper's expansions all land
        in the same map).

        Returns (joined, order_idx, c_idx, weight) where ``joined`` has
        one pos{i} column per distinct clause."""
        clauses = [(c,) if isinstance(c, str) else tuple(c) for c in terms]
        flat = [t for c in clauses for t in c] + (
            [contain] if contain else []
        )
        stats = self.term_stats(flat)
        kept: list[tuple[str, ...]] = []
        for c in clauses:
            pres = tuple(t for t in c if t in stats)
            if not pres:
                return None
            kept.append(pres)
        if contain is not None and contain not in stats:
            return None
        if not self.manifest.get("store_positions", True):
            raise ValueError(
                "index built without positions; span queries unavailable"
            )
        w = np.float32(0.0)
        seen = dict.fromkeys(
            [t for c in kept for t in c] + ([contain] if contain else [])
        )
        for t in seen:
            w = np.float32(w + idf(stats[t].df, self.doc_count))
        all_clauses = kept + ([(contain,)] if contain else [])
        uniq = list(dict.fromkeys(all_clauses))
        joined = self._span_clause_join(uniq, stats)
        cmap = {c: i for i, c in enumerate(uniq)}
        order_idx = [cmap[c] for c in kept]
        c_idx = cmap[(contain,)] if contain else None
        return joined, order_idx, c_idx, float(w)

    def span_near_scores(
        self,
        terms: list[str],
        slop: int,
        contain: str | None = None,
        contain_mode: str = "containing",
    ) -> DataFrame | None:
        """(docID, score float32) for an ordered SpanNearQuery over term
        clauses — each a str or a tuple of alternatives (the
        SpanMultiTermQueryWrapper SpanOr rewrite; see
        _span_clauses_setup) (queries/spans/SpanNearQuery.java via
        NearSpansOrdered):
        for EVERY occurrence p1 of the first term, stretch each following
        clause to its first position strictly after the previous one
        (NearSpansOrdered.stretchToOrder — start_{i+1} >= end_i); the
        span matches when matchWidth = sum of inter-clause gaps
        = (p_n - p_1) - (n-1) <= slop, and contributes
        1/(1+matchWidth) to the doc's float freq
        (SpanScorer.setFreqCurrentDoc:112 — every chained first-term
        occurrence is enumerated, NOT just minimal intervals; contrast
        search_intervals). Accumulation is float64 then cast, the same
        documented convention as sloppy_scores.

        weight = sum of idf over DISTINCT terms — SpanWeight.buildSimWeight
        iterates the deduplicated Map<Term,TermStates>, unlike PhraseQuery
        which weights per position (span_scores' per-entry sum only
        differs on repeated terms; both conventions are documented).

        contain adds a SpanContainingQuery / SpanWithinQuery constraint
        (spans/SpanContainingQuery.java:30, SpanWithinQuery.java:30, both
        via ContainSpans): with contain_mode='containing' the surviving
        big spans must contain an occurrence q of ``contain``
        (p_1 <= q <= p_n) and freq still counts big spans at their slop
        factor; with 'within' the roles flip — freq counts ``contain``
        occurrences covered by >= 1 valid big span, each at slop factor
        1 (a term span's width is 0, TermSpans.java:106). Either mode
        adds the contain term's idf to the weight (SpanContainWeight
        .extractTermStates forwards BOTH sides).

        Plan shape: the rarest-first broadcast phrase join supplies
        candidates; one Arrow kernel does the chain with one batched
        searchsorted per clause — no per-doc loop, no extra shuffle."""
        if len(terms) < 2:
            raise ValueError("span_near needs at least two clauses")
        if contain_mode not in ("containing", "within"):
            raise ValueError("contain_mode must be 'containing' or 'within'")
        setup = self._span_clauses_setup(terms, contain)
        if setup is None:
            return None
        joined, order_idx, c_idx, weight = setup
        cache = self.scorer.cache
        n_terms = len(terms)
        slop_i = int(slop)
        mode_within = contain is not None and contain_mode == "within"
        mode_contain = contain is not None and contain_mode == "containing"

        out_schema = StructType(
            [StructField("docID", LongType()), StructField("score", FloatType())]
        )

        def match_batch(batches):
            for pdf in batches:
                n_docs = len(pdf)
                if n_docs == 0:
                    yield pd.DataFrame(
                        {"docID": pd.array([], dtype="int64"),
                         "score": pd.array([], dtype="float32")}
                    )
                    continue
                docids = pdf["docID"].to_numpy(np.int64)
                flats, starts_l, lens_l = [], [], []
                maxpos = 0
                for li in range(n_terms):
                    arrs = [
                        np.asarray(a, dtype=np.int64)
                        for a in pdf[f"pos{order_idx[li]}"]
                    ]
                    lens = np.fromiter(
                        (a.size for a in arrs), dtype=np.int64, count=n_docs
                    )
                    flat = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
                    if flat.size:
                        maxpos = max(maxpos, int(flat.max()))
                    flats.append(flat)
                    starts_l.append(np.concatenate(([0], np.cumsum(lens)[:-1])))
                    lens_l.append(lens)
                if contain is not None:
                    carrs = [
                        np.asarray(a, dtype=np.int64) for a in pdf[f"pos{c_idx}"]
                    ]
                    clens = np.fromiter(
                        (a.size for a in carrs), dtype=np.int64, count=n_docs
                    )
                    cflat = np.concatenate(carrs) if carrs else np.empty(0, np.int64)
                    if cflat.size:
                        maxpos = max(maxpos, int(cflat.max()))
                SHIFT = _pos_shift(maxpos, 1, floor_bits=22)
                doc_key = np.arange(n_docs, dtype=np.int64) * SHIFT
                keys = [
                    np.repeat(doc_key, lens_l[li]) + flats[li]
                    for li in range(n_terms)
                ]
                big = np.int64(1) << np.int64(60)
                # NearSpansOrdered chain: first strictly-after per clause
                cur = keys[0].copy()
                alive = np.ones(cur.shape, dtype=bool)
                for li in range(1, n_terms):
                    idx = np.searchsorted(keys[li], cur, side="right")
                    okh = idx < keys[li].size
                    cur = np.where(
                        okh, keys[li][np.minimum(idx, keys[li].size - 1)], big
                    )
                    alive &= okh
                startv = keys[0]
                endv = np.where(alive, cur, big)
                width = endv - startv - np.int64(n_terms - 1)
                # exact same-doc guard: a chain whose first-after step fell
                # into the NEXT doc's key space can still have a small key
                # difference (SHIFT - maxpos), so compare doc slots
                valid = (
                    alive
                    & (endv < big)
                    & (width <= slop_i)
                    & (endv // SHIFT == startv // SHIFT)
                )
                if mode_contain:
                    ckeys = np.repeat(doc_key, clens) + cflat
                    n_in = np.searchsorted(ckeys, endv, side="right") - (
                        np.searchsorted(ckeys, startv, side="left")
                    )
                    valid &= n_in > 0
                if mode_within:
                    ckeys = np.repeat(doc_key, clens) + cflat
                    vs, ve = startv[valid], endv[valid]
                    if vs.size:
                        # chained ends are monotone in start, so the last
                        # valid span starting <= q has the max end among them
                        j = np.searchsorted(vs, ckeys, side="right") - 1
                        covered = (j >= 0) & (ve[np.maximum(j, 0)] >= ckeys)
                    else:
                        covered = np.zeros(ckeys.shape, dtype=bool)
                    cstarts = np.concatenate(([0], np.cumsum(clens)[:-1]))
                    freq = (
                        np.add.reduceat(covered.astype(np.float64), cstarts)
                        if ckeys.size
                        else np.zeros(n_docs, np.float64)
                    )
                    freq = np.where(clens > 0, freq, 0.0)
                else:
                    contrib = np.where(
                        valid, 1.0 / (1.0 + width.astype(np.float64)), 0.0
                    )
                    freq = (
                        np.add.reduceat(contrib, starts_l[0])
                        if startv.size
                        else np.zeros(n_docs, np.float64)
                    )
                    freq = np.where(lens_l[0] > 0, freq, 0.0)
                hit = freq > 0
                wv = np.float32(weight)
                inv = cache[pdf["norm"].to_numpy(np.int64)[hit]]
                f32 = freq[hit].astype(np.float32)
                scores = (wv - wv / (np.float32(1.0) + f32 * inv)).astype(
                    np.float32
                )
                yield pd.DataFrame({"docID": docids[hit], "score": scores})

        return joined.mapInPandas(match_batch, schema=out_schema)

    def span_near_unordered_scores(
        self, terms: list[str], slop: int
    ) -> DataFrame | None:
        """(docID, score float32) for an UNORDERED SpanNearQuery over
        term clauses — each a str or a tuple of alternatives (the
        SpanMultiTermQueryWrapper SpanOr rewrite; see
        _span_clauses_setup) (spans/NearSpansUnordered.java): the span
        window is
        a min-heap of per-clause positions; every element becomes the
        window minimum exactly once (the same consumed-in-sorted-order
        property the sloppy matcher exploits), the state matches when
        maxEnd - minStart - totalSpanLength <= slop (atMatch,
        NearSpansUnordered.java:83-85; totalSpanLength = n clauses for
        term spans), and each MATCHING state adds 1/(1+width) with
        width = maxEnd - minStart (NearSpansUnordered.java:136 — the
        span EXTENT, unlike the ordered matcher's gap count; the
        asymmetry is the reference's own). maxEnd is a running doc max,
        but term ends of consumed elements never exceed the current
        minimum's end, so it equals the max of the current heads —
        computable per element with one batched searchsorted per list
        pair, exactly the sloppy kernel minus the phrase offset
        adjustment. Weight = summed idf over DISTINCT clause terms."""
        if len(terms) < 2:
            raise ValueError("span_near needs at least two clauses")
        setup = self._span_clauses_setup(terms)
        if setup is None:
            return None
        joined, tidx_of_pos, _, weight = setup
        cache = self.scorer.cache
        out_schema = StructType(
            [StructField("docID", LongType()), StructField("score", FloatType())]
        )
        n_pos = len(terms)
        slop_i = int(slop)

        def match_batch(batches):
            for pdf in batches:
                n_docs = len(pdf)
                if n_docs == 0:
                    yield pd.DataFrame(
                        {"docID": pd.array([], dtype="int64"),
                         "score": pd.array([], dtype="float32")}
                    )
                    continue
                flats, lens_l = [], []
                maxpos = 0
                for li in range(n_pos):
                    arrs = [
                        np.asarray(a, dtype=np.int64)
                        for a in pdf[f"pos{tidx_of_pos[li]}"]
                    ]
                    lens = np.fromiter(
                        (a.size for a in arrs), dtype=np.int64, count=n_docs
                    )
                    flat = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
                    if flat.size:
                        maxpos = max(maxpos, int(flat.max()))
                    flats.append(flat)
                    lens_l.append(lens)
                # doubled headroom (the intervals-kernel convention): with
                # SHIFT > 2*maxpos+2, a cross-doc head gives
                # wmax - e >= SHIFT - maxpos > maxpos >= any same-doc
                # width, so the width < SHIFT//2 guard excludes it exactly
                SHIFT = _pos_shift(maxpos * 2 + 2, 1, floor_bits=22)
                doc_key = np.arange(n_docs, dtype=np.int64) * SHIFT
                keys, starts = [], []
                for li in range(n_pos):
                    keys.append(np.repeat(doc_key, lens_l[li]) + flats[li])
                    starts.append(
                        np.concatenate(([0], np.cumsum(lens_l[li])[:-1]))
                    )
                freq = np.zeros(n_docs, dtype=np.float64)
                big = np.int64(1) << np.int64(60)
                for i in range(n_pos):
                    e = keys[i]
                    wmax = e.copy()
                    for j in range(n_pos):
                        if j == i:
                            continue
                        side = "right" if j < i else "left"
                        idx = np.searchsorted(keys[j], e, side=side)
                        ok = idx < keys[j].size
                        head = np.where(
                            ok, keys[j][np.minimum(idx, keys[j].size - 1)], big
                        )
                        np.maximum(wmax, head, out=wmax)
                    width = wmax - e + 1  # maxEnd(=wmax+1) - minStart
                    contrib = np.where(
                        (width - n_pos <= slop_i) & (wmax - e < SHIFT // 2),
                        1.0 / (1.0 + width.astype(np.float64)),
                        0.0,
                    )
                    # inner phrase join => every doc has >=1 position per
                    # list, so reduceat segments are never empty
                    if e.size:
                        freq += np.add.reduceat(contrib, starts[i])
                hit = freq > 0
                wv = np.float32(weight)
                inv = cache[pdf["norm"].to_numpy(np.int64)[hit]]
                f32 = freq[hit].astype(np.float32)
                scores = (wv - wv / (np.float32(1.0) + f32 * inv)).astype(
                    np.float32
                )
                yield pd.DataFrame(
                    {"docID": pdf["docID"].to_numpy(np.int64)[hit], "score": scores}
                )

        return joined.mapInPandas(match_batch, schema=out_schema)

    def search_span_near(
        self, query: str | list[str], slop: int, k: int = 10,
        ordered: bool = True, pre_analyzed: bool = False,
    ) -> DataFrame:
        """SpanNearQuery top-k (queries/spans/SpanNearQuery.java):
        ordered => clause spans in order, freq = sum of 1/(1+matchWidth)
        with matchWidth = total gaps (NearSpansOrdered); unordered =>
        any order, width = span extent (NearSpansUnordered — the
        reference's own asymmetry). (docID, score) by score DESC,
        docID ASC.

        Clauses may be multi-term (SpanMultiTermQueryWrapper,
        spans/SpanMultiTermQueryWrapper.java:47): a slot ending in ``*``
        expands against the dictionary (top-df capped — the wrapper's
        TopTermsSpanBooleanQueryRewrite, :134), and a list element
        supplies explicit alternatives; either becomes a SpanOr clause
        whose occurrences are the union of the member terms'."""
        slots = query.split() if isinstance(query, str) else list(query)
        clauses: list = []
        for slot in slots:
            if isinstance(slot, (list, tuple)):
                exp = []
                for t in slot:
                    # pre_analyzed: members are already index-dictionary
                    # terms (a caller-side MultiTermQuery expansion, e.g.
                    # ComplexPhraseQueryParser) — re-running the analyzer
                    # chain could re-stem an already-stemmed term
                    p = [t] if pre_analyzed else self._parse(t)
                    if len(p) != 1:
                        raise ValueError(
                            f"alternative {t!r} must analyze to one term"
                        )
                    exp.append(p[0])
                clauses.append(tuple(dict.fromkeys(exp)))
            elif pre_analyzed:
                clauses.append(slot)
            elif slot.endswith("*") and len(slot) > 1 and "*" not in slot[:-1]:
                stem = self._parse(slot[:-1])
                if len(stem) != 1:
                    raise ValueError(f"bad wildcard slot {slot!r}")
                exp = self.expand_terms(prefix=stem[0], top_terms=True)
                if not exp:
                    return self._empty_topk()
                clauses.append(tuple(exp))
            else:
                # a plain slot may analyze to several tokens ("foo-bar");
                # each becomes its own single-term clause, preserving the
                # pre-wrapper parse behavior
                clauses.extend(self._parse(slot))
        if len(clauses) == 1:
            # clauses are analyzed by THIS loop either way — the
            # delegates must not run the chain a second time
            c = clauses[0]
            if isinstance(c, str):
                return self.search([c], k=k, pre_analyzed=True)
            return self.search_span_or(list(c), k=k, pre_analyzed=True)
        scored = (
            self.span_near_scores(clauses, slop)
            if ordered
            else self.span_near_unordered_scores(clauses, slop)
        )
        if scored is None:
            return self._empty_topk()
        return scored.orderBy(F.desc("score"), F.asc("docID")).limit(k)

    def search_span_containing(
        self, big: str | list[str], slop: int, little: str, k: int = 10
    ) -> DataFrame:
        """SpanContainingQuery top-k (spans/SpanContainingQuery.java:30):
        ordered near-spans of ``big`` (gap <= slop) that contain an
        occurrence of ``little``; freq counts surviving big spans at
        their slop factor, weight sums both sides' idf."""
        parsed_l = self._parse(little)
        if len(parsed_l) != 1:
            raise ValueError("little must be a single term")
        scored = self.span_near_scores(
            self._parse(big), slop, contain=parsed_l[0], contain_mode="containing"
        )
        if scored is None:
            return self._empty_topk()
        return scored.orderBy(F.desc("score"), F.asc("docID")).limit(k)

    def search_span_within(
        self, little: str, big: str | list[str], slop: int, k: int = 10
    ) -> DataFrame:
        """SpanWithinQuery top-k (spans/SpanWithinQuery.java:30): little
        spans that lie within a big ordered near-span (gap <= slop);
        freq counts covered little occurrences (width 0 => slop factor
        1 each), weight sums both sides' idf."""
        parsed_l = self._parse(little)
        if len(parsed_l) != 1:
            raise ValueError("little must be a single term")
        scored = self.span_near_scores(
            self._parse(big), slop, contain=parsed_l[0], contain_mode="within"
        )
        if scored is None:
            return self._empty_topk()
        return scored.orderBy(F.desc("score"), F.asc("docID")).limit(k)

    def search_span_or(
        self, terms: str | list[str], k: int = 10,
        pre_analyzed: bool = False,
    ) -> DataFrame:
        """SpanOrQuery top-k over term clauses
        (queries/spans/SpanOrQuery.java): the span disjunction emits every
        clause occurrence (width 0, slop factor 1 each —
        SpanScorer.setFreqCurrentDoc:112 + TermSpans.java:106), so
        freq = TOTAL tf across present clause terms, scored ONCE with
        weight = sum of the present terms' idf (SpanWeight.buildSimWeight
        over the merged termStates map). Differs from both the boolean OR
        (per-term saturation, then sum) and SynonymQuery (max-df pseudo
        term): here tf sums BEFORE the BM25 saturation.

        Plan: one postings decode of the clause terms -> groupBy docID
        sum(tf) (map-side partial agg) -> one Arrow-batched scoring UDF;
        absent terms drop out of both freq and weight (a TermStates with
        zero docFreq contributes no scorer)."""
        parsed = (
            ([terms] if isinstance(terms, str) else list(terms))
            if pre_analyzed
            else self._parse(terms)
        )
        stats = self.term_stats(parsed)
        present = [t for t in dict.fromkeys(parsed) if t in stats]
        if not present:
            return self._empty_topk()
        w = np.float32(0.0)
        for t in present:
            w = np.float32(w + idf(stats[t].df, self.doc_count))
        weight = float(w)
        cache = self.scorer.cache

        rows = self._tf_norm_rows(present)
        agg = rows.groupBy("docID").agg(
            F.sum("tf").alias("freq"), F.max("norm").alias("norm")
        )

        @pandas_udf(FloatType())
        def score_udf(freq: pd.Series, norm: pd.Series) -> pd.Series:
            wv = np.float32(weight)
            inv = cache[norm.to_numpy(np.int64)]
            f32 = freq.to_numpy(np.int64).astype(np.float32)
            return pd.Series(
                (wv - wv / (np.float32(1.0) + f32 * inv)).astype(np.float32)
            )

        return (
            agg.select(
                "docID", score_udf(F.col("freq"), F.col("norm")).alias("score")
            )
            .orderBy(F.desc("score"), F.asc("docID"))
            .limit(k)
        )

    def _tf_norm_rows(self, terms: list[str]) -> DataFrame:
        """Decode (docID, term, tf, norm) rows for the given terms — the
        postings_tf shape plus the norm byte, for scorers that need the
        RAW tf (span-or's freq sums before saturation; the multi-index
        searcher's shard-local decode). Tombstones are filtered inside
        the kernel per the decode-kernel contract."""
        schema = StructType(
            [
                StructField("docID", LongType()),
                StructField("term", StringType()),
                StructField("tf", LongType()),
                StructField("norm", IntegerType()),
            ]
        )
        dele_bc = self._deleted_bc

        def fn(batches):
            dele = dele_bc.value
            for pdf in batches:
                outs = []
                for term, docs_vb, tfs_vb, norms_b in zip(
                    pdf["term"], pdf["docs_vb"], pdf["tfs_vb"], pdf["norms_b"]
                ):
                    doc_ids = delta_decode(decode(bytes(docs_vb)))
                    tfs = decode(bytes(tfs_vb))
                    norms = np.frombuffer(bytes(norms_b), dtype=np.uint8)
                    if dele.size:
                        keep = ~np.isin(doc_ids, dele)
                        doc_ids, tfs, norms = doc_ids[keep], tfs[keep], norms[keep]
                    outs.append(
                        pd.DataFrame(
                            {
                                "docID": doc_ids,
                                "term": term,
                                "tf": tfs.astype(np.int64),
                                "norm": norms.astype(np.int32),
                            }
                        )
                    )
                yield pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
                    {
                        "docID": pd.array([], dtype="int64"),
                        "term": pd.array([], dtype="object"),
                        "tf": pd.array([], dtype="int64"),
                        "norm": pd.array([], dtype="int32"),
                    }
                )

        return self._strip_deleted(
            self._postings.filter(F.col("term").isin(list(set(terms))))
            .select("term", "docs_vb", "tfs_vb", "norms_b")
            .mapInPandas(fn, schema=schema)
        )

    def match_all_scores(self) -> DataFrame:
        """(docID, score=1.0 float) for every live doc —
        MatchAllDocsQuery (core search/MatchAllDocsQuery.java: score ==
        boost, default 1). Tombstones applied via the live-docmap
        broadcast anti-join."""
        return self._live_docmap().select(
            "docID", F.lit(1.0).cast(FloatType()).alias("score")
        )

    def suffix_terms(self, suffix: str) -> DataFrame:
        """Dictionary terms ENDING with ``suffix`` as (term, df) rows with
        the term in its stored (reversed) surface — the efficient
        leading-wildcard recipe (analysis/reverse/ReverseStringFilter.java:28
        + the classic *suffix pattern): on an index built with
        token_filters=("reverse",) the suffix becomes a PREFIX over the
        reversed dictionary, so the sorted-terms parquet min/max prunes
        the scan exactly like PrefixQuery — no full-dictionary rlike.
        Raises unless the index was built with the reverse filter."""
        if "reverse" not in tuple(self._token_filters or ()):
            raise ValueError(
                "search_suffix needs an index built with "
                "token_filters=('reverse',) — leading wildcards on a "
                "forward index would scan the whole dictionary"
            )
        from lucene_spark.analysis import lowercase

        pre = lowercase(suffix)[::-1]
        return self._terms.filter(F.col("term").startswith(pre)).select(
            "term", "df"
        )

    def search_suffix(self, suffix: str, k: int = 10) -> DataFrame:
        """Leading-wildcard top-k (``*suffix`` — WildcardQuery with a
        leading '*', made index-cheap by ReverseStringFilter): bounded
        top-df expansion over the reversed-prefix dictionary slice, then
        the scoring-boolean rewrite (sum of per-term BM25, the same
        contract as the parser's wildcard leaf). Returns (docID, score
        float32) by score DESC, docID ASC."""
        if "reverse" not in tuple(self._token_filters or ()):
            raise ValueError(
                "search_suffix needs an index built with "
                "token_filters=('reverse',)"
            )
        from lucene_spark.analysis import lowercase

        expanded = self.expand_terms(
            prefix=lowercase(suffix)[::-1], top_terms=True
        )
        if not expanded:
            return self._empty_topk()
        stats = self.term_stats(expanded)
        scored = (
            self._scored_postings(expanded, stats)
            .groupBy("docID")
            .agg(F.sum(F.col("score").cast(DoubleType())).alias("score"))
        )
        return (
            scored.select(
                "docID", F.col("score").cast(FloatType()).alias("score")
            )
            .orderBy(F.desc("score"), F.asc("docID"))
            .limit(k)
        )

    def search_phrase_wildcard(self, slots: list[str], k: int = 10) -> DataFrame:
        """PhraseWildcardQuery (reference lucene/sandbox/src/java/org/
        apache/lucene/sandbox/search/PhraseWildcardQuery.java:60): an
        exact phrase where any slot may be a trailing-* prefix wildcard
        ("key ta*"). Each wildcard slot expands against the dictionary
        (top-df capped, TopTermsRewrite bound) and the phrase executes
        with MultiPhraseQuery semantics — per-slot union of positions,
        summed idf over every slot's expanded terms (the repo's
        documented MultiPhrase scoring; the reference's
        segment-by-segment expansion budgeting is an executor-local
        optimization Spark replaces with one bounded dictionary scan).
        A slot expanding to nothing matches nothing."""
        alts: list[list[str]] = []
        for slot in slots:
            if slot.endswith("*") and len(slot) > 1 and "*" not in slot[:-1]:
                stem = self._parse(slot[:-1])
                if len(stem) != 1:
                    raise ValueError(f"bad wildcard slot {slot!r}")
                exp = self.expand_terms(prefix=stem[0], top_terms=True)
                if not exp:
                    return self._empty_topk()
                alts.append(exp)
            else:
                parsed = self._parse(slot)
                if len(parsed) != 1:
                    raise ValueError(f"slot {slot!r} must analyze to one term")
                alts.append(parsed)
        return self.search_multi_phrase(alts, k=k)

    # -- sloppy phrase ----------------------------------------------------

    def search_sloppy_phrase(self, phrase: str, slop: int, k: int = 10) -> DataFrame:
        """Sloppy PhraseQuery: terms may match within an edit window of
        `slop` total displacement; each minimal match window contributes
        sloppyWeight = 1/(1+matchLength) to a float freq scored by BM25
        (search/SloppyPhraseMatcher.java semantics via the classic
        greedy minimal-window matcher; slop=0 reduces to the exact
        matcher — equivalence is tested). Repeating phrase terms get one
        offset-adjusted pointer list PER PHRASE POSITION (a window may
        reuse a source token for two slots — simpler than Lucene's
        repeat-group machinery; the numpy oracle implements the identical
        spec and rank-identity is asserted). Candidate docs come from the
        same n-way position join as the exact phrase.

        The matcher is fully vectorized across the Arrow batch: in the
        greedy sweep every element becomes the window minimum exactly
        once (elements are consumed in global sorted order, ties by list
        index), so each element's window is computable independently —
        head_j(e from list i) = first element of list j > e for j < i,
        >= e for j > i — one batched np.searchsorted per list pair over
        doc-keyed flattened positions; windows wider than slop (or with
        a head missing / in another doc) contribute 0 either way."""
        terms = self._parse(phrase)
        if not terms:
            return self._empty_topk()
        if len(terms) == 1:
            return self.search(terms, k=k)
        scored = self.sloppy_scores(terms, slop)
        if scored is None:
            return self._empty_topk()
        return scored.orderBy(F.desc("score"), F.asc("docID")).limit(k)

    def sloppy_scores(self, terms: list[str], slop: int) -> DataFrame | None:
        """Unranked (docID, score float32) set for a sloppy phrase — the
        kernel behind search_sloppy_phrase, exposed for composition (query
        parser boolean levels need full scored sets, not top-k)."""
        stats = self.term_stats(terms)
        if any(t not in stats for t in terms):
            return None
        if not self.manifest.get("store_positions", True):
            raise ValueError("index built without positions; phrase queries unavailable")

        w = np.float32(0.0)
        for t in terms:
            w = np.float32(w + idf(stats[t].df, self.doc_count))
        weight = float(w)
        cache = self.scorer.cache
        term_order = {t: i for i, t in enumerate(dict.fromkeys(terms))}
        uniq_terms = list(term_order)
        tidx_of_pos = [term_order[t] for t in terms]  # list index -> pos col
        joined = self._phrase_join(uniq_terms, stats)

        out_schema = StructType(
            [StructField("docID", LongType()), StructField("score", FloatType())]
        )
        n_pos = len(terms)
        slop_i = int(slop)
        BASE = np.int64(n_pos)  # keeps offset-adjusted values non-negative

        def match_batch(batches):
            for pdf in batches:
                n_docs = len(pdf)
                if n_docs == 0:
                    yield pd.DataFrame(
                        {"docID": pd.array([], dtype="int64"),
                         "score": pd.array([], dtype="float32")}
                    )
                    continue
                flats, lens_l = [], []
                maxpos = 0
                for li in range(n_pos):
                    arrs = [
                        np.asarray(a, dtype=np.int64)
                        for a in pdf[f"pos{tidx_of_pos[li]}"]
                    ]
                    lens = np.fromiter(
                        (a.size for a in arrs), dtype=np.int64, count=n_docs
                    )
                    flat = np.concatenate(arrs) + np.int64(BASE - li)
                    if flat.size:
                        maxpos = max(maxpos, int(flat.max()))
                    flats.append(flat)
                    lens_l.append(lens)
                # SHIFT > max offset-adjusted position, derived per batch
                SHIFT = _pos_shift(maxpos, 1, floor_bits=22)
                doc_key = np.arange(n_docs, dtype=np.int64) * SHIFT
                keys, starts = [], []
                for li in range(n_pos):
                    keys.append(np.repeat(doc_key, lens_l[li]) + flats[li])
                    starts.append(
                        np.concatenate(([0], np.cumsum(lens_l[li])[:-1]))
                    )
                freq = np.zeros(n_docs, dtype=np.float64)
                big = np.int64(1) << np.int64(60)
                for i in range(n_pos):
                    e = keys[i]
                    wmax = e.copy()
                    for j in range(n_pos):
                        if j == i:
                            continue
                        side = "right" if j < i else "left"
                        idx = np.searchsorted(keys[j], e, side=side)
                        ok = idx < keys[j].size
                        head = np.where(ok, keys[j][np.minimum(idx, keys[j].size - 1)], big)
                        np.maximum(wmax, head, out=wmax)
                    L = wmax - e
                    contrib = np.where(L <= slop_i, 1.0 / (1.0 + L.astype(np.float64)), 0.0)
                    freq += np.add.reduceat(contrib, starts[i])
                hit = freq > 0
                wv = np.float32(weight)
                inv = cache[pdf["norm"].to_numpy(np.int64)[hit]]
                f32 = freq[hit].astype(np.float32)
                scores = (wv - wv / (np.float32(1.0) + f32 * inv)).astype(np.float32)
                yield pd.DataFrame(
                    {"docID": pdf["docID"].to_numpy(np.int64)[hit], "score": scores}
                )

        return joined.mapInPandas(match_batch, schema=out_schema)

    # -- MultiPhraseQuery (B14) -------------------------------------------

    def search_multi_phrase(self, alts: list[list[str]], k: int = 10) -> DataFrame:
        """MultiPhraseQuery: exact phrase where each slot accepts any of a
        set of alternative terms
        (lucene/core/src/java/org/apache/lucene/search/MultiPhraseQuery.java).
        Per-slot position lists are the union of the alternatives'
        positions (disjoint — two terms never share a position); freq =
        #alignments; weight = summed idf over every term of every slot
        (MultiPhraseQuery$MultiPhraseWeight builds one Similarity scorer
        from all TermStatistics). float32 scoring like PhraseQuery."""
        alts = [[t for q in slot for t in self._parse(q)] for slot in alts]
        if not alts or any(not slot for slot in alts):
            return self._empty_topk()
        flat_terms = [t for slot in alts for t in slot]
        stats = self.term_stats(flat_terms)
        # a slot with NO existing alternative can never match
        alts_present = [[t for t in slot if t in stats] for slot in alts]
        if any(not slot for slot in alts_present):
            return self._empty_topk()
        if not self.manifest.get("store_positions", True):
            raise ValueError("index built without positions")

        w = np.float32(0.0)
        for t in flat_terms:
            if t in stats:
                w = np.float32(w + idf(stats[t].df, self.doc_count))
        weight = float(w)
        cache = self.scorer.cache

        # per-slot (docID, norm, positions-union) via decode + flatten
        pos_schema = StructType(
            [
                StructField("docID", LongType()),
                StructField("norm", IntegerType()),
                StructField("positions", ArrayType(LongType())),
            ]
        )
        joined = None
        for i, slot in enumerate(alts_present):
            rows = self._decode_positions_rows(slot, pos_schema)
            side = (
                rows.groupBy("docID")
                .agg(
                    F.min("norm").alias("norm"),
                    F.sort_array(F.flatten(F.collect_list("positions"))).alias(
                        "positions"
                    ),
                )
                .select(
                    "docID",
                    *(["norm"] if i == 0 else []),
                    F.col("positions").alias(f"pos{i}"),
                )
            )
            joined = side if joined is None else joined.join(side, "docID")
        joined = self._strip_deleted(joined)

        n_slots = len(alts_present)
        out_schema = StructType(
            [StructField("docID", LongType()), StructField("score", FloatType())]
        )
        def match_batch(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    yield pd.DataFrame(
                        {"docID": pd.array([], dtype="int64"),
                         "score": pd.array([], dtype="float32")}
                    )
                    continue
                docids = pdf["docID"].to_numpy(np.int64)
                flats, lens_l = [], []
                maxpos = 0
                for i in range(n_slots):
                    arrs = [np.asarray(a, dtype=np.int64) for a in pdf[f"pos{i}"]]
                    lens = np.fromiter(
                        (a.size for a in arrs), dtype=np.int64, count=len(arrs)
                    )
                    flat = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
                    if flat.size:
                        maxpos = max(maxpos, int(flat.max()))
                    flats.append(flat)
                    lens_l.append(lens)
                # SHIFT derived per batch (headroom n_slots for base_keys+i)
                SHIFT = _pos_shift(maxpos, n_slots)
                doc_key = np.arange(len(pdf), dtype=np.int64) * SHIFT
                keysets = [
                    (np.repeat(doc_key, lens_l[i]) + flats[i], lens_l[i])
                    for i in range(n_slots)
                ]
                base_keys, base_lens = keysets[0]
                ok = np.ones(base_keys.shape, dtype=bool)
                for i in range(1, n_slots):
                    ok &= np.isin(base_keys + i, keysets[i][0])
                starts = np.concatenate(([0], np.cumsum(base_lens)[:-1]))
                freq = (
                    np.add.reduceat(ok, starts)
                    if base_keys.size
                    else np.zeros(0, np.int64)
                )
                freq = np.where(base_lens > 0, freq, 0)
                hit = freq > 0
                wv = np.float32(weight)
                inv = cache[pdf["norm"].to_numpy(np.int64)[hit]]
                f32 = freq[hit].astype(np.float32)
                scores = (wv - wv / (np.float32(1.0) + f32 * inv)).astype(np.float32)
                yield pd.DataFrame({"docID": docids[hit], "score": scores})

        matched = joined.mapInPandas(match_batch, schema=out_schema)
        return matched.orderBy(F.desc("score"), F.asc("docID")).limit(k)

    # -- CombinedFieldQuery / BM25F (B15 remainder) -----------------------

    def search_combined_field(
        self,
        terms: list[str],
        k: int = 10,
        title_len: int = 8,
        title_weight: float = 2.0,
        body_weight: float = 1.0,
    ) -> DataFrame:
        """CombinedFieldQuery (BM25F,
        lucene/core/src/java/org/apache/lucene/search/CombinedFieldQuery.java):
        multiple fields scored as ONE pseudo-field with per-field weights
        folded into term and document lengths:
            tf_c = w_title*tf_title + w_body*tf_body
            dl_c = w_title*len_title + w_body*len_body
        Our index has a single analyzed field, so the two fields are
        POSITIONAL slices of content — title = first `title_len` tokens,
        body = the rest (the classic title/body BM25F shape). df of the
        combined field equals the term's df (the slices partition the
        doc). Scores are float32 in the Lucene expression shape, but the
        combined length is exact (no stored combined norm exists — byte4
        quantization is a storage artifact of single-field norms, which
        this query does not read); the numpy oracle mirrors exactly."""
        terms = self._parse(terms if isinstance(terms, str) else " ".join(terms))
        terms = list(dict.fromkeys(terms))
        stats = self.term_stats(terms)
        present = [t for t in terms if t in stats]
        if not present:
            return self._empty_topk()
        if not self.manifest.get("store_positions", True):
            raise ValueError("index built without positions")

        wt, wb, tl = float(title_weight), float(body_weight), int(title_len)
        # combined collection stats from the dl HISTOGRAM — one narrow
        # docmap scan per searcher, reused by every combined-field query
        # with any (title_len, weights); the previous per-query docmap
        # aggregate was a full-table pass per query for a constant. The
        # histogram sum is exactly equal to the per-doc sum: wt/wb scale
        # integer lengths, so each product is exact in double and the
        # grouped sum commutes without rounding differences.
        dls, cnts = self._dl_histogram()
        sdl = float(
            np.dot(
                wt * np.minimum(dls, tl) + wb * np.maximum(dls - tl, 0),
                cnts.astype(np.float64),
            )
        )
        avgdl_c = sdl / max(1, self.doc_count)
        weights = {
            t: float(np.float32(idf(stats[t].df, self.doc_count)))
            for t in present
        }

        schema = StructType(
            [
                StructField("docID", LongType()),
                StructField("term", StringType()),
                StructField("tf_t", LongType()),
                StructField("tf_b", LongType()),
            ]
        )
        dele_bc = self._deleted_bc

        def decode_split(batches):
            dele = dele_bc.value
            for pdf in batches:
                outs = []
                for term, docs_vb, tfs_vb, pos_vb in zip(
                    pdf["term"], pdf["docs_vb"], pdf["tfs_vb"], pdf["pos_vb"]
                ):
                    doc_ids = delta_decode(decode(bytes(docs_vb)))
                    tfs = decode(bytes(tfs_vb))
                    flat = segmented_delta_decode(decode(bytes(pos_vb)), tfs)
                    starts = np.concatenate(([0], np.cumsum(tfs)[:-1]))
                    in_title = (flat < tl).astype(np.int64)
                    tf_t = np.add.reduceat(in_title, starts) if flat.size else np.zeros(0, np.int64)
                    tf_b = tfs - tf_t
                    if dele.size:
                        keep = ~np.isin(doc_ids, dele)
                        doc_ids, tf_t, tf_b = doc_ids[keep], tf_t[keep], tf_b[keep]
                    outs.append(
                        pd.DataFrame(
                            {"docID": doc_ids, "term": term, "tf_t": tf_t, "tf_b": tf_b}
                        )
                    )
                yield pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
                    {"docID": pd.array([], dtype="int64"), "term": [],
                     "tf_t": pd.array([], dtype="int64"),
                     "tf_b": pd.array([], dtype="int64")}
                )

        rows = self._strip_deleted(
            self._postings.filter(F.col("term").isin(present))
            .select("term", "docs_vb", "tfs_vb", "pos_vb")
            .mapInPandas(decode_split, schema=schema)
        )
        rows = rows.join(self.docmap.select("docID", "dl"), "docID")

        out_schema = StructType(
            [
                StructField("docID", LongType()),
                StructField("score", FloatType()),
            ]
        )
        k1b = float(np.float32(self.scorer.k1))
        bb = float(np.float32(self.scorer.b))

        def score_rows(batches):
            k1v, bv = np.float32(k1b), np.float32(bb)
            av = np.float32(avgdl_c)
            for pdf in batches:
                dl = pdf["dl"].to_numpy(np.float64)
                dl_c = (
                    wt * np.minimum(dl, tl) + wb * np.maximum(dl - tl, 0.0)
                ).astype(np.float32)
                tf_c = (
                    wt * pdf["tf_t"].to_numpy(np.float64)
                    + wb * pdf["tf_b"].to_numpy(np.float64)
                ).astype(np.float32)
                w = np.array(
                    [weights[t] for t in pdf["term"]], dtype=np.float32
                )
                inv = np.float32(1.0) / (
                    k1v * (np.float32(1.0) - bv + bv * dl_c / av)
                )
                sc = (w - w / (np.float32(1.0) + tf_c * inv)).astype(np.float32)
                yield pd.DataFrame({"docID": pdf["docID"], "score": sc})

        scored = rows.mapInPandas(score_rows, schema=out_schema)
        return self._topk(scored, k, "or", n_terms=len(present))

    def _decode_positions_rows(self, terms: list[str], pos_schema) -> DataFrame:
        """(docID, norm, positions) rows for each (term, doc) posting of
        `terms` — shared decode for multi-phrase / intervals."""
        dele_bc = self._deleted_bc

        def decode_positions(batches):
            dele = dele_bc.value
            for pdf in batches:
                frames = []
                for docs_vb, tfs_vb, norms_b, pos_vb in zip(
                    pdf["docs_vb"], pdf["tfs_vb"], pdf["norms_b"], pdf["pos_vb"]
                ):
                    doc_ids = delta_decode(decode(bytes(docs_vb)))
                    tfs = decode(bytes(tfs_vb))
                    norms = np.frombuffer(bytes(norms_b), dtype=np.uint8)
                    flat = segmented_delta_decode(decode(bytes(pos_vb)), tfs)
                    if dele.size:
                        keep = ~np.isin(doc_ids, dele)
                        if not keep.all():
                            ends = np.cumsum(tfs)
                            parts = [
                                flat[(ends[i] - tfs[i]):ends[i]]
                                for i in np.flatnonzero(keep)
                            ]
                            flat = (
                                np.concatenate(parts)
                                if parts
                                else np.empty(0, np.int64)
                            )
                            doc_ids, tfs, norms = doc_ids[keep], tfs[keep], norms[keep]
                    frames.append(
                        pd.DataFrame(
                            {
                                "docID": doc_ids,
                                "norm": norms.astype(np.int32),
                                "positions": np.split(flat, np.cumsum(tfs)[:-1]),
                            }
                        )
                    )
                yield pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
                    {"docID": pd.array([], dtype="int64"),
                     "norm": pd.array([], dtype="int32"), "positions": []}
                )

        return (
            self._postings.filter(F.col("term").isin(list(set(terms))))
            .select("docs_vb", "tfs_vb", "norms_b", "pos_vb")
            .mapInPandas(decode_positions, schema=pos_schema)
        )

    # -- interval queries (B14) -------------------------------------------

    def search_phrase_prefix(
        self,
        phrase: str | list[str],
        k: int = 10,
        max_expansions: int = 64,
    ) -> DataFrame:
        """Phrase-prefix search-as-you-type ("microsoft app*"): the LAST
        token is a prefix expanded against the term dictionary (top-df,
        TopTermsRewrite bound), then executed as a MultiPhraseQuery with
        the expansion as the final slot — exactly the composition
        MultiPhraseQuery's javadoc prescribes (reference
        lucene/core/src/java/org/apache/lucene/search/MultiPhraseQuery.java:41-47:
        enumerate all terms starting with the prefix, then add(Term[])).
        Scoring is multi-phrase float32 (freq = alignment count, weight
        = summed idf over every slot term). Empty expansion -> empty
        result, like a BooleanQuery with no matching clause."""
        words = self._parse(phrase)
        if not words:
            return self._empty_topk()
        exp = self.expand_terms(
            prefix=words[-1], max_expansions=max_expansions, top_terms=True
        )
        if not exp:
            return self._empty_topk()
        return self.search_multi_phrase(
            [[w] for w in words[:-1]] + [exp], k=k
        )

    def search_intervals(
        self,
        terms: list[str],
        max_gaps: int = 0,
        ordered: bool = True,
        k: int = 10,
        containing: str | None = None,
        not_containing: str | None = None,
        before: str | None = None,
        after: str | None = None,
        max_width: int | None = None,
    ) -> DataFrame:
        """Interval query over stored positions: top-k docs by the number
        of MINIMAL intervals spanning all terms with total gap count
        <= max_gaps (Intervals.maxgaps(ordered/unordered) semantics,
        lucene/queries/src/java/org/apache/lucene/queries/intervals/).
        Returns (docID long, n_intervals long), ranked n desc, docID asc.

        ordered: chain p_{i+1} = first position of term i+1 AFTER p_i;
        the chained end is monotone in the start, so an interval is
        minimal iff it is the LAST start mapping to its end.
        unordered: the same greedy sweep as the sloppy matcher; window
        ends are monotone in the evaluation order, so minimal windows
        are again the last window per distinct end. Both count at the
        minimal interval's width.

        Single-term interval filters (ordered only; reference
        lucene/queries/src/java/org/apache/lucene/queries/intervals/
        Intervals.java):
          containing=<t>: count only minimal intervals holding at least
            one occurrence of t (Intervals.containing — outer source
            filtered by an inner).
          not_containing=<t>: the complement (Intervals.notContaining);
            docs without t keep ALL their intervals (an empty subtrahend
            subtracts nothing), so t joins the candidate set via a LEFT
            join, not the conjunction.
          before=<t>: intervals that end before some occurrence of t
            (Intervals.before — source intervals appearing before the
            reference).
          after=<t>: intervals that start after some occurrence of t
            (Intervals.after).

        max_width=<w>: keep minimal intervals whose EXTENT end-start+1
        is at most w (Intervals.maxwidth — both modes; composes with
        max_gaps, the two wrappers filter independently)."""
        terms = self._parse(terms if isinstance(terms, str) else " ".join(terms))
        if len(terms) < 2:
            raise ValueError("interval queries need at least two terms")

        def _one(name: str, val: str | None) -> str | None:
            if val is None:
                return None
            if not ordered:
                raise ValueError(f"{name} is supported for ordered intervals")
            parsed = self._parse(val)
            if len(parsed) != 1:
                raise ValueError(f"{name} must be a single term")
            return parsed[0]

        inner = _one("containing", containing)
        nc = _one("not_containing", not_containing)
        bef = _one("before", before)
        aft = _one("after", after)
        # conjunctive filter terms (the doc must contain them to match);
        # not_containing is the exception — an absent subtrahend is a no-op
        conj = [t for t in (inner, bef, aft) if t]
        stats = self.term_stats(terms + conj + ([nc] if nc else []))
        if any(t not in stats for t in terms + conj):
            return self.spark.createDataFrame(
                [], "docID long, n_intervals long"
            )
        if not self.manifest.get("store_positions", True):
            raise ValueError("index built without positions")
        uniq = list(dict.fromkeys(terms + conj))
        joined = self._phrase_join(uniq, stats)
        nc_idx = None
        if nc and nc in stats:
            if nc in uniq:
                nc_idx = uniq.index(nc)
            else:
                nc_idx = len(uniq)
                nc_side = self._positions_side(nc).select(
                    "docID", F.col("positions").alias(f"pos{nc_idx}")
                )
                joined = joined.join(nc_side, "docID", "left")
                uniq = uniq + [nc]
        tidx = {t: i for i, t in enumerate(uniq)}
        order_idx = [tidx[t] for t in terms]
        inner_idx = tidx[inner] if inner else None
        # (column index, kind) specs evaluated on minimal intervals;
        # kind semantics documented above
        filter_specs = [(inner_idx, "containing")] if inner else []
        if nc_idx is not None:
            filter_specs.append((nc_idx, "not_containing"))
        if bef:
            filter_specs.append((tidx[bef], "before"))
        if aft:
            filter_specs.append((tidx[aft], "after"))
        n_terms = len(terms)
        gaps = int(max_gaps)
        if max_width is not None and max_width < len(terms):
            # an interval spans all terms, so its extent is >= n_terms
            return self.spark.createDataFrame(
                [], "docID long, n_intervals long"
            )
        wcap = None if max_width is None else int(max_width) - 1  # extent-1
        out_schema = StructType(
            [StructField("docID", LongType()), StructField("n_intervals", LongType())]
        )
        is_ordered = bool(ordered)

        def match_batch(batches):
            for pdf in batches:
                n_docs = len(pdf)
                if n_docs == 0:
                    yield pd.DataFrame(
                        {"docID": pd.array([], dtype="int64"),
                         "n_intervals": pd.array([], dtype="int64")}
                    )
                    continue
                docids = pdf["docID"].to_numpy(np.int64)
                flats, starts_l, lens_l = [], [], []
                maxpos = 0
                for li in range(n_terms):
                    arrs = [
                        np.asarray(a, dtype=np.int64)
                        for a in pdf[f"pos{order_idx[li]}"]
                    ]
                    lens = np.fromiter(
                        (a.size for a in arrs), dtype=np.int64, count=n_docs
                    )
                    flat = np.concatenate(arrs) if arrs else np.empty(0, np.int64)
                    if flat.size:
                        maxpos = max(maxpos, int(flat.max()))
                    flats.append(flat)
                    starts_l.append(np.concatenate(([0], np.cumsum(lens)[:-1])))
                    lens_l.append(lens)
                # SHIFT derived per batch; *2 headroom keeps the unordered
                # sweep's `width < SHIFT // 2` same-doc guard meaningful.
                SHIFT = _pos_shift(maxpos * 2 + 2, 1, floor_bits=22)
                doc_key = np.arange(n_docs, dtype=np.int64) * SHIFT
                keys = [
                    np.repeat(doc_key, lens_l[li]) + flats[li]
                    for li in range(n_terms)
                ]
                big = np.int64(1) << np.int64(60)
                if is_ordered:
                    # chain first-greater through the term sequence
                    cur = keys[0].copy()
                    alive = np.ones(cur.shape, dtype=bool)
                    for li in range(1, n_terms):
                        idx = np.searchsorted(keys[li], cur, side="right")
                        okh = idx < keys[li].size
                        nxt = np.where(
                            okh, keys[li][np.minimum(idx, keys[li].size - 1)], big
                        )
                        alive &= okh
                        cur = nxt
                    startv = keys[0]
                    endv = np.where(alive, cur, big)
                    fmask = None
                    doc_slot = startv // SHIFT
                    for fi, kind in filter_specs:
                        arrs = [
                            np.asarray(
                                a if a is not None else [], dtype=np.int64
                            )
                            for a in pdf[f"pos{fi}"]
                        ]
                        ilens = np.fromiter(
                            (a.size for a in arrs), dtype=np.int64, count=n_docs
                        )
                        ikeys = np.repeat(doc_key, ilens) + (
                            np.concatenate(arrs) if arrs else np.empty(0, np.int64)
                        )
                        if ikeys.size == 0:
                            has = np.zeros(startv.shape, dtype=bool)
                        elif kind in ("containing", "not_containing"):
                            # first filter position >= start is <= end
                            iidx = np.searchsorted(ikeys, startv, side="left")
                            ival = np.where(
                                iidx < ikeys.size,
                                ikeys[np.minimum(iidx, ikeys.size - 1)],
                                big,
                            )
                            has = ival <= endv
                        elif kind == "before":
                            # a same-doc occurrence strictly after the end
                            iidx = np.searchsorted(ikeys, endv, side="right")
                            okf = iidx < ikeys.size
                            ival = ikeys[np.minimum(iidx, ikeys.size - 1)]
                            has = okf & (ival // SHIFT == doc_slot)
                        else:  # after: a same-doc occurrence strictly before
                            iidx = np.searchsorted(ikeys, startv, side="left") - 1
                            okf = iidx >= 0
                            ival = ikeys[np.maximum(iidx, 0)]
                            has = okf & (ival // SHIFT == doc_slot)
                        if kind == "not_containing":
                            has = ~has
                        fmask = has if fmask is None else (fmask & has)
                    # minimal = last start per distinct end (end monotone)
                    last_of_doc = np.zeros(startv.shape, dtype=bool)
                    if startv.size:
                        seg_ends = np.cumsum(lens_l[0]) - 1
                        seg_ends = seg_ends[lens_l[0] > 0]
                        last_of_doc[seg_ends] = True
                    nxt_end = np.empty_like(endv)
                    nxt_end[:-1] = endv[1:]
                    if endv.size:
                        nxt_end[-1] = big
                    minimal = last_of_doc | (endv != nxt_end)
                    width = endv - startv  # same doc => plain position diff
                    count = minimal & (endv < big) & (width - (n_terms - 1) <= gaps)
                    if wcap is not None:
                        count &= width <= wcap
                    if fmask is not None:
                        count &= fmask
                    n_per_doc = np.add.reduceat(
                        count, starts_l[0]
                    ) if startv.size else np.zeros(n_docs, np.int64)
                    n_per_doc = np.where(lens_l[0] > 0, n_per_doc, 0)
                else:
                    # unordered: sweep windows (see sloppy matcher); per
                    # element e of list i, window end = max of heads
                    all_e = []
                    all_end = []
                    for i in range(n_terms):
                        e = keys[i]
                        wmax = e.copy()
                        for j in range(n_terms):
                            if j == i:
                                continue
                            side = "right" if j < i else "left"
                            idx = np.searchsorted(keys[j], e, side=side)
                            okh = idx < keys[j].size
                            head = np.where(
                                okh, keys[j][np.minimum(idx, keys[j].size - 1)], big
                            )
                            np.maximum(wmax, head, out=wmax)
                        all_e.append(e)
                        all_end.append(wmax)
                    e = np.concatenate(all_e)
                    end = np.concatenate(all_end)
                    order = np.argsort(e, kind="stable")
                    e, end = e[order], end[order]
                    # minimal: last window per distinct end value, within doc
                    nxt_end = np.empty_like(end)
                    nxt_end[:-1] = end[1:]
                    if end.size:
                        nxt_end[-1] = big
                    minimal = end != nxt_end
                    width = end - e
                    valid = minimal & (end < big) & (
                        width - (n_terms - 1) <= gaps
                    ) & (width < SHIFT // 2)
                    if wcap is not None:
                        valid &= width <= wcap
                    dr = (e // SHIFT).astype(np.int64)
                    n_per_doc = np.bincount(
                        dr[valid], minlength=n_docs
                    ).astype(np.int64)
                hit = n_per_doc > 0
                yield pd.DataFrame(
                    {"docID": docids[hit], "n_intervals": n_per_doc[hit]}
                )

        matched = joined.select(
            "docID", *[f"pos{i}" for i in range(len(uniq))]
        ).mapInPandas(match_batch, schema=out_schema)
        return matched.orderBy(F.desc("n_intervals"), F.asc("docID")).limit(k)
