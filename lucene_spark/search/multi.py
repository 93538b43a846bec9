"""Multi-index (sharded) search — MultiReader + TopDocs.merge
(reference lucene/core/src/java/org/apache/lucene/index/
MultiReader.java:33, BaseCompositeReader.java docBase arithmetic, and
search/TopDocs.java:203-231 shard merge).

Lucene's distributed-search contract: each shard scores with GLOBAL
collection statistics (IndexSearcher computes TermStatistics /
CollectionStatistics at the TOP level and hands them to every leaf —
otherwise the same document scores differently depending on which shard
holds it), docIDs are shard-local plus a docBase offset, and the final
top-k is a merge of per-shard top-ks with the (score DESC, docID ASC)
tie-break.

Spark shape: each shard's postings come from its own read_postings
(tombstones applied per shard; each scan prunes to the query terms via
the shard's own parquet stats), union — no shuffle until the single groupBy(docID) that
sums per-term scores, and the top-k is TakeOrderedAndProject (the
per-partition-heap + k-row-merge that IS TopDocs.merge). Global stats
come from the manifests (doc counts, total term freq) and a summed
per-term df — driver-side metadata lookups, no data motion.

The float32 contract matches IndexSearcher.search exactly (per-term
float32 scores, double sum, float32 final), so a corpus split into N
shards in docID order is RANK-IDENTICAL to the single index — asserted
in tests and dueled against the single-corpus DuckDB oracle by the
`multi_shard_top10` gate."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import FloatType

from lucene_spark.analysis import analyze
from lucene_spark.search.bm25 import BM25Scorer, idf
from lucene_spark.search.engine import IndexSearcher


class MultiIndexSearcher:
    """Search over several independently-built indexes as one corpus."""

    def __init__(self, spark: SparkSession, index_dirs: list[str]):
        if not index_dirs:
            raise ValueError("need at least one index dir")
        self.spark = spark
        self.searchers = [IndexSearcher(spark, d) for d in index_dirs]
        # shards must share the analysis chain: mixing (say) a stemmed
        # shard with a raw one would score the same document set under
        # two different token streams — the same class of error
        # add_indexes refuses (store_offsets mismatch), refused here too
        def _sig(s):
            m = s.manifest
            return (
                m.get("tokenizer", "standard"),
                tuple(m.get("token_filters", ())),
                bool(m.get("store_positions", True)),
            )

        sigs = {_sig(s) for s in self.searchers}
        if len(sigs) > 1:
            raise ValueError(
                f"shards disagree on analysis/options: {sorted(sigs)} — "
                "rebuild with one configuration before searching across them"
            )
        # docBase per shard = cumulative maxDoc (max docID + 1, which can
        # exceed the LIVE doc_count after deletes/expunge) — the
        # BaseCompositeReader starts[] arithmetic
        self.bases: list[int] = []
        base = 0
        for s in self.searchers:
            self.bases.append(base)
            mx = s.docmap.agg(F.max("docID")).collect()[0][0]
            base += int(mx) + 1 if mx is not None else 0
        self.doc_count = sum(s.manifest["doc_count"] for s in self.searchers)
        self.sum_total_term_freq = sum(
            s.manifest["sum_total_term_freq"] for s in self.searchers
        )
        self.scorer = BM25Scorer.build(self.doc_count, self.sum_total_term_freq)

    def term_stats(self, terms: list[str]) -> dict[str, int]:
        """term -> GLOBAL df (summed over shards) — the top-level
        TermStatistics every shard must score with."""
        out: dict[str, int] = {}
        for s in self.searchers:
            for t, st in s.term_stats(terms).items():
                out[t] = out.get(t, 0) + int(st.df)
        return out

    def _parse(self, query: str | list[str]) -> list[str]:
        if isinstance(query, str):
            return analyze(query)
        terms: list[str] = []
        for q in query:
            terms.extend(analyze(q))
        return terms

    def search(
        self, query: str | list[str], k: int = 10, mode: str = "or"
    ) -> DataFrame:
        """Global-stats BM25 top-k over all shards: (docID, score
        float32), docID = shard docID + docBase, score DESC / docID ASC.
        mode 'and' requires every distinct query term (a term absent
        from EVERY shard kills the conjunction, same as
        IndexSearcher.search)."""
        parsed = self._parse(query)
        dfs = self.term_stats(parsed)
        uniq = list(dict.fromkeys(parsed))
        present = [t for t in uniq if dfs.get(t, 0) > 0]
        if not present or (mode == "and" and len(present) < len(uniq)):
            return self.searchers[0]._empty_topk()
        weights = {
            t: float(np.float32(idf(dfs[t], self.doc_count))) for t in present
        }
        cache = self.scorer.cache

        parts = []
        for s, base in zip(self.searchers, self.bases):
            rows = s.read_postings(present, norms=True)
            if base:
                rows = rows.withColumn("docID", F.col("docID") + F.lit(base))
            parts.append(rows)
        un = parts[0]
        for p in parts[1:]:
            un = un.unionByName(p)

        wmap = weights

        @F.pandas_udf(FloatType())
        def score_udf(term: pd.Series, tf: pd.Series, norm: pd.Series) -> pd.Series:
            w = term.map(wmap).to_numpy(np.float32)
            inv = cache[norm.to_numpy(np.int64)]
            f32 = tf.to_numpy(np.int64).astype(np.float32)
            return pd.Series(
                (w - w / (np.float32(1.0) + f32 * inv)).astype(np.float32)
            )

        scored = un.select(
            "docID",
            "term",
            score_udf(F.col("term"), F.col("tf"), F.col("norm")).alias("s"),
        )
        agg = scored.groupBy("docID").agg(
            F.sum(F.col("s").cast("double")).alias("dsum"),
            F.count_distinct("term").alias("nterm"),
        )
        if mode == "and":
            agg = agg.filter(F.col("nterm") == len(present))
        return (
            agg.select(
                "docID", F.col("dsum").cast(FloatType()).alias("score")
            )
            .orderBy(F.desc("score"), F.asc("docID"))
            .limit(k)
        )

    def count(self, query: str | list[str]) -> int:
        """Corpus-wide matching-doc count (sum of shard counts — shards
        hold disjoint docID ranges by construction)."""
        return sum(s.count(query) for s in self.searchers)
