"""The four workloads. Each drives ``lucene_spark`` through its public API
and checks every answer; ``run.py`` turns the records into metrics.

Every workload follows the same shape:

1. the session is started (timed: ``session.start_s``);
2. the inputs are generated from the seed and written to parquet
   (untimed), and the fixture is made: a batch ``build_index``
   (build, bm25_topk, positional) or a first NRT ingest (nrt_refresh);
3. set-up is sampled ``SETUP_SAMPLES`` times: open a fresh
   ``IndexSearcher`` and answer a first query;
4. the workload's operation runs closed loop, one client, until
   ``seconds`` of timed work have passed;
5. every answer is checked against ``lucene_spark.oracle`` (untimed).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import pandas as pd

from perfbench import host, queries
from perfbench.corpus import make_corpus

SETUP_SAMPLES = 3
NRT_QUERIES = 8  # queries on each reopened searcher after the first

SIZES = {
    # docs in the batch corpus (build, bm25_topk, positional) and in each
    # landed batch (nrt_refresh)
    "full": {"docs": 2000, "nrt_batch": 1000},
    "toy": {"docs": 300, "nrt_batch": 100},
}

SCHEMA = "repo string, path string, commit string, lang string, content string"
INDEX_PARTS = ("postings", "terms", "docmap", "stats")


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def by_key(pdf: pd.DataFrame) -> pd.DataFrame:
    """Rows in docID order: the index numbers documents by
    ``(repo, path, commit)``."""
    return pdf.sort_values(["repo", "path", "commit"]).reset_index(drop=True)


class Run:
    """State and records of one benchmark run."""

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 trace: bool, size: dict, corrupt: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.corrupt = corrupt
        self.ops: list[dict] = []  # every checked operation
        self.setup: list[dict] = []  # open_s / first_s samples
        self.queries: list[dict] = []  # timed queries
        self.builds: list[dict] = []  # batch builds / NRT cycles
        self.timed_s = 0.0  # wall time of the timed operations
        self.timed_cpu_s = 0.0  # process-tree CPU time of the same
        self.timed_ops = 0  # queries, builds or NRT cycles
        self.store = None
        self.layers: dict = {}
        self.wall: dict[str, float] = {}  # where the run's time went
        if trace:
            from perfbench.trace import StatusStore

            self.store = StatusStore(spark)

    @contextlib.contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] = self.wall.get(name, 0.0) + time.perf_counter() - t0

    # -- checked operations ------------------------------------------------

    def fail(self, what: str, err: str) -> None:
        self.ops.append({"op": what, "ok": False, "error": err[:500]})

    def passed(self, what: str) -> None:
        self.ops.append({"op": what, "ok": True})

    def check_doc_count(self, what: str, index_dir: str, want: int) -> None:
        """``check_index`` must pass and count exactly the docs ingested."""
        from lucene_spark.index.checkindex import check_index

        if self.corrupt:
            want += 1
        try:
            with self.phase("check_index"):
                got = check_index(self.spark, index_dir)["doc_count"]
        except Exception as e:  # CheckIndexError or a Spark failure
            self.fail(what, f"check_index: {e}")
            return
        if got != want:
            self.fail(what, f"check_index doc_count {got} != {want} ingested")
        else:
            self.passed(what)

    # -- queries -----------------------------------------------------------

    def query(self, searcher, spec: dict, timed: bool) -> dict:
        """Run one query: the search call, then the action that fetches
        its results. Records latency and, when tracing, its layers."""
        rec = {"spec": spec}
        mark = self.store.mark() if self.store else None
        expanded = self.layers.get("expansion_terms", 0)
        t0 = time.perf_counter()
        try:
            df = queries.execute(searcher, spec)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
        except Exception as e:
            rec["error"] = f"{type(e).__name__}: {e}"
            rec["latency_s"] = time.perf_counter() - t0
            return rec
        rec.update(latency_s=t2 - t0, plan_s=t1 - t0, exec_s=t2 - t1,
                   got=[(int(r["docID"]), float(r["score"])) for r in rows])
        if self.store:
            from perfbench.trace import plan_metrics

            rec["expansion_terms"] = self.layers.get("expansion_terms", 0) - expanded
            rec["stages"] = self.store.since(mark)
            t3 = time.perf_counter()
            rec["plan"] = plan_metrics(df)
            if spec["kind"] == "bm25":
                stats = searcher.term_stats(spec["terms"])
                rec["df_sum"] = sum(s.df for s in stats.values())
            self.store.overhead_s += time.perf_counter() - t3
        if timed:
            self.queries.append(rec)
        return rec

    def sample_setup(self, index_dir: str, specs: list[dict], t_session: float):
        """Open a fresh searcher and answer a first query, several times."""
        from lucene_spark.search.engine import IndexSearcher

        self.layers["session.start_s"] = t_session
        self.wall["session"] = t_session
        with self.phase("setup"):
            for spec in specs[:SETUP_SAMPLES]:
                t0 = time.perf_counter()
                searcher = IndexSearcher(self.spark, index_dir)
                t1 = time.perf_counter()
                rec = self.query(searcher, spec, timed=False)
                self.setup.append({"open_s": t1 - t0, "first_s": rec["latency_s"],
                                   "rec": rec})
        return searcher

    def timed_queries(self, searcher, stream: list[dict], round_len: int) -> None:
        """Run ``stream`` in whole rounds of ``round_len`` queries until
        ``seconds`` have passed, so every run has the same class mix."""
        if self.store:
            _instrument_expansion(searcher, self.layers)
        cpu0 = host.tree_cpu_s()
        t0 = time.perf_counter()
        with self.phase("timed"):
            for i, spec in enumerate(stream):
                if i % round_len == 0 and time.perf_counter() - t0 >= self.seconds:
                    break
                self.query(searcher, spec, timed=True)
                self.timed_ops += 1
        self.timed_s += time.perf_counter() - t0
        self.timed_cpu_s += host.tree_cpu_s() - cpu0

    def verify_queries(self, oracle, recs: list[dict], label: str) -> None:
        with self.phase("verify"):
            self._verify_queries(oracle, recs, label)

    def _verify_queries(self, oracle, recs: list[dict], label: str) -> None:
        memo: dict[str, list] = {}
        for rec in recs:
            spec = rec["spec"]
            what = f"{label} {spec['cls']} {spec['text']!r}"
            if "error" in rec:
                self.fail(what, rec["error"])
                continue
            key = f"{spec['cls']}|{spec['text']}"
            if key not in memo:
                memo[key] = queries.expected(oracle, spec)
                if self.corrupt and memo[key]:
                    d, s = memo[key][0]
                    memo[key][0] = (d, s + 1.0)
            err = _rank_diff(memo[key], rec["got"], spec["text"])
            if err:
                self.fail(what, err)
            else:
                self.passed(what)

    # -- batch build -------------------------------------------------------

    def corpus(self, n_docs: int) -> tuple[str, pd.DataFrame]:
        with self.phase("inputs"):
            pdf = make_corpus(n_docs, self.seed)
            path = os.path.join(self.work, "source.parquet")
            pdf.to_parquet(path, index=False)
        return path, by_key(pdf)

    def oracle(self, contents: list[str]):
        from lucene_spark.oracle import OracleIndex

        with self.phase("oracle"):
            return OracleIndex(contents)

    def build(self, src: str, n_docs: int, out: str) -> dict:
        """One timed ``build_index`` over the source parquet, then its
        (untimed) ``check_index``."""
        from lucene_spark.index.builder import build_index

        mark = self.store.mark() if self.store else None
        cpu0 = host.tree_cpu_s()
        t0 = time.perf_counter()
        with self.phase("build"):
            manifest = build_index(self.spark, self.spark.read.parquet(src), out)
        build_s = time.perf_counter() - t0
        rec = {"build_s": build_s, "cpu_s": host.tree_cpu_s() - cpu0,
               "docs": n_docs, "phases": manifest["phases"],
               "src_bytes": os.path.getsize(src),
               "index_bytes": {p: du(os.path.join(out, p)) for p in INDEX_PARTS}}
        if self.store:
            rec["stages"] = self.store.since(mark)
        self.check_doc_count(f"build {out}", out, n_docs)
        return rec


def _rank_diff(expected, got, text: str) -> str | None:
    from lucene_spark.oracle import assert_rank_identical

    try:
        assert_rank_identical(expected, got, tol=1e-6, msg=text)
    except AssertionError as e:
        return str(e)
    return None


def _instrument_expansion(searcher, layers: dict) -> None:
    """Time ``expand_terms`` and count its output by wrapping the public
    method on this searcher instance (tracing only)."""
    inner = searcher.expand_terms
    layers.setdefault("expand_s", 0.0)
    layers.setdefault("expansion_terms", 0)

    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        out = inner(*args, **kwargs)
        layers["expand_s"] += time.perf_counter() - t0
        layers["expansion_terms"] += len(out)
        return out

    searcher.expand_terms = timed


# -- workloads -------------------------------------------------------------


def _query_workload(run: Run, t_session: float, pools_of, order=None) -> dict:
    n = run.size["docs"]
    src, pdf = run.corpus(n)
    idx = os.path.join(run.work, "index")
    build = run.build(src, n, idx)
    run.builds.append(build)
    oracle = run.oracle(pdf["content"].tolist())
    pools = pools_of(oracle, run.seed)
    searcher = run.sample_setup(idx, pools[0], t_session)
    # visible lag of a batch index: build, then the first answer over it
    build["visible_lag_s"] = (build["build_s"] + run.setup[0]["open_s"]
                              + run.setup[0]["first_s"])
    # one untimed query of each class first: JIT compilation and Spark's
    # generated-code cache settle here instead of in the first timed
    # queries, as they would in a long-running searcher
    with run.phase("warmup"):
        warm = [run.query(searcher, pool[-1], timed=False) for pool in pools]
    order = order or list(range(len(pools)))
    run.timed_queries(searcher, queries.stream(pools, 100_000, order), len(order))
    run.verify_queries(oracle, [s["rec"] for s in run.setup] + warm, "setup")
    run.verify_queries(oracle, run.queries, "query")
    return {}


def bm25_topk(run: Run, t_session: float) -> dict:
    return _query_workload(run, t_session, queries.bm25_pools, queries.BM25_ROUND)


def positional(run: Run, t_session: float) -> dict:
    out = _query_workload(run, t_session, queries.positional_pools)
    out["left_out"] = queries.LEFT_OUT
    return out


def build(run: Run, t_session: float) -> dict:
    """Batch builds of the seeded corpus, each into a fresh directory,
    each followed by check_index and NRT_QUERIES checked queries."""
    from lucene_spark.search.engine import IndexSearcher

    n = run.size["docs"]
    src, pdf = run.corpus(n)
    oracle = run.oracle(pdf["content"].tolist())
    pools = queries.bm25_pools(oracle, run.seed)
    checks = queries.stream(pools, 10_000, queries.BM25_ROUND)
    recs: list[dict] = []
    t_timed = 0.0
    i = 0
    while i == 0 or t_timed < run.seconds:
        out = os.path.join(run.work, f"index{i}")
        rec = run.build(src, n, out)
        t0 = time.perf_counter()
        searcher = IndexSearcher(run.spark, out)
        first = run.query(searcher, checks[i * (NRT_QUERIES + 1)], timed=False)
        rec["visible_lag_s"] = rec["build_s"] + time.perf_counter() - t0
        recs.append(first)
        for j in range(NRT_QUERIES):
            recs.append(run.query(searcher, checks[i * (NRT_QUERIES + 1) + 1 + j], timed=True))
        run.builds.append(rec)
        t_timed += rec["build_s"]
        run.timed_cpu_s += rec["cpu_s"]
        run.timed_ops += 1
        if i == 0:
            run.sample_setup(out, pools[0], t_session)
        shutil.rmtree(out, ignore_errors=True)
        i += 1
    run.timed_s = t_timed
    run.verify_queries(oracle, [s["rec"] for s in run.setup], "setup")
    run.verify_queries(oracle, recs, "query")
    return {}


def nrt_refresh(run: Run, t_session: float) -> dict:
    """Writes beside reads: each cycle lands a batch in the parquet inbox,
    ingests it with ``start_indexing_stream``, calls ``refresh``, reopens
    the searcher and answers queries over the new docs. The first cycle
    runs in a fresh process: its visible lag includes the JVM and
    Python-worker warm-up a newly started indexer pays."""
    from lucene_spark.search.engine import IndexSearcher
    from lucene_spark.streaming.incremental import refresh, start_indexing_stream

    inbox = os.path.join(run.work, "inbox")
    landing = os.path.join(run.work, "landing")
    idx = os.path.join(run.work, "nrt")
    ckpt = os.path.join(run.work, "checkpoint")
    os.makedirs(inbox)
    os.makedirs(landing)
    batch = run.size["nrt_batch"]
    batches: list[pd.DataFrame] = []
    cycles: list[dict] = []
    pools = None
    while not cycles or run.timed_s < run.seconds:
        c = len(cycles)
        with run.phase("inputs"):
            pdf = make_corpus(batch, run.seed, start=c * batch, tag="n")
            name = f"batch-{c:06d}.parquet"
            pdf.to_parquet(os.path.join(landing, name), index=False)
        batches.append(by_key(pdf))
        if pools is None:  # queries over the first batch's vocabulary
            pools = queries.bm25_pools(run.oracle(batches[0]["content"].tolist()), run.seed)
            follow = queries.stream(pools, 10_000, queries.BM25_ROUND)
        dir_before = du(idx)
        mark = run.store.mark() if run.store else None
        cpu0 = host.tree_cpu_s()
        with run.phase("timed"):
            t_land = time.perf_counter()
            os.rename(os.path.join(landing, name), os.path.join(inbox, name))
            stream_df = run.spark.readStream.schema(SCHEMA).parquet(inbox)
            start_indexing_stream(run.spark, stream_df, idx,
                                  checkpoint_dir=ckpt).awaitTermination()
            t_ingest = time.perf_counter()
            if run.store:
                stages = {"ingest": run.store.since(mark)}
                mark = run.store.mark()
            t_refresh = time.perf_counter()
            manifest = refresh(run.spark, idx)
            t_open = time.perf_counter()
            if run.store:
                stages["refresh"] = run.store.since(mark)
            searcher = IndexSearcher(run.spark, idx)
            first = run.query(searcher, pools[0][c % len(pools[0])], timed=False)
            t_answer = time.perf_counter()
            recs = [run.query(searcher, follow[c * NRT_QUERIES + j], timed=True)
                    for j in range(NRT_QUERIES)]
            run.timed_s += time.perf_counter() - t_land
        run.timed_cpu_s += host.tree_cpu_s() - cpu0
        run.timed_ops += 1
        cycles.append({
            "visible_lag_s": t_answer - t_land, "ingest_s": t_ingest - t_land,
            "refresh_s": t_open - t_refresh, "docs": batch,
            "bytes_written": du(idx) - dir_before,
            "batch_bytes": os.path.getsize(os.path.join(inbox, name)),
            "live_gens": manifest.get("num_gens", 0),
            "stages": stages if run.store else None,
            "recs": [first] + recs,
        })
        run.check_doc_count(f"nrt refresh {c + 1}", idx, (c + 1) * batch)
    run.builds.extend(cycles)
    run.sample_setup(idx, pools[0][1:], t_session)

    last = run.oracle(pd.concat(batches)["content"].tolist())
    run.verify_queries(last, [s["rec"] for s in run.setup], "setup")
    for c, cyc in enumerate(cycles):
        oracle = last if c == len(cycles) - 1 else run.oracle(
            pd.concat(batches[: c + 1])["content"].tolist())
        run.verify_queries(oracle, cyc["recs"], f"cycle {c + 1}")
    index_bytes = {p: du(os.path.join(idx, p)) for p in INDEX_PARTS}
    inbox_bytes = sum(c["batch_bytes"] for c in cycles)
    return {"index_bytes": index_bytes, "src_bytes": inbox_bytes}


WORKLOADS = {
    "build": build,
    "bm25_topk": bm25_topk,
    "positional": positional,
    "nrt_refresh": nrt_refresh,
}

