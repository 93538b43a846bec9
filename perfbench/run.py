"""Benchmark of ``lucene_spark``: seeded workloads, checked answers,
end-to-end metrics (``--trace 0``) or per-layer metrics (``--trace 1``).

    python3 perfbench/run.py --workload bm25_topk --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. The
lines before it name every metric with its unit, the host, and each
failed operation with its cause. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()  # before pyspark is imported

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

from perfbench import host  # noqa: E402

# name -> unit; the contract metrics, in BENCHMARK.json order
END_TO_END = {
    "setup_s": "s",
    "query_p50_s": "s",
    "visible_lag_p50_s": "s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_source_byte": "ratio",
    "cpu_s_per_op": "s",
    "queries_per_s": "1/s",
}

BUILDER_PHASES = ("shuffle_docs", "invert_write", "docmap_write", "terms_agg",
                  "postings_write", "terms_write")

PER_LAYER = {
    "session.start_s": "s", "engine.open_s": "s", "engine.first_query_s": "s",
    "engine.plan_s": "s", "engine.exec_s": "s",
    "engine.expand_s": "s", "engine.expansion_terms": "count",
    "spark.jobs_per_query": "count", "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count", "spark.scans_per_query": "count",
    "spark.task_cpu_s_per_query": "s", "spark.scan_bytes_per_query": "B",
    "spark.blocks_scanned_per_query": "count",
    "engine.blocks_decoded_per_query": "count",
    "engine.postings_decoded_per_query": "count", "engine.decoded_per_df": "ratio",
    "python.boot_init_s_per_query": "s", "python.exec_s_per_query": "s",
    "arrow.bytes_to_python_per_query": "B", "arrow.bytes_from_python_per_query": "B",
    "spark.shuffle_bytes_per_query": "B", "spark.broadcast_bytes_per_query": "B",
    **{f"builder.{p}_s": "s" for p in BUILDER_PHASES},
    "build.task_cpu_s": "s", "build.python_exec_s": "s",
    "build.python_boot_init_s": "s", "build.gc_s": "s", "build.jobs": "count",
    "build.tasks": "count", "build.shuffle_write_bytes": "B", "build.spill_bytes": "B",
    "index.postings_bytes": "B", "index.terms_bytes": "B", "index.docmap_bytes": "B",
    "incremental.ingest_s": "s", "incremental.refresh_s": "s",
    "incremental.refresh_task_cpu_s": "s", "incremental.refresh_jobs": "count",
    "incremental.bytes_written_per_ingested_byte": "ratio",
    "incremental.live_gens": "count",
    "trace.overhead_s_per_op": "s",
}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def end_to_end(run, extra: dict) -> tuple[dict, dict]:
    """Every END_TO_END metric plus the per-workload extras printed in
    the summary (tail latency, failed fraction)."""
    lat = sorted(q["latency_s"] for q in run.queries if "error" not in q)
    builds = run.builds
    if "index_bytes" in extra:  # NRT: the live index over everything landed
        index_bytes, src_bytes = sum(extra["index_bytes"].values()), extra["src_bytes"]
    else:
        index_bytes = sum(builds[-1]["index_bytes"].values())
        src_bytes = builds[-1]["src_bytes"]
    indexing_s = sum(b.get("build_s", 0.0) + b.get("ingest_s", 0.0) + b.get("refresh_s", 0.0)
                     for b in builds)
    m = {
        "setup_s": run.layers["session.start_s"]
        + _median(s["open_s"] + s["first_s"] for s in run.setup),
        "query_p50_s": _median(lat),
        "visible_lag_p50_s": _median(b["visible_lag_s"] for b in builds),
        "build_docs_per_s": sum(b["docs"] for b in builds) / indexing_s,
        "index_bytes_per_source_byte": index_bytes / src_bytes,
        "cpu_s_per_op": run.timed_cpu_s / max(1, run.timed_ops),
        # closed loop, one client: queries per second spent querying
        "queries_per_s": len(lat) / sum(lat) if lat else 0.0,
    }
    info = {"queries": len(lat), "ops": run.timed_ops, "timed_s": run.timed_s}
    # highest percentile that still has >= 10 samples beyond it
    if len(lat) > 10:
        pct = int(100 * (len(lat) - 10) / len(lat))
        info["query_tail_s"] = float(np.quantile(lat, pct / 100))
        info["query_tail_pct"] = pct
    return m, info


def per_layer(run) -> dict:
    qs = [q for q in run.queries if "error" not in q and "plan" in q]
    n = max(1, len(qs))

    def per_query(get) -> float:
        return sum(get(q) for q in qs) / n

    bm25 = [q for q in qs if q.get("df_sum")]
    out = {
        "session.start_s": run.layers["session.start_s"],
        "engine.open_s": _median(s["open_s"] for s in run.setup),
        "engine.first_query_s": _median(s["first_s"] for s in run.setup),
        "engine.plan_s": per_query(lambda q: q["plan_s"]),
        "engine.exec_s": per_query(lambda q: q["exec_s"]),
        "engine.expand_s": run.layers.get("expand_s", 0.0) / n,
        "engine.expansion_terms": run.layers.get("expansion_terms", 0) / n,
        "spark.jobs_per_query": per_query(lambda q: q["stages"]["jobs"]),
        "spark.stages_per_query": per_query(lambda q: q["stages"]["stages"]),
        "spark.tasks_per_query": per_query(lambda q: q["stages"]["tasks"]),
        "spark.scans_per_query": per_query(lambda q: q["plan"]["scans"]),
        "spark.task_cpu_s_per_query": per_query(lambda q: q["stages"]["task_cpu_s"]),
        "spark.scan_bytes_per_query": per_query(lambda q: q["plan"]["scan_bytes"]),
        "spark.blocks_scanned_per_query": per_query(lambda q: q["plan"]["scan_rows"]),
        "engine.blocks_decoded_per_query": per_query(lambda q: q["plan"]["python_rows_in"]),
        "engine.postings_decoded_per_query": per_query(lambda q: q["plan"]["python_rows_out"]),
        "engine.decoded_per_df": (
            sum(q["plan"]["python_rows_out"] for q in bm25) / sum(q["df_sum"] for q in bm25)
            if bm25 else 0.0
        ),
        "python.boot_init_s_per_query": per_query(
            lambda q: q["plan"]["python_boot_s"] + q["plan"]["python_init_s"]),
        "python.exec_s_per_query": per_query(lambda q: q["plan"]["python_total_s"]),
        "arrow.bytes_to_python_per_query": per_query(lambda q: q["plan"]["arrow_bytes_to_python"]),
        "arrow.bytes_from_python_per_query": per_query(
            lambda q: q["plan"]["arrow_bytes_from_python"]),
        "spark.shuffle_bytes_per_query": per_query(lambda q: q["plan"]["shuffle_bytes"]),
        "spark.broadcast_bytes_per_query": per_query(lambda q: q["plan"]["broadcast_bytes"]),
    }
    batch = [b for b in run.builds if "phases" in b]
    for p in BUILDER_PHASES:
        out[f"builder.{p}_s"] = _median(b["phases"].get(p, 0.0) for b in batch)
    for key in ("task_cpu_s", "python_exec_s", "python_boot_init_s", "gc_s", "jobs",
                "tasks", "shuffle_write_bytes", "spill_bytes"):
        out[f"build.{key}"] = _median(b["stages"][key] for b in batch)
    for part in ("postings", "terms", "docmap"):
        out[f"index.{part}_bytes"] = _median(b["index_bytes"][part] for b in batch)
    cycles = [b for b in run.builds if "refresh_s" in b]
    out.update({
        "incremental.ingest_s": _median(c["ingest_s"] for c in cycles),
        "incremental.refresh_s": _median(c["refresh_s"] for c in cycles),
        "incremental.refresh_task_cpu_s": _median(
            c["stages"]["refresh"]["task_cpu_s"] for c in cycles),
        "incremental.refresh_jobs": _median(c["stages"]["refresh"]["jobs"] for c in cycles),
        "incremental.bytes_written_per_ingested_byte": (
            sum(c["bytes_written"] for c in cycles) / sum(c["batch_bytes"] for c in cycles)
            if cycles else 0.0
        ),
        "incremental.live_gens": cycles[-1]["live_gens"] if cycles else 0,
    })
    n_ops = len(run.queries) + len(run.builds)
    out["trace.overhead_s_per_op"] = run.store.overhead_s / max(1, n_ops)
    return out


def by_class(run) -> dict:
    """Per query class: count, median latency and, when traced, mean
    scans, jobs and expanded terms per query."""
    out = {}
    for q in run.queries:
        out.setdefault(q["spec"]["cls"], []).append(q)
    summary = {}
    for cls, qs in sorted(out.items()):
        ok = [q for q in qs if "error" not in q]
        row = {"n": len(qs), "p50_s": _median(q["latency_s"] for q in ok)}
        if ok and "plan" in ok[0]:
            row.update(
                scans=sum(q["plan"]["scans"] for q in ok) / len(ok),
                jobs=sum(q["stages"]["jobs"] for q in ok) / len(ok),
                expansion_terms=sum(q["expansion_terms"] for q in ok) / len(ok),
            )
        summary[cls] = row
    return summary


def main(argv=None) -> int:
    from perfbench.workloads import SIZES, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full",
                    help="toy: tiny inputs for the self-test")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: corrupt every expected answer")
    ap.add_argument("--report", help="also write the full report as JSON here")
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, "perfbench", ".work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host.configure(work)
    cpu0 = host.host_cpu()
    spark = None
    try:
        # a checkout without the package fails here, before any result
        from lucene_spark.session import get_spark
        from perfbench.workloads import Run

        spark = get_spark(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        t_session = time.perf_counter() - T_PROCESS
        facts = host.facts(spark)
        run = Run(spark, work, args.seed, args.seconds, bool(args.trace),
                  SIZES[args.size], args.corrupt_expected)
        extra = WORKLOADS[args.workload](run, t_session)
        e2e, info = end_to_end(run, extra)
        layers = per_layer(run) if args.trace else None
        facts["loadavg_end"] = list(os.getloadavg())
        facts["steal_frac"] = host.steal_frac(cpu0)
    finally:
        if spark is not None:
            host.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = [op for op in run.ops if not op["ok"]]
    metrics = layers if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    print(f"host: {json.dumps(facts)}")
    print(f"{args.workload} seed={args.seed}: " + ", ".join(
        f"{k}={v:.6g} {units[k]}" for k, v in metrics.items()))
    print(f"{args.workload} extra: " + ", ".join(f"{k}={v:.6g}" for k, v in info.items())
          + f", failed_frac={len(failed) / max(1, len(run.ops)):.6g}")
    for name, why in extra.get("left_out", {}).items():
        print(f"{args.workload} left out {name}: {why}")
    for op in failed:
        print(f"FAILED {op['op']}: {op['error']}")
    result = {
        "correct": not failed,
        "attempted": len(run.ops),
        "failed": len(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    if args.report:
        with open(args.report, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "seconds": args.seconds, "trace": args.trace, "host": facts,
                       "end_to_end": e2e, "extra": info, "per_layer": layers,
                       "wall_s": run.wall, "by_class": by_class(run),
                       "failed": failed, "result": result}, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
