"""Chat-native benchmark for poc_spark.

    python3 chatbench/run.py --workload chat_serve --seed 1 --seconds 5 --trace 0

Generates the workload's inputs from the seed, starts a warm Spark
session, drives the workload in a closed loop for --seconds (and for at
least the workload's fixed unit of work), checks every result, and
prints one JSON object as the last line of stdout: {"correct",
"attempted", "failed", "metrics"}. --trace 0 reports the end-to-end
metrics; --trace 1 runs the traced variant and reports the per-layer
metrics. The line before it holds the run's context: per-operation
latencies, failures, and the machine probes taken before and after.

Everything the run writes goes under .chatbench_run/ in the current
directory, which is removed at the end. See chatbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from chatbench import eventlog, gen, harness  # noqa: E402
from chatbench.workloads import WORKLOADS  # noqa: E402
from poc_spark import serve  # noqa: E402
from poc_spark.functions.chat_parse import parse_chat_lines  # noqa: E402
from poc_spark.sources.chat import read_chat_lines  # noqa: E402
from tools.machine_probe import np_gemm_gflops, spark_fixed_s  # noqa: E402

IMPORT_S = harness.since_process_start_s()  # interpreter start + imports

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)


def _machine(spark) -> dict:
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", "machine_probe")
    out = {"np_gemm_gflops": np_gemm_gflops(reps=2), "spark_fixed_s": spark_fixed_s(reps=1)}
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return out


def _warm_session(warm_path: str, warm_table: str):
    """A session that has served each endpoint once."""
    spark = harness.start_session()
    serve.analyze_network(spark, warm_path)
    serve.analyze_words_response(parse_chat_lines(read_chat_lines(spark, warm_path)))
    serve.upload_chats_response(spark, warm_path, warm_table)
    return spark


def _engine_layers(jobs, spans, n_ops: int) -> dict:
    """Spark-engine metrics over the jobs submitted inside "op" spans."""
    ops = [s for s in spans if s[0] == "op"]
    mine = [j for j in jobs if any(a <= j.submit_ms <= b for _, a, b in ops)]
    covered = sum(eventlog.covered_ms(mine, a, b) for _, a, b in ops) / 1000.0
    wall = sum(b - a for _, a, b in ops) / 1000.0
    per = max(n_ops, 1)
    return {
        "spark.jobs": len(mine) / per,
        "spark.stages": sum(j.stages for j in mine) / per,
        "spark.tasks": sum(j.tasks for j in mine) / per,
        "spark.job_covered_s": covered / per,
        "spark.driver_only_s": (wall - covered) / per,
        "spark.executor_cpu_s": sum(j.executor_cpu_s for j in mine) / per,
        "spark.shuffle_write_mb": sum(j.shuffle_write_bytes for j in mine) / 2**20 / per,
        "spark.spill_mb": sum(j.spill_bytes for j in mine) / 2**20 / per,
    }


def _label_layers(by_label: dict, tr, n_ops: int) -> dict:
    """Per-layer metrics read from jobs attributed to layer spans."""
    def jobs(label):
        return by_label.get(label, [])

    scans = len(tr.durations("sources.chat.scan"))
    graphs = len(tr.durations("operators.network.graph"))
    pageranks = max(len(tr.durations("operators.graph.pagerank")), 1)
    appends = tr.durations("operators.etl.append")
    per = max(n_ops, 1)
    return {
        "sources.chat.input_mb":
            sum(j.input_bytes for j in jobs("sources.chat.scan")) / 2**20 / max(scans, 1),
        "operators.network.exchanges":
            sum(j.exchanges for j in jobs("operators.network.graph")) / max(graphs, 1),
        "operators.network.shuffle_mb":
            sum(j.shuffle_write_bytes for j in jobs("operators.network.graph"))
            / 2**20 / max(graphs, 1),
        "operators.graph.pagerank_jobs":
            len(jobs("operators.graph.pagerank")) / pageranks,
        "operators.graph.shuffle_mb":
            sum(j.shuffle_write_bytes for j in jobs("operators.graph.pagerank"))
            / 2**20 / pageranks,
        "operators.etl.append_s": sum(appends) / max(len(appends), 1),
        "operators.etl.rows_written":
            tr.counts["operators.etl.rows_written"] / max(len(appends), 1),
        "plans.dispatch.chunked_calls": tr.counts["plans.dispatch.chunked_calls"] / per,
        "sources.storage.calls": tr.counts["sources.storage.calls"] / per,
        "sources.storage.carry_calls": tr.counts["sources.storage.carry_calls"] / per,
        "sources.storage.put_bytes": tr.counts["sources.storage.put_bytes"] / per,
    }


def _stream_layers(progress: list[dict]) -> dict:
    def phase(name):
        vals = [p["durations"].get(name, 0) for p in progress]
        return sum(vals) / len(vals) if vals else 0.0

    return {
        "streaming.batches": len(progress),
        "streaming.addBatch_ms": phase("addBatch"),
        "streaming.walCommit_ms": phase("walCommit"),
        "streaming.commitOffsets_ms": phase("commitOffsets"),
        "streaming.queryPlanning_ms": phase("queryPlanning"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)

    work = os.path.join(os.getcwd(), ".chatbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_dir = os.path.join(work, "eventlog") if traced else None
    harness.configure_env(work, event_dir)
    prepare, run = WORKLOADS[args.workload]
    try:
        rng = random.Random(f"{args.workload}:{args.seed}")
        data = prepare(rng, work)
        warm_path = os.path.join(work, "warm.txt")
        gen.warm_chat(random.Random(f"warm:{args.seed}"), warm_path)

        t0 = time.perf_counter()
        spark = _warm_session(warm_path, os.path.join(work, "warm_table"))
        session_s = time.perf_counter() - t0
        try:
            before = _machine(spark)
            tr = None
            if traced:
                from chatbench.trace import Tracer, stream_listener

                tr = Tracer(spark)
                tr.instrument()
                if args.workload == "stream_ingest":
                    tr.listener = stream_listener(spark)
            res = run(spark, data, args.seconds, tr)
            after = _machine(spark)
        finally:
            harness.stop_session(spark)

        n_ops = len(res.latencies)
        if traced:
            jobs = eventlog.read_jobs(eventlog.find_log(event_dir))
            layers = dict(res.layers)
            layers.update(_engine_layers(jobs, tr.spans, n_ops))
            layers.update(_label_layers(eventlog.attribute(jobs, tr.spans), tr, n_ops))
            if tr.listener is not None:
                layers.update(_stream_layers(eventlog.parse_progress(tr.listener.progress)))
            op_wall = sum(tr.durations("op"))
            layers["trace.overhead_ratio"] = res.wall_s / op_wall if op_wall else 0.0
            layers["trace.op_p50_s"] = statistics.median(res.latencies)
            layers["process.peak_rss_mb"] = res.peak_rss_mb
            # a layer this workload never calls did no work: 0
            metrics = {m["name"]: {"value": layers.get(m["name"], 0), "unit": m["unit"]}
                       for m in SPEC["per_layer"]}
        else:
            lat = res.latencies[:res.percentile_ops]
            values = {
                "setup_s": IMPORT_S + session_s,
                "latency_p50_s": statistics.median(lat),
                "latency_p90_s": harness.lower_quantile(lat, 0.9),
                "wall_s": res.unit_s,
                "throughput_rows_per_s": res.unit_rows / res.unit_s,
                "cpu_s": res.unit_cpu_s,
                "success_rate": 1.0 - res.failed / max(res.attempted, 1),
            }
            metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                       for m in SPEC["end_to_end"]}
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only if no other run is using it
        except OSError:
            pass

    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "operations": n_ops, "error_rate": res.failed / max(res.attempted, 1),
        "peak_rss_mb": res.peak_rss_mb,
        "errors": res.errors,
        "ops": [[lbl, round(t, 4)] for lbl, t in zip(res.labels, res.latencies)],
        "session_start_s": session_s, "import_s": IMPORT_S,
        "cpus": harness.cpu_count(), "machine_before": before, "machine_after": after,
    }
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
