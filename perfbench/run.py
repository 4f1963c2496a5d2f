#!/usr/bin/env python3
"""CPG-engine benchmark.

    python3 perfbench/run.py --workload scan_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  The workload's inputs are generated from
the seed; the engine runs in this process as Spark local[nproc]; the
outputs are checked against an independent recomputation.  The last line
of standard output is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with `--trace 0`, the
per-layer metrics with `--trace 1`.  A fuller record of the run (host
state, spans, every metric) is written under `.perfbench_out/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORKLOAD_NAMES = ("scan_batch", "stream_windows")


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "joern_spark")) or \
            not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        _fail("run from the repository root: joern_spark/ and __spark_entry__.py not found")

    from perfbench import config, harness, host
    from perfbench.harness import Context
    from perfbench.trace import Tracer

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, config.WORK_DIR, run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host_rec = host.host_state()
    try:
        baseline = None
        if args.trace:
            # the run's own untraced baseline for trace.overhead_share: the
            # same workload and seed, in a session without the event log
            base = Context(args.workload, args.seed, args.seconds, False,
                           os.path.join(work, "baseline"), Tracer(run_id + "-baseline"))
            try:
                baseline, _ = run_workload(base)
            finally:
                harness.stop_session(base)
        tracer = Tracer(run_id)
        ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), work, tracer)
        sampler = host.RssSampler()
        sampler.start()
        try:
            record, wl = run_workload(ctx)
            record["jvm_exit"] = harness.stop_session(ctx)
        finally:
            sampler.stop()
            harness.stop_session(ctx)
        record["all_metrics"]["mem.peak_rss_mb"] = sampler.peak_mib
        if baseline is not None:
            from perfbench import perlayer
            record["all_metrics"].update(perlayer.collect(
                ctx, wl, record["all_metrics"], baseline["all_metrics"], host_rec))
            record["correct"] = record["correct"] and baseline["correct"]
            record["baseline"] = baseline
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["host"] = host_rec
    record["spans"] = tracer.spans
    return emit(args, record)


def run_workload(ctx) -> tuple[dict, object]:
    from perfbench import config, harness, host
    from perfbench.batch import ScanBatch
    from perfbench.harness import median, percentile
    from perfbench.stream import StreamWindows

    wl = StreamWindows() if ctx.workload == "stream_windows" else ScanBatch()
    tr = ctx.tracer
    t_setup = time.perf_counter()
    with tr.span("session.spark_start"):
        spark = harness.start_session(ctx)
    with tr.span("session.worker_warmup"):
        harness.warm_workers(spark)
    gen_s = []
    for k in range(config.GEN_REPEATS):
        t = time.perf_counter()
        with tr.span("sources.generate"):
            wl.generate(ctx, ctx.path(f"input{k}"))
        gen_s.append(time.perf_counter() - t)
    with tr.span("setup.warmup_call"):
        if ctx.workload == "stream_windows":
            wl.warmup(ctx)
        else:
            for k in range(wl.warmup_iterations):
                wl.iteration(ctx, -1 - k)
            wl.results.clear()
            wl.cached_delta.clear()
    setup_wall = time.perf_counter() - t_setup
    # generation is repeated; its median stands for it in setup_s
    setup_s = setup_wall - sum(gen_s) + median(gen_s)

    m: dict = {"setup_s": setup_s}
    if ctx.workload == "stream_windows":
        with tr.span("timed"):
            res = wl.measure(ctx)
        lat = res["latencies"]
        m["docs_per_s"] = res["committed_pages"] / res["wall_s"]
        m["latency_p50_s"] = percentile(lat, 50)
        m["latency_tail_s"] = percentile(lat, config.STREAM_TAIL_PERCENTILE)
        attempted = wl.docs()
        iter_times = []
        n_iter = 1
    else:
        with tr.span("timed"):
            iter_times = harness.timed_loop(ctx.seconds, lambda i: wl.iteration(ctx, i))
        n_iter = len(iter_times)
        m["docs_per_s"] = wl.docs() / median(iter_times)
        # every document of an iteration gets its result when the iteration
        # ends, so the per-document percentiles are those of the iterations
        m["latency_p50_s"] = median(iter_times)
        m["latency_tail_s"] = percentile(iter_times, config.BATCH_TAIL_PERCENTILE)
        attempted = wl.docs() * n_iter
    # what the run still holds once the JVM has collected its garbage:
    # unlike the peak, this does not depend on when the collector ran
    spark._jvm.System.gc()
    time.sleep(0.5)
    m["rss_after_gc_mb"] = host.descendants_rss_mib(os.getpid())
    with tr.span("check"):
        correct, failed_per, details = wl.check(ctx)
    failed = failed_per * n_iter
    if ctx.trace and ctx.workload == "scan_batch":
        from perfbench.batch import layer_probe
        with tr.span("layer_probe"):
            wl.probe, probe_ok, probe_details = layer_probe(ctx)
        correct = correct and probe_ok
        details["layer_probe"] = probe_details
    m["error_share"] = failed / attempted if attempted else 0.0
    record = {"workload": ctx.workload, "seed": ctx.seed, "seconds": ctx.seconds,
              "trace": int(ctx.trace), "correct": bool(correct), "attempted": attempted,
              "failed": failed, "check": details, "iterations": n_iter,
              "iteration_s": iter_times, "generate_s": gen_s, "all_metrics": m,
              "stream_batches": getattr(wl, "batches", None)}
    wl.iteration_s = iter_times
    return record, wl


def emit(args, record: dict) -> int:
    from perfbench import config

    out_dir = os.path.join(ROOT, config.OUT_DIR)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    m = record["all_metrics"]
    missing = [x["name"] for x in names if x["name"] not in m]
    if missing:
        _fail(f"metrics not produced: {missing}", 3)
    print("# host " + json.dumps(record["host"]))
    print(json.dumps({
        "correct": record["correct"],
        "attempted": int(record["attempted"]),
        "failed": int(record["failed"]),
        "metrics": {x["name"]: {"value": float(m[x["name"]]), "unit": x["unit"]} for x in names},
    }))
    return 0 if record["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
