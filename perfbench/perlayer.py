"""Per-layer metrics of a traced run.

Sources: the benchmark's own spans around calls into each module, the
in-process replay of the per-document engine (layers.py), the Spark event
log (eventlog.py), the streaming query's progress reports and the host
record.  A layer the workload does not run reports 0.
"""

from __future__ import annotations

import statistics

from perfbench import config, eventlog, gen, layers
from perfbench.harness import median, sample_rows

# name → unit, in the order BENCHMARK.json lists them
PER_LAYER = {
    "session.spark_start_s": "s",
    "session.worker_warmup_s": "s",
    "sources.generate_s": "s",
    "extract.s_per_doc": "s",
    "frontends.js.parse.s_per_doc": "s",
    "cpg.lower_js.self_s_per_doc": "s",
    "cpg.typerec.s_per_doc": "s",
    "cpg.passes.s_per_doc": "s",
    "cpg.cfg.s_per_doc": "s",
    "cpg.dominators.s_per_doc": "s",
    "cpg.reachingdef.s_per_doc": "s",
    "cpg.nodes_per_doc": "count",
    "cpg.edges_per_doc": "count",
    "cpg.inproc_docs_per_s": "docs/s",
    "query.scan.match_s_per_doc": "s",
    "query.scan.findings_per_doc": "count",
    "query.scan.tail_time_share": "ratio",
    "query.scan.repeat_s_per_doc": "s",
    "query.scan.repeat_match_share": "ratio",
    "cpg.spark_build.rows_s_per_doc": "s",
    "cpg.spark_build.rows_per_doc": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_bytes_sent": "bytes",
    "spark.python_bytes_returned": "bytes",
    "spark.scan_task_skew": "ratio",
    "spark.udf_crossing_share": "ratio",
    "spark.parallel_efficiency": "ratio",
    "spark.cached_rdds_delta": "count",
    "dataflow.reachable.s": "s",
    "dataflow.reachable.rounds": "count",
    "dataflow.reachable.jobs_per_round": "count",
    "dataflow.reachable.new_per_joined_row": "ratio",
    "query.crosspage.summaries_s": "s",
    "query.crosspage.closure_s": "s",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.sink_s": "s",
    "streaming.state_commit_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "streaming.rows_dropped_by_watermark": "count",
    "streaming.batches": "count",
    "streaming.nonempty_batch_share": "ratio",
    "streaming.scan_tasks_per_batch": "count",
    "loadgen.late_max_s": "s",
    "loadgen.backlog_files_end": "count",
    "pipeline.dedup.minhash_s": "s",
    "pipeline.dedup.lsh_pairs_s": "s",
    "pipeline.dedup.clusters_s": "s",
    "pipeline.dedup.lsh_precision": "ratio",
    "pipeline.clean.s": "s",
    "pipeline.similarity.pairs_s": "s",
    "error_share": "ratio",
    "mem.peak_rss_mb": "MiB",
    "host.steal_pct": "%",
    "host.idle_pct": "%",
    "host.loadavg_1m": "count",
    "host.nproc": "count",
    "host.cpu_control_iters_per_s": "1/s",
    "trace.overhead_share": "ratio",
    "trace.cpg_wrapper_overhead_share": "ratio",
}

_SPARK_SUMS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
               "python_bytes_sent", "python_bytes_returned")


def _spans(tr, name: str) -> list[float]:
    return [s["end"] - s["start"] for s in tr.spans if s["name"] == name]


def collect(ctx, wl, m: dict, untraced: dict, host: dict) -> dict:
    """Every PER_LAYER metric for this run (0 for layers not exercised).
    `m` holds the traced run's end-to-end metrics, `untraced` those of the
    same invocation's untraced baseline."""
    tr = ctx.tracer
    out = {k: 0.0 for k in PER_LAYER}
    out["session.spark_start_s"] = tr.duration("session.spark_start")
    out["session.worker_warmup_s"] = tr.duration("session.worker_warmup")
    out["sources.generate_s"] = median(_spans(tr, "sources.generate"))
    out["error_share"] = m["error_share"]
    out["mem.peak_rss_mb"] = m["mem.peak_rss_mb"]

    cpg = layers.cpg_layers(wl.sample_pages(ctx), "scan")
    out.update({k: v for k, v in cpg.items() if k in PER_LAYER})
    out["trace.cpg_wrapper_overhead_share"] = cpg["_wrapper_overhead_share"]

    groups = eventlog.summarize(eventlog.read_events(ctx.eventlog_dir))
    w = ctx.workload
    if w == "stream_windows":
        _stream(out, wl, groups)
        kernel_docs = wl.committed_pages_all
        arrow_s = sum(eventlog.arrow_stage_run_s(g) for d, g in groups.items()
                      if _batch_id(d) >= wl.first_timed_batch)
        # traced against untraced latency
        out["trace.overhead_share"] = m["latency_p50_s"] / untraced["latency_p50_s"] - 1.0
    else:
        iters = range(len(wl.iteration_s))
        per_iter = [eventlog.merge(groups, f"bench:{w}:iter{i}:") for i in iters]
        for k in _SPARK_SUMS:
            out[f"spark.{k}"] = statistics.mean(g[k] for g in per_iter)
        skews = [eventlog.arrow_stage_skew(g) for g in per_iter]
        out["spark.scan_task_skew"] = median(s for s in skews if s is not None)
        out["spark.cached_rdds_delta"] = statistics.mean(wl.cached_delta)
        kernel_docs = wl.docs()
        arrow_s = median(eventlog.arrow_stage_run_s(g) for g in per_iter)
        # traced against untraced throughput
        out["trace.overhead_share"] = 1.0 - m["docs_per_s"] / untraced["docs_per_s"]
        tail, singles = wl.split_pages()
        out["query.scan.tail_time_share"] = layers.tail_time_share(
            tail, sample_rows(singles, ctx.seed, config.TRACE_SAMPLE), len(singles))
        out.update(layers.repeat_layers(
            [(r[1], r[3]) for r in gen.repeat_pages(ctx.seed, config.REPEAT_PAGES,
                                                     config.REPEAT_SNIPPETS)]))
        _probe(out, ctx, wl.probe, groups, tr)
    inproc = out["cpg.inproc_docs_per_s"]
    if inproc > 0 and arrow_s > 0:
        out["spark.udf_crossing_share"] = 1.0 - (kernel_docs / inproc) / arrow_s
        out["spark.parallel_efficiency"] = m["docs_per_s"] / (config.NPROC * inproc)
    out["host.steal_pct"] = host.get("vmstat_steal_pct") or 0.0
    out["host.idle_pct"] = host.get("vmstat_idle_pct") or 0.0
    out["host.loadavg_1m"] = host["loadavg"][0]
    out["host.nproc"] = host["nproc"]
    out["host.cpu_control_iters_per_s"] = host["cpu_control_iters_per_s"]
    return out


def _probe(out, ctx, probe, groups, tr):
    """Graph and corpus layers from the traced scan_batch run's layer probe
    (job descriptions 'bench:<w>:probe:*')."""
    prefix = f"bench:{ctx.workload}:probe:"
    reach = groups.get(prefix + "reach") or eventlog.merge({}, "")
    out["dataflow.reachable.s"] = median(_spans(tr, "probe:reach"))
    counts = probe["frontier_counts"]
    # counts: the initial frontier, one per round, then the result
    rounds = max(1, len(counts) - 2)
    out["dataflow.reachable.rounds"] = rounds
    out["dataflow.reachable.jobs_per_round"] = reach["jobs"] / rounds
    joined = reach["join_output_rows"]
    out["dataflow.reachable.new_per_joined_row"] = sum(counts[1:-1]) / joined if joined else 0.0
    summ = median(_spans(tr, "query.crosspage.summaries"))
    out["query.crosspage.summaries_s"] = summ
    out["query.crosspage.closure_s"] = median(_spans(tr, "probe:crosspage")) - summ
    for key, span in (("pipeline.dedup.minhash_s", "pipeline.dedup.minhash"),
                      ("pipeline.dedup.lsh_pairs_s", "pipeline.dedup.lsh_pairs"),
                      ("pipeline.dedup.clusters_s", "pipeline.dedup.clusters"),
                      ("pipeline.clean.s", "pipeline.clean"),
                      ("pipeline.similarity.pairs_s", "pipeline.similarity.pairs")):
        out[key] = median(_spans(tr, span))
    out["pipeline.dedup.lsh_precision"] = probe["lsh_precision"]
    rows = layers.cpg_layers(probe["graph_sample"], "rows")
    out["cpg.spark_build.rows_s_per_doc"] = rows["cpg.spark_build.rows_s_per_doc"]
    out["cpg.spark_build.rows_per_doc"] = rows["cpg.spark_build.rows_per_doc"]


def _stream(out, wl, groups):
    prog = wl.progress
    nonempty = [p for p in prog if p.get("numInputRows", 0) > 0]
    out["streaming.batches"] = len(prog)
    out["streaming.nonempty_batch_share"] = len(nonempty) / len(prog) if prog else 0.0
    dur = [p.get("durationMs", {}) for p in nonempty]
    out["streaming.trigger_s"] = median(d.get("triggerExecution", 0) / 1e3 for d in dur)
    out["streaming.add_batch_s"] = median(d.get("addBatch", 0) / 1e3 for d in dur)
    out["streaming.sink_s"] = median(wl.sink_s[wl.n_warm_sink:])
    ops = [p.get("stateOperators", []) for p in prog]
    out["streaming.state_commit_s"] = median(
        sum(o.get("commitTimeMs", 0) for o in op) / 1e3 for op in ops)
    if ops:
        out["streaming.state_rows"] = sum(o.get("numRowsTotal", 0) for o in ops[-1])
        out["streaming.state_mem_bytes"] = sum(o.get("memoryUsedBytes", 0) for o in ops[-1])
    out["streaming.rows_dropped_by_watermark"] = sum(
        o.get("numRowsDroppedByWatermark", 0) for op in ops for o in op)
    batch_groups = [g for d, g in groups.items() if _batch_id(d) >= wl.first_timed_batch]
    tasks = []
    for g in batch_groups:
        if g["stage_python_bytes"]:
            sid = max(g["stage_python_bytes"], key=g["stage_python_bytes"].get)
            tasks.append(len(g["stage_task_s"].get(sid, [])))
    out["streaming.scan_tasks_per_batch"] = median(tasks)
    n_batches = max(1, len(batch_groups))
    total = eventlog.merge({d: g for d, g in groups.items()
                            if _batch_id(d) >= wl.first_timed_batch}, "")
    for k in _SPARK_SUMS:
        out[f"spark.{k}"] = total[k] / n_batches
    skews = [eventlog.arrow_stage_skew(g) for g in batch_groups]
    out["spark.scan_task_skew"] = median(s for s in skews if s is not None)
    out["spark.cached_rdds_delta"] = wl.cached_delta_total
    out["loadgen.late_max_s"] = wl.loadgen["late_max_s"]
    out["loadgen.backlog_files_end"] = wl.loadgen["backlog_files_end"]


def _batch_id(desc: str) -> int:
    """Micro-batch id of a streaming job description ("... batch = N"), or -1."""
    tail = desc.rsplit("batch = ", 1)
    return int(tail[1].split()[0]) if len(tail) == 2 and tail[1].split() and \
        tail[1].split()[0].isdigit() else -1
