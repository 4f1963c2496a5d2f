"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

Set PERFBENCH_SLOW=1 to also run one short traced benchmark run end to end
(about a minute; starts Spark).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, gen, host, stream  # noqa: E402
from perfbench.batch import bfs_pairs  # noqa: E402
from perfbench.harness import percentile  # noqa: E402
from perfbench.perlayer import PER_LAYER  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _files(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


# --- seeded inputs ---------------------------------------------------------

def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for k in ("a", "b"):
        gen.write_parquet(gen.scan_pages(7, 64), str(tmp_path / k / "pages"), 4)
        gen.write_parquet(gen.documents(7, 50), str(tmp_path / k / "docs"), 2,
                          gen.DOC_ARROW_SCHEMA)
        gen.write_embeddings(gen.embeddings(7, 40), str(tmp_path / k / "emb"), 2)
    for t in ("pages", "docs", "emb"):
        a, b = _files(tmp_path / "a" / t), _files(tmp_path / "b" / t)
        assert len(a) > 1 and a == b


def test_different_seed_changes_the_snippet_mix():
    a, b = gen.scan_layout(1, 200), gen.scan_layout(2, 200)
    assert a != b                                        # which snippets each page holds
    assert sorted(map(len, a)) != sorted(map(len, b))    # the size mix
    assert [r[4] for r in gen.scan_pages(1, 50)] != [r[4] for r in gen.scan_pages(2, 50)]
    assert [r[4] for r in gen.graph_pages(1, 40)] != [r[4] for r in gen.graph_pages(2, 40)]
    assert [r[4] for r in gen.chain_pages(1, 40)] != [r[4] for r in gen.chain_pages(2, 40)]
    assert [f[0][4] for f in gen.stream_pages(1, 10, 2)] != \
        [f[0][4] for f in gen.stream_pages(2, 10, 2)]
    assert [r[4] for r in gen.repeat_pages(1, 4, 48)] != [r[4] for r in gen.repeat_pages(2, 4, 48)]


def test_scan_pages_are_heavy_tailed_with_distinct_snippets():
    layout = gen.scan_layout(3, 500)
    sizes = [len(p) for p in layout]
    assert sizes.count(1) == 500 - round(500 * gen.config.SCAN_TAIL_FRACTION)
    assert max(sizes) > 20
    assert all(len(p) == len(set(p)) for p in layout)
    # single-snippet pages cover the pool evenly
    singles = [p[0] for p in layout if len(p) == 1]
    counts = [singles.count(j) for j in range(len(gen.SNIPPET_POOL))]
    assert max(counts) - min(counts) <= 1


def test_repeat_pages_repeat_snippets():
    pages = gen.repeat_pages(3, 4, 48)
    assert pages == gen.repeat_pages(3, 4, 48)
    for r in pages:
        script = r[4]
        found = [s for s in gen.SNIPPET_POOL if s in script]
        assert any(script.count(s) > 1 for s in found)


# --- event log -------------------------------------------------------------

def _task(stage, run_ms, cpu_ns, gc_ms, shuffle_read, shuffle_write, spill, accums):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": [{"ID": i, "Name": n, "Update": u, "Value": u}
                                           for i, n, u in accums]},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                             "JVM GC Time": gc_ms,
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                      "Local Bytes Read": shuffle_read},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_write},
                             "Memory Bytes Spilled": spill, "Disk Bytes Spilled": 0}}


SMALL_LOG = [
    {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 0, "sparkPlanInfo": {
         "nodeName": "BroadcastHashJoin", "metrics": [
             {"name": "number of output rows", "accumulatorId": 11, "metricType": "sum"}],
         "children": [{"nodeName": "MapInPandas", "children": [], "metrics": [
             {"name": "data sent to Python workers", "accumulatorId": 12, "metricType": "size"},
             {"name": "number of output rows", "accumulatorId": 13, "metricType": "sum"}]}]}},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.job.description": "bench:w:iter0:scan",
                    "spark.sql.execution.id": "0"}},
    _task(0, 100, 50_000_000, 5, 0, 300, 0,
          [(12, "data sent to Python workers", 1000), (13, "number of output rows", 7)]),
    _task(0, 300, 70_000_000, 0, 0, 200, 64,
          [(12, "data sent to Python workers", 3000), (13, "number of output rows", 9)]),
    _task(0, 200, 20_000_000, 0, 0, 0, 0,
          [(12, "data sent to Python workers", 500)]),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
    _task(1, 50, 10_000_000, 1, 500, 0, 0, [(11, "number of output rows", 4),
                                            (14, "data returned from Python workers", 77)]),
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
     "Properties": {}},
    _task(2, 999, 1, 1, 1, 1, 1, []),
]


def test_eventlog_sums_on_a_small_log(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in SMALL_LOG) + "\n")
    groups = eventlog.summarize(eventlog.read_events(str(tmp_path)))
    assert list(groups) == ["bench:w:iter0:scan"]   # jobs without a description are skipped
    g = groups["bench:w:iter0:scan"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 2, 4)
    assert g["executor_run_s"] == pytest.approx(0.65)
    assert g["executor_cpu_s"] == pytest.approx(0.15)
    assert g["gc_s"] == pytest.approx(0.006)
    assert (g["shuffle_read_bytes"], g["shuffle_write_bytes"], g["spill_bytes"]) == (500, 500, 64)
    assert g["python_bytes_sent"] == 4500
    assert g["join_output_rows"] == 4               # only the join node's rows
    assert eventlog.arrow_stage_skew(g) == pytest.approx(300 / 200)
    assert eventlog.arrow_stage_run_s(g) == pytest.approx(0.6)
    merged = eventlog.merge(groups, "bench:w:iter0:")
    assert merged["tasks"] == 4 and merged["stage_task_s"][0] == [0.1, 0.3, 0.2]


# --- metric names and the traced output ------------------------------------

def test_metric_names_and_units_are_well_formed():
    s = spec()
    names = [m["name"] for m in s["end_to_end"] + s["per_layer"]] + [w["name"] for w in s["workloads"]]
    assert len(names) == len(set(names))
    for m in s["end_to_end"] + s["per_layer"]:
        assert NAME_RE.match(m["name"]), m["name"]
        assert UNIT_RE.match(m["unit"]), m["unit"]
    for name in PER_LAYER:
        assert NAME_RE.match(name), name


def test_benchmark_json_per_layer_matches_the_traced_output():
    s = spec()
    assert [(m["name"], m["unit"]) for m in s["per_layer"]] == list(PER_LAYER.items())
    e2e = {m["name"] for m in s["end_to_end"]}
    assert "setup_s" in e2e
    assert all(m["bound"] <= 0.25 for m in s["end_to_end"])


def test_prediction_table_names_real_metrics_and_workloads():
    with open(os.path.join(ROOT, "perfbench", "predictions.json")) as f:
        pred = json.load(f)
    s = spec()
    assert set(pred["workloads"]) == {w["name"] for w in s["workloads"]}
    assert set(pred["end_to_end"]) == {m["name"] for m in s["end_to_end"]}
    named = [m for layer in pred["layers"] for m in layer["metrics"]]
    assert set(named) <= set(PER_LAYER)


def test_run_refuses_to_print_a_result_with_a_missing_metric(tmp_path, capsys):
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import run as run_mod
    record = {"correct": True, "attempted": 1, "failed": 0, "host": {},
              "all_metrics": {"docs_per_s": 1.0}}
    args = run_mod.parse_args(["--workload", "scan_batch", "--seed", "1",
                               "--seconds", "1", "--trace", "0"])
    saved = run_mod.ROOT
    os.makedirs(tmp_path / ".perfbench_out")
    with open(tmp_path / "BENCHMARK.json", "w") as f:
        json.dump(spec(), f)
    run_mod.ROOT = str(tmp_path)
    try:
        with pytest.raises(SystemExit) as e:
            run_mod.emit(args, record)
        assert e.value.code != 0
    finally:
        run_mod.ROOT = saved
    assert '"metrics"' not in capsys.readouterr().out


@pytest.mark.skipif(os.environ.get("PERFBENCH_SLOW") != "1", reason="starts Spark; set PERFBENCH_SLOW=1")
def test_traced_run_writes_every_per_layer_metric():
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "scan_batch",
                          "--seed", "5", "--seconds", "1", "--trace", "1"],
                         cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert [k for k in res["metrics"]] == list(PER_LAYER)


# --- helpers ----------------------------------------------------------------

def test_vmstat_columns_found_by_header_name():
    procps3 = """procs -----------memory---------- ---swap-- -----io---- -system-- ------cpu-----
 r  b   swpd   free   buff  cache   si   so    bi    bo   in   cs us sy id wa st
 2  0      0 14755344  62396 1369884    0    0   306   184  126  269  6  2 91  0  1
"""
    procps4 = """procs -----------memory---------- ---swap-- -----io---- -system-- -------cpu-------
 r  b   swpd   free   buff  cache   si   so    bi    bo   in   cs us sy id wa st gu
 1  0      0 1000000  2000  300000    0    0     1     2    3    4  5  6 80  1  7  0
"""
    assert (host.vmstat_columns(procps3)["id"], host.vmstat_columns(procps3)["st"]) == (91, 1)
    assert (host.vmstat_columns(procps4)["id"], host.vmstat_columns(procps4)["st"]) == (80, 7)


def test_self_time_subtracts_covered_child_time():
    tr = Tracer("t")
    tr.spans = [
        {"id": 0, "name": "p", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "c", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "c", "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "name": "g", "parent": 1, "start": 1.5, "end": 2.0},
    ]
    assert tr.self_time("p") == pytest.approx(6.0)
    assert tr.self_time("c") == pytest.approx(4.5)
    assert tr.duration("c") == pytest.approx(5.0)


def test_percentile_is_nearest_rank():
    xs = list(range(1, 43))             # 42 samples
    assert percentile(xs, 50) == 21
    assert percentile(xs, 75) == 32     # ten samples lie beyond it
    assert sum(1 for x in xs if x > percentile(xs, 75)) == 10


def test_bfs_pairs_walks_reaching_def_edges_backwards():
    edges = [("u", 1, 2), ("u", 2, 3), ("u", 4, 3), ("v", 1, 2)]
    assert bfs_pairs(edges, [("u", 1), ("u", 4), ("v", 9)], [("u", 3)]) == {("u", 1, 3), ("u", 4, 3)}
    assert bfs_pairs(edges, [("u", 1)], [("u", 3)], max_hops=1) == set()


def test_file_times_maps_source_offsets_to_micro_batches(tmp_path):
    cp = tmp_path
    for d in ("commits", "offsets", "sources/0"):
        (cp / d).mkdir(parents=True)
    meta = json.dumps({"batchWatermarkMs": 0})
    # batch 0 reads source offset 0, batch 1 is a no-data batch, batch 2
    # reads offset 1, batch 3 (offset 2) has not committed
    for b, off in ((0, 0), (1, 0), (2, 1), (3, 2)):
        (cp / "offsets" / str(b)).write_text(f"v1\n{meta}\n{json.dumps({'logOffset': off})}\n")
    for b, t in ((0, 100.0), (1, 110.0), (2, 120.0)):
        (cp / "commits" / str(b)).write_text("v1\n{}\n")
        os.utime(cp / "commits" / str(b), (t, t))
    entries = [("a", 0), ("b", 1), ("c", 1), ("d", 2)]
    (cp / "sources" / "0" / "1").write_text("v1\n" + "\n".join(
        json.dumps({"path": f"file:///x/{n}.parquet", "timestamp": 0, "batchId": o})
        for n, o in entries) + "\n")
    assert stream.file_times(str(cp)) == {"a.parquet": 100.0, "b.parquet": 120.0,
                                          "c.parquet": 120.0}
    for b, t in ((0, 90.0), (1, 105.0), (2, 112.0), (3, 125.0)):
        os.utime(cp / "offsets" / str(b), (t, t))
    assert stream.file_times(str(cp), "offsets") == {"a.parquet": 90.0, "b.parquet": 112.0,
                                                     "c.parquet": 112.0, "d.parquet": 125.0}


def test_bare_checkout_exits_nonzero_without_a_result(tmp_path):
    import shutil
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "scan_batch",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout.strip() == ""
