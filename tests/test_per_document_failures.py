"""Per-document consumers under failure: a good page and a page whose
build throws (RecursionError on pathological nesting) share one batch.

Each consumer's good-page rows must equal the same per-page work done in
this process, and the failing page must show that consumer's own failure
behaviour: scan emits one `<parse-error>` row, the CPG build, slicing and
the flow job skip the page.  The good page is unaffected either way.
"""

from __future__ import annotations

import json

import pytest

from joern_spark.cpg.build import build_cpg
from joern_spark.extract import extract_script_text

GOOD_URL = "https://a.example.com/good"
BOMB_URL = "https://a.example.com/bomb"
GOOD = (b"<html><body><script>"
        b"var p = location.search;\n"
        b"var q = p.substring(1);\n"
        b"function show(s) { document.write(s); }\n"
        b"show(q);\n"
        b"eval(q);\n"
        b"</script></body></html>")
BOMB = b"<script>" + b"(" * 8000 + b"</script>"


@pytest.fixture(scope="module")
def pages(spark):
    from pyspark.sql import functions as F

    return spark.createDataFrame(
        [(GOOD_URL, bytearray(GOOD)), (BOMB_URL, bytearray(BOMB))],
        "url string, html binary",
    ).withColumn("warc_ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))


def _good_cpg():
    return build_cpg(extract_script_text(GOOD.decode("utf-8", "replace")), GOOD_URL)


def test_bomb_page_fails_to_build():
    with pytest.raises(RecursionError):
        build_cpg(extract_script_text(BOMB.decode()), BOMB_URL)


def test_scan_findings_parse_error_row(pages):
    from joern_spark.query.cpgql import Q
    from joern_spark.query.scan import default_bundle, scan_findings

    got = sorted((r.url, r.query_name, r.n_matches, r.score)
                 for r in scan_findings(pages).collect())
    cpg = _good_cpg()
    q = Q(cpg)
    want = [(GOOD_URL, query.name, n, query.score) for query in default_bundle()
            for n in [int(query.matcher(cpg, q))] if n > 0]
    want.append((BOMB_URL, "<parse-error>", 1, 0.0))
    assert want[:-1], "the good page must match some query"
    assert got == sorted(want)


def test_build_cpg_tables_skips_failed_page(pages):
    from joern_spark.cpg.spark_build import build_cpg_tables, cpg_rows_for_document

    nodes, edges = build_cpg_tables(pages, persist=False)
    got_nodes = sorted(tuple(r) for r in nodes.collect())
    got_edges = sorted(tuple(r) for r in edges.collect())
    node_rows, edge_rows = cpg_rows_for_document(GOOD_URL, GOOD)
    assert got_nodes == sorted(node_rows)
    assert got_edges == sorted(edge_rows)


def test_data_flow_slices_skip_failed_page(pages):
    from joern_spark.dataflow.slicing import data_flow_slices, slice_for_call

    got = sorted((r.url, r.call_code, r.n_nodes, r.n_edges, tuple(r.node_codes))
                 for r in data_flow_slices(pages).collect())
    cpg = _good_cpg()
    want = []
    for c in cpg.nodes:
        if c.label == "CALL" and not c.name.startswith("<operator>"):
            nodes, edges = slice_for_call(cpg, c)
            want.append((GOOD_URL, c.code, len(nodes), len(edges),
                         tuple(sorted({n.code for n in nodes}))))
    assert want
    assert got == sorted(want)


def test_usage_slices_skip_failed_page(pages):
    from joern_spark.dataflow.slicing import usage_slice, usage_slices

    got = sorted((r.url, r.slice_json) for r in usage_slices(pages).collect())
    want = [(GOOD_URL, json.dumps(usage_slice(_good_cpg(), 1, False), sort_keys=True))]
    assert got == want


def test_flows_job_skips_failed_page(pages):
    from jobs.flow import flows_job
    from joern_spark.dataflow.engine import reachable_by_flows, result_pairs
    from joern_spark.query.cpgql import Q

    got = sorted((r.url, tuple(r.flow))
                 for r in flows_job(pages, ".*location.*", "eval.*").collect())
    cpg = _good_cpg()
    q = Q(cpg)
    sources = q.call().code(".*location.*").l()
    sinks = q.call().code("eval.*").l()
    want = sorted((GOOD_URL, tuple(f"{c} @ {ln}" for c, ln in result_pairs(cpg, f)))
                  for f in reachable_by_flows(cpg, sinks, sources))
    assert want
    assert got == want
