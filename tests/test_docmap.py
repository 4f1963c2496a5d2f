"""The per-document kernel `cpg.docmap.map_documents` and the rule that
every per-page CPG loop goes through it."""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
HELPER = REPO / "joern_spark" / "cpg" / "docmap.py"
PAGE = "<html><body><script>eval(x); document.write(x);</script></body></html>"


def _pages(spark, html_type):
    from pyspark.sql import functions as F

    html = bytearray(PAGE.encode()) if html_type == "binary" else PAGE
    return spark.createDataFrame(
        [("https://a.example.com/p", html)], f"url string, html {html_type}",
    ).withColumn("warc_ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))


def test_string_html_equals_binary_html(spark):
    from joern_spark.cpg.spark_build import build_cpg_tables
    from joern_spark.query.scan import scan_findings

    got = {}
    for html_type in ("binary", "string"):
        pages = _pages(spark, html_type)
        findings = sorted((r.query_name, r.n_matches) for r in scan_findings(pages).collect())
        nodes, edges = build_cpg_tables(pages, persist=False)
        got[html_type] = (findings, nodes.count(), edges.count())
    findings, n_nodes, _ = got["binary"]
    assert ("<parse-error>", 1) not in findings and findings
    assert n_nodes > 0
    assert got["string"] == got["binary"]


def test_decode_html_accepts_binary_and_string():
    from joern_spark.cpg.docmap import decode_html

    assert decode_html(PAGE) == PAGE
    assert decode_html(bytearray(PAGE.encode())) == PAGE
    assert decode_html(b"\xffok") == "�ok"


def test_rows_frame_keeps_int64_exact_next_to_nulls():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from joern_spark.cpg.docmap import rows_frame

    schema = StructType([StructField("url", StringType()),
                         StructField("node_id", LongType())])
    big = 2 ** 62 + 1  # not representable in float64
    out = rows_frame([("u", big), ("u", None)], schema)
    assert out["node_id"].iloc[0] == big
    assert out["node_id"].isna().iloc[1]


def _calls(tree: ast.AST) -> set[str]:
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            names.add(f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", ""))
    return names


def test_per_document_loops_go_through_map_documents():
    """No `bytes(html)` decode and no function that runs build_cpg inside
    its own mapInPandas outside the helper: a new per-page consumer passes
    its per-page function to `map_documents` instead."""
    offenders = []
    for path in sorted([*(REPO / "joern_spark").rglob("*.py"), *(REPO / "jobs").rglob("*.py")]):
        if path == HELPER:
            continue
        src = path.read_text()
        rel = path.relative_to(REPO)
        if "bytes(html)" in src:
            offenders.append(f"{rel}: bytes(html)")
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if {"mapInPandas", "build_cpg"} <= _calls(node):
                    offenders.append(f"{rel}:{node.lineno} {node.name}: "
                                     "mapInPandas loop around build_cpg")
    assert not offenders, offenders
