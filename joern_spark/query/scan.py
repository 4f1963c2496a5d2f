"""Scan job: run the query bundle over every document → findings.

The Spark form of joern-scan (SURVEY.md §3c / §A20): each Query descriptor
mirrors querydb `Query.make` (name, score, a traversal); the scan maps each
document's CPG through every query inside ONE `mapInPandas` pass and emits
finding rows `(url, warc_ts, query_name, n_matches, score)` — the per-window
match counts the streaming job aggregates must equal the reference
suite's counts on the same corpus slice (BASELINE.json north_star).
"""

from __future__ import annotations

import re
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType, IntegerType, StringType, StructField, StructType, TimestampType,
)

from joern_spark.cpg.build import build_cpg
from joern_spark.cpg.core import Cpg
from joern_spark.cpg.docmap import decode_html, map_documents
from joern_spark.dataflow.engine import reachable_by_flows
from joern_spark.extract import extract_script_text
from joern_spark.query.cpgql import Q


class Query:
    """querydb-style descriptor (DangerousFunctions.scala:14-52 shape).
    ``evidence`` (optional) returns one node-list per match — the Finding
    evidence SARIF code flows are built from (query/sarif.py)."""

    def __init__(self, name: str, score: float,
                 matcher: Callable[[Cpg, Q], int],
                 evidence: "Callable[[Cpg, Q], list] | None" = None):
        self.name = name
        self.score = score
        self.matcher = matcher
        self.evidence = evidence

    def evidence_lists(self, cpg: Cpg, q: Q) -> "list[list]":
        if self.evidence is not None:
            return self.evidence(cpg, q)
        return []


def _taint(source_fn, sink_fn) -> Callable[[Cpg, Q], int]:
    def run(cpg: Cpg, q: Q) -> int:
        sources = source_fn(q)
        sinks = sink_fn(q)
        if not sources or not sinks:
            return 0
        return len(reachable_by_flows(cpg, sinks, sources))
    return run


def _taint_evidence(source_fn, sink_fn):
    def run(cpg: Cpg, q: Q) -> list:
        sources = source_fn(q)
        sinks = sink_fn(q)
        if not sources or not sinks:
            return []
        return reachable_by_flows(cpg, sinks, sources)
    return run


def _node_evidence(node_fn):
    def run(cpg: Cpg, q: Q) -> list:
        return [[n] for n in node_fn(q)]
    return run


def default_bundle() -> list[Query]:
    """The standing query bundle for web-page CPGs: taint + pattern
    queries in the style of the reference's querydb scanners."""
    return [
        Query("user-input-to-read", 8.0, _taint(
            lambda q: q.identifier("sz").l(),
            lambda q: q.call().code("read.*").l()),
              evidence=_taint_evidence(
                  lambda q: q.identifier("sz").l(),
                  lambda q: q.call().code("read.*").l())),
        Query("source-to-sink", 9.0, _taint(
            lambda q: q.call().code("source.*").l(),
            lambda q: q.call().code("sink.*").argument().l()),
              evidence=_taint_evidence(
                  lambda q: q.call().code("source.*").l(),
                  lambda q: q.call().code("sink.*").argument().l())),
        Query("literal-to-call-arg", 3.0, _taint(
            lambda q: q.literal().l(),
            lambda q: q.call().code("(sink|fn|foo).*").argument().l()),
              evidence=_taint_evidence(
                  lambda q: q.literal().l(),
                  lambda q: q.call().code("(sink|fn|foo).*").argument().l())),
        Query("eval-like-call", 7.0,
              lambda cpg, q: q.call().name("(eval|Function|execScript)").size(),
              evidence=_node_evidence(
                  lambda q: q.call().name("(eval|Function|execScript)").l())),
        Query("document-write", 4.0,
              lambda cpg, q: q.call().code(r"document\.write\(.*").size(),
              evidence=_node_evidence(
                  lambda q: q.call().code(r"document\.write\(.*").l())),
        Query("dangerous-prop-assign", 5.0,
              lambda cpg, q: q.call().assignment().code(".*innerHTML.*").size(),
              evidence=_node_evidence(
                  lambda q: q.call().assignment().code(".*innerHTML.*").l())),
    ]


# ---------------------------------------------------------------------------
# Web-taint bundle: the portable querydb scanner *shapes* (tainted-sink
# patterns per SqlInjection.scala / CommandInjection.scala style from
# querydb/src/main/scala/io/joern/scanners/, re-targeted at browser JS —
# the reference ships no JS scanners, so these are net-new coverage with
# the same positive/negative embedded-example test methodology
# (CQueryTestSuite.scala:12-43)).
# ---------------------------------------------------------------------------

_CRED_RE = re.compile(r"(?i)(password|passwd|secret|api_?key|token|credential)")
_QUOTES = ('"', "'", "`")


def _web_sources(q: Q):
    """Browser user-input roots: field READS off the location/document/
    window globals (location.search, document.cookie, window.name) — the
    fieldAccess CALL nodes, per Joern web-taint practice.  Bare global
    identifiers are deliberately not used: an undeclared single-use base
    is a reaching-def lone identifier (ReachingDefProblem.scala:297-342)
    and carries no def-use edges by design."""
    return q.call().name_exact("<operator>.fieldAccess") \
        .code(r"(location|document|window)\..*").l()


def _real_args(nodes):
    # argumentIndex 0 is the receiver base — a `document`/`location` base
    # would otherwise be source AND sink and self-flag every call on it
    return [a for a in nodes if a.argument_index >= 1]


def _cmd_sinks(q: Q):
    return _real_args(
        q.call().name("(exec|execSync|execFile|spawn|system|popen)")
        .argument().l())


def _sql_sinks(q: Q):
    return _real_args(q.call().name("(query|execute)").argument().l())


_HTML_LHS_RE = re.compile(r".*\.(inner|outer)HTML$")


def _dom_xss_sinks(q: Q):
    # markup WRITES: LHS-anchored like _redirect_sinks (an innerHTML READ
    # on the RHS is not a sink)
    out = []
    for a in q.assignment().l():
        args = sorted((x for x in q.cpg.arguments(a)
                       if x.argument_index >= 1),
                      key=lambda x: x.argument_index)
        if len(args) >= 2 and _HTML_LHS_RE.match(args[0].code):
            out.extend(args[1:])
    out += _real_args(q.call().code(r"document\.write\(.*").argument().l())
    return out


_REDIRECT_LHS_RE = re.compile(r"(.*\.)?location\.(href|hash|search)$")


def _redirect_sinks(q: Q):
    # navigation-target WRITES: the LHS (argument 1) must be the location
    # field — matching the whole assignment code would also flag reads
    # like `var q = location.search`
    out = []
    for a in q.assignment().l():
        args = sorted((x for x in q.cpg.arguments(a)
                       if x.argument_index >= 1),
                      key=lambda x: x.argument_index)
        if len(args) >= 2 and _REDIRECT_LHS_RE.match(args[0].code):
            out.extend(args[1:])
    out += _real_args(q.call().name("(assign|replace)")
                      .code(r".*location\..*").argument().l())
    return out


def _regex_sinks(q: Q):
    return _real_args(
        q.call().name_exact("<operator>.new").code("new RegExp.*")
        .argument().l())


def _timeout_string_matches(cpg: Cpg, q: Q) -> list:
    """setTimeout/setInterval with a string first argument — the implicit
    eval form."""
    out = []
    for c in q.call().name("(setTimeout|setInterval)").l():
        first = [a for a in cpg.arguments(c) if a.argument_index == 1]
        if first and first[0].label == "LITERAL" \
                and first[0].code[:1] in _QUOTES:
            out.append(c)
    return out


def _hardcoded_cred_matches(cpg: Cpg, q: Q) -> list:
    """Credential-named assignment target with a non-empty string-literal
    source (the classic hardcoded-secret pattern; complements the
    ConfigPass private-key redaction)."""
    out = []
    for a in q.assignment().l():
        args = cpg.arguments(a)
        if len(args) >= 2 and _CRED_RE.search(args[0].code) \
                and args[1].label == "LITERAL" \
                and args[1].code[:1] in _QUOTES and len(args[1].code) > 2:
            out.append(a)
    return out


def _random_token_matches(cpg: Cpg, q: Q) -> list:
    """Math.random() reaching a credential-named assignment target —
    insecure randomness used for a secret."""
    sources = q.call().code(r"Math\.random\(.*").l()
    sinks = []
    for a in q.assignment().l():
        args = cpg.arguments(a)
        if len(args) >= 2 and _CRED_RE.search(args[0].code):
            sinks.extend(args[1:])
    if not sources or not sinks:
        return []
    return reachable_by_flows(cpg, sinks, sources)


def web_taint_bundle() -> list[Query]:
    return [
        Query("sql-injection", 9.0,
              _taint(_web_sources, _sql_sinks),
              evidence=_taint_evidence(_web_sources, _sql_sinks)),
        Query("command-injection", 9.0,
              _taint(_web_sources, _cmd_sinks),
              evidence=_taint_evidence(_web_sources, _cmd_sinks)),
        Query("dom-xss", 8.0,
              _taint(_web_sources, _dom_xss_sinks),
              evidence=_taint_evidence(_web_sources, _dom_xss_sinks)),
        Query("open-redirect", 6.0,
              _taint(_web_sources, _redirect_sinks),
              evidence=_taint_evidence(_web_sources, _redirect_sinks)),
        Query("regex-injection", 5.0,
              _taint(_web_sources, _regex_sinks),
              evidence=_taint_evidence(_web_sources, _regex_sinks)),
        Query("timeout-string-eval", 6.0,
              lambda cpg, q: len(_timeout_string_matches(cpg, q)),
              evidence=lambda cpg, q: [[n] for n in
                                       _timeout_string_matches(cpg, q)]),
        Query("hardcoded-credential", 5.0,
              lambda cpg, q: len(_hardcoded_cred_matches(cpg, q)),
              evidence=lambda cpg, q: [[n] for n in
                                       _hardcoded_cred_matches(cpg, q)]),
        Query("insecure-random-token", 4.0,
              lambda cpg, q: len(_random_token_matches(cpg, q)),
              evidence=lambda cpg, q: _random_token_matches(cpg, q)),
    ]


FINDINGS_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("query_name", StringType()),
    StructField("n_matches", IntegerType()),
    StructField("score", DoubleType()),
])


def scan_page(url: str, html: str,
              queries: list[Query]) -> tuple[Cpg, list[tuple[Query, int]]]:
    """One page through the bundle: its CPG and every (query, n_matches)
    with n_matches > 0.  Raises when the page fails to build or match."""
    cpg = build_cpg(extract_script_text(html), url)
    q = Q(cpg)
    hits = []
    for query in queries:
        n = int(query.matcher(cpg, q))
        if n > 0:
            hits.append((query, n))
    return cpg, hits


def _finding_rows(url, warc_ts, html: str, queries: list[Query]) -> list[tuple]:
    _cpg, hits = scan_page(url, html, queries)
    return [(url, warc_ts, query.name, n, query.score) for query, n in hits]


def _parse_error_rows(values: tuple, _exc: Exception) -> list[tuple]:
    url, warc_ts = values[:2]
    return [(url, warc_ts, "<parse-error>", 1, 0.0)]


def scan_findings(pages: DataFrame, bundle: list[Query] | None = None) -> DataFrame:
    """pages(url, warc_ts, html) → findings, one row per (url, query) with
    n_matches > 0, or one `<parse-error>` row for a page that fails.  One
    narrow Arrow pass; no shuffle."""
    queries = bundle if bundle is not None else default_bundle()
    return map_documents(
        pages, lambda url, warc_ts, html: _finding_rows(url, warc_ts, html, queries),
        FINDINGS_SCHEMA, cols=("url", "warc_ts", "html"), on_error=_parse_error_rows)


def scan_generated_pages(spark, n_docs: int, n_partitions: int | None = None,
                         seed: int = 42, late_fraction: float = 0.1,
                         bundle: list[Query] | None = None) -> DataFrame:
    """Synthetic-corpus scan with generation FUSED into the scan UDF: one
    spark.range → one mapInPandas.  Produces exactly the same findings rows
    as ``scan_findings(make_pages(...))`` (same generator, same bundle), but
    in the production plan shape — a single Python stage over the source —
    instead of two chained Python stages (generator UDF → JVM → scan UDF),
    which pays an extra Arrow round-trip a real parquet/Iceberg-backed pages
    table would never have.  This is the north-star throughput path."""
    from joern_spark.sources.corpus import page_for

    queries = bundle if bundle is not None else default_bundle()

    def page(i):
        url, ts, html, _text = page_for(int(i), seed, late_fraction)
        warc_ts = pd.Timestamp(ts, unit="s")
        try:
            return _finding_rows(url, warc_ts, decode_html(html), queries)
        except Exception as exc:
            return _parse_error_rows((url, warc_ts), exc)

    par = n_partitions or spark.sparkContext.defaultParallelism
    return map_documents(spark.range(n_docs, numPartitions=par), page,
                         FINDINGS_SCHEMA, cols=("id",))


def findings_report(findings: DataFrame) -> DataFrame:
    """joern-scan report shape (scan/package.scala:103-115): one line per
    finding, sorted by score descending."""
    from pyspark.sql import functions as F

    return (findings.where(F.col("query_name") != "<parse-error>")
            .select(
                F.col("score"), F.col("query_name"), F.col("url"),
                F.concat(F.lit("Result: "), F.col("score").cast("string"),
                         F.lit(" : "), F.col("query_name"), F.lit(": "),
                         F.col("n_matches").cast("string"), F.lit(" match(es) in "),
                         F.col("url")).alias("line"))
            .orderBy(F.desc("score"), F.asc("query_name"), F.asc("url")))


def findings_sarif(findings: DataFrame) -> str:
    """Minimal SARIF 2.1.0 document for a findings DataFrame (the reference
    exposes SARIF via semanticcpg SarifExtension; we emit the equivalent
    run/results shape).  Collects to the driver — intended for bounded
    report-sized outputs, not the full corpus."""
    import json

    rows = findings.collect()
    rules = sorted({r.query_name for r in rows if r.query_name != "<parse-error>"})
    return json.dumps({
        "version": "2.1.0",
        "$schema": "https://json.schemastore.org/sarif-2.1.0.json",
        "runs": [{
            "tool": {"driver": {
                "name": "joern-spark",
                "rules": [{"id": q} for q in rules],
            }},
            "results": [
                {
                    "ruleId": r.query_name,
                    "level": "error" if r.score >= 7 else "warning",
                    "message": {"text": f"{r.n_matches} match(es)"},
                    "locations": [{
                        "physicalLocation": {
                            "artifactLocation": {"uri": r.url}}}],
                }
                for r in rows if r.query_name != "<parse-error>"
            ],
        }],
    })
