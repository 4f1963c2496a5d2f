"""Cross-document (site-level) taint flows.

A web site is many pages sharing one global namespace: a "library" page
defines `function getParam() { return location.search; }`, an "app" page
on the same domain calls `eval(getParam())`.  Neither page alone contains
a source-to-sink flow — the flow only exists across the document
boundary.

Scale design (the summarize-then-join interprocedural pattern): a single
narrow Arrow pass builds per-page SUMMARIES with the full per-document
engine —

- for every function a page defines: does its return value carry user
  input? (reachableBy from the web-source field reads to the RETURN
  nodes, dataflow/engine.py semantics)
- for every unresolved call a page makes: does the call's result reach
  an eval-family sink argument?

and the corpus layer joins the two small summary frames on
(domain, function name), def-page != call-page.  Blobs/HTML never pass a
shuffle; only the summary rows (a few per page) do — at 10^12 documents
the join keys are (domain, name), naturally partitioned by domain, and a
hot-domain skew salts exactly like the events pipeline (pipeline/skew.py).

The per-page summaries mirror Joern's reachableBy over each document;
the cross-page composition is this engine's site-level extension
(the reference models one project per CPG — cited deviation)."""

from __future__ import annotations

from urllib.parse import urlparse

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType, StringType, StructField, StructType,
)

from joern_spark.cpg.build import build_cpg
from joern_spark.cpg.docmap import map_documents
from joern_spark.dataflow.engine import reachable_by_flows
from joern_spark.extract import extract_script_text
from joern_spark.query.cpgql import Q
from joern_spark.query.scan import _web_sources

SUMMARY_SCHEMA = StructType([
    StructField("domain", StringType()),
    StructField("url", StringType()),
    StructField("kind", StringType()),       # 'def' | 'call'
    StructField("func_name", StringType()),
    StructField("tainted", BooleanType()),   # def: returns user input;
                                             # call: result reaches eval
])

# Extended summaries add 'wrap' rows for the transitive composition:
# func_name WRAPS callee_name (the result of an unresolved call to
# callee_name flows to func_name's RETURN).
SUMMARY_EXT_SCHEMA = StructType([
    StructField("domain", StringType()),
    StructField("url", StringType()),
    StructField("kind", StringType()),       # 'def' | 'call' | 'wrap'
    StructField("func_name", StringType()),
    StructField("callee_name", StringType()),  # wrap rows only, else null
    StructField("tainted", BooleanType()),
])

_EVAL_RE = "(eval|Function|execScript)"
_EVAL_NAMES = ("eval", "Function", "execScript")


def _unresolved_calls_by_name(cpg, q, defined: set[str], nodes=None):
    """CALL nodes grouped by callee name, skipping operators, locally
    defined functions and the eval family.  `nodes` restricts to a node
    subset (e.g. one method's body)."""
    by_name: dict[str, list] = {}
    pool = nodes if nodes is not None else q.call().l()
    for c in pool:
        if c.label != "CALL":
            continue
        name = c.name
        if (not name or name.startswith("<operator>") or name in defined
                or name in _EVAL_NAMES):
            continue
        by_name.setdefault(name, []).append(c)
    return by_name


# Per-page ceiling on wrap-edge dataflow tests: each (wrapper, callee)
# pair costs one reachable_by_flows run, so a pathological page with
# hundreds of functions × callees would spike one task quadratically.
# Past the cap the remaining pairs are SKIPPED and counted (an 'error'
# row kind='wrap_capped' at the corpus layer) — a capped page can only
# lose wrap edges, never invent them.
MAX_WRAP_PAIRS = 256


def summarize_page_ext(url: str, html: str,
                       with_wrap: bool = True,
                       max_wrap_pairs: int = MAX_WRAP_PAIRS,
                       _stats: dict | None = None) -> list[tuple]:
    """Per-page summary rows incl. wrap edges (pure function; also used
    by the fixture oracle generator).

    Returns (domain, url, kind, func_name, callee_name, tainted) with

    - kind='def': func_name's RETURN carries user input (reachableBy from
      the web-source field reads)
    - kind='call': the result of SOME call to func_name reaches an
      eval-family sink argument — all call nodes of a name are tested as
      one group
    - kind='wrap': func_name is defined here and its RETURN depends on the
      result of an unresolved call to callee_name (taint PASSES THROUGH)

    `_stats`, when passed, receives {"wrap_pairs": tested,
    "wrap_skipped": n} for the cap above.
    """
    domain = urlparse(url).netloc
    text = extract_script_text(html)
    cpg = build_cpg(text, url)
    q = Q(cpg)
    rows = []
    wrap_pairs = 0
    wrap_skipped = 0

    sources = _web_sources(q)
    defined = {m.name for m in cpg.methods()
               if not m.name.startswith((":", "<")) and not m.is_external}
    for m in cpg.methods():
        if m.name.startswith((":", "<")) or m.is_external:
            continue
        body = cpg.method_body_nodes(m)
        rets = [n for n in body if n.label == "RETURN"]
        tainted = bool(sources and rets
                       and reachable_by_flows(cpg, rets, sources))
        rows.append((domain, url, "def", m.name, None, tainted))
        if not with_wrap:
            continue  # single-hop callers skip the per-wrapper dataflow
        # wrap edges: callee result -> this function's return
        for callee, calls in _unresolved_calls_by_name(
                cpg, q, defined, nodes=body).items():
            if wrap_pairs >= max_wrap_pairs:
                wrap_skipped += 1
                continue
            wrap_pairs += 1
            wraps = bool(rets and reachable_by_flows(cpg, rets, calls))
            rows.append((domain, url, "wrap", m.name, callee, wraps))
    if _stats is not None:
        _stats["wrap_pairs"] = wrap_pairs
        _stats["wrap_skipped"] = wrap_skipped

    eval_args = [a for c in q.call().name(_EVAL_RE).l()
                 for a in cpg.arguments(c) if a.argument_index >= 1]
    # Group ALL call nodes by callee name and taint-test the whole group:
    # `var r = f(); log(r); var p = f(); eval(p);` must summarize f as
    # tainted even though only the SECOND call feeds eval.
    for name, calls in _unresolved_calls_by_name(cpg, q, defined).items():
        tainted = bool(eval_args
                       and reachable_by_flows(cpg, eval_args, calls))
        rows.append((domain, url, "call", name, None, tainted))
    return rows


def summarize_page(url: str, html: str) -> list[tuple]:
    """Per-page def/call summary rows — the shape the single-hop
    cross_page_flows and its fixture oracle consume.  Skips the wrap-edge
    dataflow analysis entirely (with_wrap=False): the single-hop query
    would only discard those rows, and each wrap edge costs a
    reachable_by_flows run per (wrapper, callee) pair."""
    return [(d, u, kind, name, tainted)
            for (d, u, kind, name, _callee, tainted)
            in summarize_page_ext(url, html, with_wrap=False)]


def _safe_domain(url) -> str:
    try:
        return urlparse(url).netloc
    except Exception:
        return ""


def page_flow_summaries(pages: DataFrame) -> DataFrame:
    """pages(url, html) → per-page def/call summary rows.  One narrow
    mapInPandas; no shuffle.

    A page whose summarization throws is DROPPED BUT COUNTED: it emits
    one kind='error' row (func_name='summarize_failed:<ExcType>',
    tainted=False) instead of vanishing silently — at corpus scale "how
    many pages failed to summarize" must be observable
    (`summary_error_counts`).  Every flow query filters on kind and/or
    tainted, so error rows never enter a result."""

    def failed(values, exc):
        url = values[0]
        return [(_safe_domain(url), url, "error",
                 f"summarize_failed:{type(exc).__name__}", False)]

    return map_documents(pages, summarize_page, SUMMARY_SCHEMA, on_error=failed)


def page_flow_summaries_ext(pages: DataFrame) -> DataFrame:
    """pages(url, html) → per-page def/call/wrap summary rows.  One
    narrow mapInPandas; no shuffle.

    Observability rows (kind='error', tainted=False; never match a flow
    query's kind/tainted filters):

    - func_name='summarize_failed:<ExcType>' — the page threw and was
      dropped from analysis (counted, not silent);
    - func_name='wrap_capped', callee_name=str(n_skipped) — the page hit
      MAX_WRAP_PAIRS and skipped n wrap-edge dataflow tests."""

    def page(url, html):
        st: dict = {}
        rows = summarize_page_ext(url, html, _stats=st)
        if st.get("wrap_skipped"):
            rows.append((_safe_domain(url), url, "error", "wrap_capped",
                         str(st["wrap_skipped"]), False))
        return rows

    def failed(values, exc):
        url = values[0]
        return [(_safe_domain(url), url, "error",
                 f"summarize_failed:{type(exc).__name__}", None, False)]

    return map_documents(pages, page, SUMMARY_EXT_SCHEMA, on_error=failed)


def summary_error_counts(summaries: DataFrame) -> DataFrame:
    """Corpus-level observability over summary error rows: one row per
    (func_name) error class with page count — pages_failed /
    pages_wrap_capped for a soak or campaign report.  One narrow filter
    + a tiny (error-classes-sized) aggregation."""
    return (summaries.where(F.col("kind") == "error")
            .groupBy(F.col("func_name").alias("error_class"))
            .agg(F.countDistinct("url").alias("n_pages")))


def cross_page_flows_transitive(pages: DataFrame,
                                max_hops: int = 16) -> DataFrame:
    """Site-level flows closed TRANSITIVELY over wrapper chains: page A
    defines `getParam` (returns user input), page B defines `buildUrl`
    wrapping it, page C defines `navTo` wrapping that, page D evals
    `navTo()` — no page pair contains the flow.

    Plan shape: ONE narrow Arrow pass builds the extended summaries
    (def/call/wrap rows, a few per page), persisted so the CPG-build UDF
    runs exactly once; the closure then runs on the SUMMARY GRAPH — nodes
    are (domain, function name), edges are tainted wrap rows — via the
    same iterative-join BFS as corpus reachability (reachable_pairs,
    k-limited like the engine's flow search).  The summary graph is
    corpus-scale tiny (functions shared across pages, not nodes), so the
    BFS rounds run in the broadcast regime; at 10^12 documents the frames
    stay proportional to DISTINCT (domain, func) — the blobs and CPGs
    never enter the iteration.

    Returns one row per (domain, origin_func, called_func): origin_func's
    definition carries user input on some page, and its value reaches an
    eval through a chain of wrap edges ending at called_func, which some
    page calls into eval."""
    from joern_spark.dataflow.reachable import reachable_pairs

    s = page_flow_summaries_ext(pages).persist()
    tainted_defs = (s.where((F.col("kind") == "def") & F.col("tainted"))
                    .select(F.col("domain").alias("url"),
                            F.col("func_name").alias("node_id")))
    eval_calls = (s.where((F.col("kind") == "call") & F.col("tainted"))
                  .select(F.col("domain").alias("url"),
                          F.col("func_name").alias("node_id")))
    # taint flows callee -> wrapper, and reachable_pairs walks BACKWARDS
    # from sinks along dst->src: src=callee, dst=wrapper
    wrap_edges = (s.where((F.col("kind") == "wrap") & F.col("tainted"))
                  .select(F.col("domain").alias("url"),
                          F.col("callee_name").alias("src"),
                          F.col("func_name").alias("dst"),
                          F.lit("REACHING_DEF").alias("label")))
    pairs = reachable_pairs(wrap_edges, tainted_defs, eval_calls,
                            max_iterations=max_hops)
    # reachable_pairs returns its (pair-sized) result persisted and
    # caller-owned — materialize the derived output, then release the
    # upstream caches so repeated calls in a long-lived session hold ONE
    # small cached frame (the returned one), not a chain per call.
    out = (pairs.select(F.col("url").alias("domain"),
                        F.col("source_id").alias("origin_func"),
                        F.col("sink_id").alias("called_func"))
           .distinct().persist())
    out.count()
    pairs.unpersist(blocking=False)
    s.unpersist(blocking=False)
    return out


def cross_page_flows(pages: DataFrame) -> DataFrame:
    """Site-level flows: (domain, func_name) where SOME page's definition
    returns user input and SOME OTHER page's call feeds that result into
    eval.  One row per (domain, func_name) with page counts and the
    number of cross-page (def_url, call_url) pairs.

    Plan shape: a SINGLE conditional aggregation over the summary rows —
    one shuffle on (domain, func_name) with map-side partials.  A
    def/call self-join would re-execute the CPG-build UDF once per
    branch, and collect_set would be unbounded on hot domains; distinct
    counting is not.  def and call URL sets are structurally disjoint
    (summarize_page never emits a call row for a name the same page
    defines), so n_cross_flows is exactly the product."""
    s = page_flow_summaries(pages)
    out = (s.where(F.col("tainted"))
           .groupBy("domain", "func_name")
           .agg(F.countDistinct(
                    F.when(F.col("kind") == "def", F.col("url")))
                .alias("n_source_pages"),
                F.countDistinct(
                    F.when(F.col("kind") == "call", F.col("url")))
                .alias("n_sink_pages")))
    return (out.where((F.col("n_source_pages") > 0)
                      & (F.col("n_sink_pages") > 0))
            .withColumn("n_cross_flows",
                        F.col("n_source_pages") * F.col("n_sink_pages")))
