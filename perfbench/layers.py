"""Per-document engine layers, timed in the benchmark process.

Spark's Python workers are separate processes, so wrappers installed here
never reach them.  Instead the traced run replays a seeded sample of the
workload's pages in this process, once plain (the single-thread baseline)
and once with every pass function wrapped as it is bound in
`joern_spark.cpg.build` (and `parse` as bound in `cpg.astlower`).
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from perfbench.batch import scan_page_inprocess
from perfbench.trace import Tracer

# pass function (as bound in joern_spark.cpg.build) → layer
PASS_LAYERS = {
    "lower_js": "cpg.lower_js",
    "run_type_recovery": "cpg.typerec",
    "create_namespaces": "cpg.passes",
    "create_type_decl_stubs": "cpg.passes",
    "create_method_stubs": "cpg.passes",
    "hint_this_identifiers": "cpg.passes",
    "register_types": "cpg.passes",
    "link_aliases": "cpg.passes",
    "link_field_accesses": "cpg.passes",
    "link_dynamic_calls": "cpg.passes",
    "link_calls": "cpg.passes",
    "add_cfg": "cpg.cfg",
    "add_dominators": "cpg.dominators",
    "add_cdg": "cpg.dominators",
    "add_reaching_defs": "cpg.reachingdef",
}

CPG_METRICS = (
    "extract.s_per_doc", "frontends.js.parse.s_per_doc",
    "cpg.lower_js.self_s_per_doc", "cpg.typerec.s_per_doc",
    "cpg.passes.s_per_doc", "cpg.cfg.s_per_doc", "cpg.dominators.s_per_doc",
    "cpg.reachingdef.s_per_doc", "cpg.nodes_per_doc", "cpg.edges_per_doc",
    "cpg.inproc_docs_per_s", "query.scan.match_s_per_doc",
    "query.scan.findings_per_doc", "cpg.spark_build.rows_s_per_doc",
    "cpg.spark_build.rows_per_doc",
)


@contextmanager
def patched(module, names: dict[str, str], tracer: Tracer):
    """Replace module attributes by span-recording wrappers for the scope."""
    saved = {n: getattr(module, n) for n in names}
    try:
        for n, layer in names.items():
            setattr(module, n, tracer.wrap(layer, saved[n]))
        yield
    finally:
        for n, fn in saved.items():
            setattr(module, n, fn)


def cpg_layers(pages: list[tuple[str, bytes]], kernel: str) -> dict:
    """Per-doc split of the engine on `pages` ((url, html) pairs).

    `kernel` names the per-document work the workload runs in Spark:
    'scan' (extract → CPG → query bundle) or 'rows' (cpg_rows_for_document).
    Layers the kernel does not run report 0."""
    import joern_spark.cpg.astlower as astlower
    import joern_spark.cpg.build as build
    import joern_spark.cpg.spark_build as spark_build
    from joern_spark.extract import extract_script_text
    from joern_spark.query.cpgql import Q
    from joern_spark.query.scan import default_bundle

    out = {k: 0.0 for k in CPG_METRICS}
    n = len(pages)
    if n == 0:
        return out
    bundle = default_bundle()
    run_kernel = scan_page_inprocess if kernel == "scan" else spark_build.cpg_rows_for_document

    # a short warm pass: the first pass over fresh code runs slower
    for url, html in pages[:8]:
        run_kernel(url, html)

    tr = Tracer("cpg-sample")
    nodes = edges = findings = 0
    plain_s = wrapped_s = 0.0
    for url, html in pages:
        # each page runs plain (the single-thread baseline), then wrapped;
        # pairing them per page keeps host drift out of the comparison
        t = time.perf_counter()
        run_kernel(url, html)
        plain_s += time.perf_counter() - t
        t = time.perf_counter()
        with patched(build, PASS_LAYERS, tr), \
                patched(astlower, {"parse": "frontends.js.parse"}, tr), \
                patched(spark_build, {"build_cpg": "cpg.build",
                                      "extract_script_text": "extract"}, tr):
            if kernel == "scan":
                with tr.span("extract"):
                    text = extract_script_text(bytes(html).decode("utf-8", "replace"))
                with tr.span("cpg.build"):
                    cpg = build.build_cpg(text, url)
                with tr.span("query.scan.match"):
                    q = Q(cpg)
                    findings += sum(1 for query in bundle if int(query.matcher(cpg, q)) > 0)
            else:
                with tr.span("cpg.spark_build.rows"):
                    node_rows, edge_rows = spark_build.cpg_rows_for_document(url, html)
        wrapped_s += time.perf_counter() - t
        if kernel == "scan":
            nodes, edges = nodes + len(cpg.nodes), edges + len(cpg.edges)
        else:
            nodes, edges = nodes + len(node_rows), edges + len(edge_rows)
    out["cpg.inproc_docs_per_s"] = n / plain_s
    out["_wrapper_overhead_share"] = wrapped_s / plain_s - 1.0
    out["extract.s_per_doc"] = tr.duration("extract") / n
    out["frontends.js.parse.s_per_doc"] = tr.duration("frontends.js.parse") / n
    out["cpg.lower_js.self_s_per_doc"] = tr.self_time("cpg.lower_js") / n
    for layer in ("typerec", "passes", "cfg", "dominators", "reachingdef"):
        out[f"cpg.{layer}.s_per_doc"] = tr.duration(f"cpg.{layer}") / n
    out["cpg.nodes_per_doc"] = nodes / n
    out["cpg.edges_per_doc"] = edges / n
    if kernel == "scan":
        out["query.scan.match_s_per_doc"] = tr.duration("query.scan.match") / n
        out["query.scan.findings_per_doc"] = findings / n
    else:
        # cpg_rows_for_document minus the extract and build_cpg inside it
        out["cpg.spark_build.rows_s_per_doc"] = tr.self_time("cpg.spark_build.rows") / n
        out["cpg.spark_build.rows_per_doc"] = (nodes + edges) / n
    return out


def _scan_s(url: str, html: bytes) -> float:
    t = time.perf_counter()
    scan_page_inprocess(url, html)
    return time.perf_counter() - t


def tail_time_share(tail: list[tuple[str, bytes]], singles: list[tuple[str, bytes]],
                    n_singles: int) -> float:
    """Share of a table's single-thread scan time (extract → CPG → query
    bundle) that its tail pages take: every tail page is timed, the
    `n_singles` one-snippet pages are estimated from the sample `singles`."""
    if not tail or not singles:
        return 0.0
    tail_s = sum(_scan_s(url, html) for url, html in tail)
    single_s = sum(_scan_s(url, html) for url, html in singles) / len(singles)
    return tail_s / (tail_s + single_s * n_singles)


def repeat_layers(pages: list[tuple[str, bytes]]) -> dict:
    """Per-doc time of pages that repeat snippets, split into CPG build and
    query-bundle matching.  Repeated snippets redefine the same functions,
    and the flow queries' path count grows combinatorially with the copies;
    scan_batch's timed pages hold each snippet once, so this cost shows only
    here."""
    import joern_spark.cpg.build as build
    from joern_spark.extract import extract_script_text
    from joern_spark.query.cpgql import Q
    from joern_spark.query.scan import default_bundle

    bundle = default_bundle()
    total = match = 0.0
    for url, html in pages:
        t0 = time.perf_counter()
        cpg = build.build_cpg(extract_script_text(bytes(html).decode("utf-8", "replace")), url)
        t1 = time.perf_counter()
        q = Q(cpg)
        for query in bundle:
            query.matcher(cpg, q)
        t2 = time.perf_counter()
        total, match = total + (t2 - t0), match + (t2 - t1)
    n = max(1, len(pages))
    return {"query.scan.repeat_s_per_doc": total / n,
            "query.scan.repeat_match_share": match / total if total else 0.0}
