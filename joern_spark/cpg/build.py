"""Full per-document CPG pipeline: parse → AST lowering → base passes →
call graph → CFG → reaching-def/DDG.

Mirrors X2Cpg.defaultOverlayCreators() order (X2Cpg.scala:374-385:
Base, ControlFlow, TypeRelations, CallGraph) + OssDataFlow
(OssDataFlow.scala:8-26), collapsed into one function that every
per-document Spark kernel (one `mapInPandas` through
`cpg.docmap.map_documents`) calls once per page.
"""

from __future__ import annotations

import sys

from joern_spark.cpg.astlower import lower_js
from joern_spark.cpg.cfg import add_cfg
from joern_spark.cpg.core import Cpg
from joern_spark.cpg.dominators import add_cdg, add_dominators
from joern_spark.cpg.passes import (
    create_method_stubs, create_namespaces, create_type_decl_stubs,
    hint_this_identifiers, link_aliases, link_calls, link_dynamic_calls,
    link_field_accesses, register_types,
)
from joern_spark.cpg.typerec import run_type_recovery
from joern_spark.cpg.reachingdef import add_reaching_defs
from joern_spark.cpg.semantics import Semantics, default_semantics

_SEMANTICS = default_semantics()


def _overlay(cpg: Cpg, semantics: Semantics | None, post_process: bool) -> Cpg:
    """The overlay pass order over a lowered graph, shared by build_cpg
    and build_cpg_files.  Each pass is looked up as a module global when
    it runs, so wrapping one (tracing, profiling) reaches both builds."""
    create_namespaces(cpg)   # NamespaceCreator (A5, Base overlay)
    create_type_decl_stubs(cpg)  # TypeDeclStubCreator (Base overlay)
    create_method_stubs(cpg)
    if post_process:
        # jssrc2cpg post-processing (package.scala:10-15): ConstClosure →
        # ImportResolver → XTypeRecovery ×2 → TypeHintCallLinker →
        # ObjectPropertyCallLinker (A19, full port in typerec.py)
        run_type_recovery(cpg)
        hint_this_identifiers(cpg)   # `this` → enclosing class/program hint
        register_types(cpg)          # recovered types → TYPE nodes
        create_type_decl_stubs(cpg)  # + external stubs for the new TYPEs
        link_aliases(cpg)            # ALIAS_OF (AliasLinkerPass)
        link_field_accesses(cpg)     # fieldAccess → MEMBER REF
    link_dynamic_calls(cpg)  # CHA (DynamicCallLinker, A15)
    link_calls(cpg)          # static + naive/closure fallback (skips linked)
    add_cfg(cpg)
    ipdoms = add_dominators(cpg)
    add_cdg(cpg, ipdoms)
    add_reaching_defs(cpg, semantics or _SEMANTICS)
    return cpg


def build_cpg(src: str, filename: str = "script.js",
              semantics: Semantics | None = None,
              post_process: bool = True) -> Cpg:
    """post_process=True mirrors joern-cli production (frontend overlays +
    jssrc post-processing).  post_process=False is the JsSrc2CpgSuite /
    JsSrcCfgTestCpg fixture (frontend only) — the reference's AST/CFG
    goldens are written against that, e.g. closure names before
    ConstClosurePass renames them."""
    if sys.getrecursionlimit() < 20000:
        sys.setrecursionlimit(20000)
    return _overlay(lower_js(src, filename), semantics, post_process)


def build_cpg_frontend(src: str, filename: str = "script.js",
                       semantics: Semantics | None = None) -> Cpg:
    """Frontend-only fixture (JsSrc2CpgSuite / JsSrcCfgTestCpg): no
    post-processing passes — what the reference AST/CFG goldens assert."""
    return build_cpg(src, filename, semantics, post_process=False)


def build_cpg_files(files: list[tuple[str, str]],
                    semantics: Semantics | None = None,
                    post_process: bool = True) -> Cpg:
    """Multi-file project build: every (filename, src) pair lowered into ONE
    graph, then the same overlay order as build_cpg.  This is the `code(...)
    .moreCode(...)` test fixture and the shape cross-file import resolution
    (XImportResolverPass) needs."""
    from joern_spark.cpg.astlower import lower_js_files

    if sys.getrecursionlimit() < 20000:
        sys.setrecursionlimit(20000)
    return _overlay(lower_js_files(files), semantics, post_process)


def build_project(input_path: str,
                  ignored_files: tuple[str, ...] = (),
                  ignored_files_regex: str = "",
                  semantics: Semantics | None = None,
                  post_process: bool = True) -> Cpg:
    """Directory-project build (the joern-parse ingestion shape,
    ProjectParseTests.scala): walk ``input_path``, apply the AstGenRunner
    file filters (minified/transpiled/default ignores + the user's
    --exclude / --exclude-regex), lower every selected source file into
    ONE graph, skipping files that fail to parse (broken inputs must not
    take the project down — "recover from broken input file").  FILE node
    names are project-relative.

    Corpus-scale note: a "project" here is driver-side tooling input (a
    few files); web pages go through the per-document mapInPandas path."""
    import os

    from joern_spark.sources.file_filter import select_project_files

    exts = (".js", ".jsx", ".cjs", ".mjs", ".ts", ".tsx", ".vue", ".ejs")
    collected: list[tuple[str, str]] = []
    for root, dirs, fnames in os.walk(input_path):
        dirs.sort()
        for fname in sorted(fnames):
            full = os.path.join(root, fname)
            rel = os.path.relpath(full, input_path)
            if not (fname.endswith(exts) or fname.endswith(".js.map")):
                continue
            try:
                with open(full, encoding="utf-8", errors="replace") as f:
                    collected.append((rel, f.read()))
            except OSError:
                continue
    selected = select_project_files(
        collected, ignored_files=ignored_files,
        ignored_files_regex=ignored_files_regex,
        root=os.path.abspath(input_path))
    # drop files that do not parse, keep the rest (per-file recovery)
    from joern_spark.frontends.js.jsparser import ParseError, parse
    from joern_spark.cpg.astlower import vue_parse_source
    from joern_spark.extract import preprocess_ejs

    good: list[tuple[str, str]] = []
    for rel, text in selected:
        # probe-parse the same-length JS view; the ORIGINAL text goes into
        # the lowerer, which re-derives the view (dual-text offsets keep
        # code fields reading the original — that is how EJS output tags
        # surface as escapeFn/__append, see AstLowerer._ejs_output_call_name)
        if rel.endswith(".ejs"):
            probe = preprocess_ejs(text)
        elif rel.endswith(".vue"):
            probe = vue_parse_source(text)
        else:
            probe = text
        try:
            parse(probe)
        except (ParseError, RecursionError):
            continue
        good.append((rel, text))
    return build_cpg_files(good, semantics, post_process)
