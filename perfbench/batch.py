"""The batch workload scan_batch, and the layer probe of its traced run
(a graph reachability part and a corpus dedup part).

scan_batch generates its inputs from the seed, warms up with untimed
iterations, then repeats iterations for the measuring time.  An iteration
calls the engine's public functions inside a named phase (span + Spark job
description).  `check` compares the outputs with an independent
recomputation.
"""

from __future__ import annotations

import importlib.util
import os
from collections import deque

from perfbench import config, gen
from perfbench.harness import sample_rows


def release_cached(spark) -> int:
    """Unpersist every persisted RDD of the session; returns how many there
    were.  Iterations start from the same cache state this way."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    n = rdds.size()
    for rdd in list(rdds.values()):
        rdd.unpersist(False)
    return n


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def load_entry():
    """`__spark_entry__.py` at the checkout root (for its oracle_sql)."""
    spec = importlib.util.spec_from_file_location("__spark_entry__", "__spark_entry__.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# --------------------------------------------------------------------------
# scan_batch
# --------------------------------------------------------------------------

class ScanBatch:
    name = "scan_batch"
    warmup_iterations = config.SCAN_WARMUP_ITERATIONS

    def __init__(self):
        self.results: list = []
        self.cached_delta: list[int] = []

    def generate(self, ctx, out):
        self.rows = gen.scan_pages(ctx.seed, config.SCAN_PAGES)
        self.layout = gen.scan_layout(ctx.seed, config.SCAN_PAGES)
        self.pages_dir = out
        gen.write_parquet(self.rows, out, config.SCAN_FILES)

    def docs(self):
        return len(self.rows)

    def iteration(self, ctx, i):
        from pyspark.sql import functions as F

        from joern_spark.query.scan import scan_findings

        before = persistent_rdds(ctx.spark)
        with ctx.phase(f"iter{i}:scan"):
            pages = ctx.spark.read.parquet(self.pages_dir)
            rows = (scan_findings(pages).groupBy("query_name")
                    .agg(F.count(F.lit(1)).alias("n_docs"),
                         F.sum("n_matches").alias("n_matches"))
                    .collect())
        self.results.append(sorted((r.query_name, r.n_docs, r.n_matches) for r in rows))
        self.cached_delta.append(persistent_rdds(ctx.spark) - before)
        release_cached(ctx.spark)

    def sample_pages(self, ctx):
        return [(r[1], r[3]) for r in sample_rows(self.rows, ctx.seed, config.TRACE_SAMPLE)]

    def split_pages(self) -> tuple[list, list]:
        """(url, html) of the tail pages (more than one snippet) and of the
        one-snippet pages."""
        tail, singles = [], []
        for r, snips in zip(self.rows, self.layout):
            (tail if len(snips) > 1 else singles).append((r[1], r[3]))
        return tail, singles

    def check(self, ctx) -> tuple[bool, int, dict]:
        """Findings of a seeded sample of pages equal an in-process
        build_cpg + bundle recomputation, and every timed iteration gave
        the same counts.  Returns (correct, failed documents per
        iteration, details)."""
        from pyspark.sql import functions as F

        from joern_spark.query.scan import scan_findings

        sample = sample_rows(self.rows, ctx.seed + 1, config.SCAN_CHECK_SAMPLE)
        urls = [r[1] for r in sample]
        pages = ctx.spark.read.parquet(self.pages_dir).where(F.col("url").isin(urls))
        got = {(r.url, r.query_name, r.n_matches) for r in scan_findings(pages).collect()}
        want = set()
        for _seq, url, _ts, html, _text, _lang in sample:
            want |= {(url, q, n) for q, n in scan_page_inprocess(url, html)}
        failed = sum(n for q, n_docs, n in self.results[0] if q == "<parse-error>") \
            if self.results else 0
        same = all(r == self.results[0] for r in self.results[1:])
        return got == want and same, failed, {
            "sample_pages": len(sample), "sample_findings": len(want),
            "mismatched": len(got ^ want)}


def scan_page_inprocess(url: str, html: bytes) -> list[tuple[str, int]]:
    """scan_findings' per-page rows, recomputed in this process."""
    from joern_spark.cpg.build import build_cpg
    from joern_spark.extract import extract_script_text
    from joern_spark.query.cpgql import Q
    from joern_spark.query.scan import default_bundle

    try:
        cpg = build_cpg(extract_script_text(bytes(html).decode("utf-8", "replace")), url)
        q = Q(cpg)
        out = []
        for query in default_bundle():
            n = int(query.matcher(cpg, q))
            if n > 0:
                out.append((query.name, n))
        return out
    except Exception:
        return [("<parse-error>", 1)]


# --------------------------------------------------------------------------
# layer probe: graph reachability and corpus dedup, step by step
# --------------------------------------------------------------------------

def layer_probe(ctx) -> tuple[dict, bool, dict]:
    """Runs the graph and corpus layers once, step by step, under the
    job-description prefix 'probe:', and checks them against their
    references.

    graph_reach and corpus_dedup were planned as workloads of their own;
    they did not fit the time budget next to scan_batch and stream_windows
    (a run took 45-60 s on a 4-core host, and its single cold iteration
    moved by up to 40% between runs of the same code).  Returns (what
    perlayer needs, outputs correct, details)."""
    seed = ctx.seed
    graph_rows = gen.graph_pages(seed, config.GRAPH_PAGES)
    chain_rows = gen.chain_pages(seed, config.CHAIN_PAGES)
    doc_rows = gen.documents(seed, config.DEDUP_BASE_DOCS)
    d = {k: ctx.path("probe", k) for k in ("graph", "chain", "docs", "emb")}
    gen.write_parquet(graph_rows, d["graph"], 2 * config.NPROC)
    gen.write_parquet(chain_rows, d["chain"], 2 * config.NPROC)
    gen.write_parquet(doc_rows, d["docs"], config.DEDUP_FILES, gen.DOC_ARROW_SCHEMA)
    gen.write_embeddings(gen.embeddings(seed, config.EMB_ROWS), d["emb"], config.DEDUP_FILES)

    ctx.prefix = "probe:"
    try:
        got_pairs, frontier_counts = _reach(ctx, d["graph"])
        got_flows = _crosspage(ctx, d["chain"])
        got_clean, got_sim = _corpus(ctx, d["docs"], d["emb"])
    finally:
        ctx.prefix = ""
        release_cached(ctx.spark)

    pairs_ok, missing, graph_details = _check_graph(ctx, d["graph"], graph_rows, got_pairs)
    want_flows = sorted(transitive_flows_oracle(chain_rows))
    corpus_ok, corpus_details = _check_corpus(d["docs"], d["emb"], got_clean, got_sim)
    ok = pairs_ok and got_flows == want_flows and corpus_ok and missing == 0
    details = {**graph_details, **corpus_details, "flows": len(want_flows),
               "failed_docs": missing}
    probe = {
        "frontier_counts": frontier_counts,
        "lsh_precision": lsh_precision(ctx.spark.read.parquet(d["docs"])),
        "graph_sample": [(r[1], r[3]) for r in
                         sample_rows(graph_rows, seed, config.TRACE_SAMPLE)],
    }
    return probe, ok, details


def _endpoints(nodes):
    """Sources and sinks by the label/name predicates of cpg_reachable_pairs."""
    from pyspark.sql import functions as F

    sources = (nodes.where((F.col("label") == "IDENTIFIER") & (F.col("name") == "sz"))
               .select("url", "node_id"))
    sinks = (nodes.where((F.col("label") == "CALL") & F.col("code").rlike("^read.*"))
             .select("url", "node_id"))
    return sources, sinks


def _build(ctx, graph_dir: str):
    from joern_spark.cpg.spark_build import build_cpg_tables

    nodes, edges = build_cpg_tables(ctx.spark.read.parquet(graph_dir))
    return nodes.localCheckpoint(eager=True), edges.localCheckpoint(eager=True)


def _reach(ctx, graph_dir: str) -> tuple[list, list[int]]:
    """build_cpg_tables then reachable_pairs; also the DataFrame.count()
    results seen during the BFS (its per-round frontier sizes)."""
    from joern_spark.dataflow.reachable import reachable_pairs

    with ctx.phase("build"):
        nodes, edges = _build(ctx, graph_dir)
    sources, sinks = _endpoints(nodes)
    with ctx.phase("reach"):
        with count_calls() as counts:
            pairs = reachable_pairs(edges, sources, sinks)
        got = sorted(tuple(r) for r in pairs.select("url", "source_id", "sink_id").collect())
    return got, counts


def _crosspage(ctx, chain_dir: str) -> list:
    """cross_page_flows_transitive, with its page summaries materialized
    in a span of their own."""
    import joern_spark.query.crosspage as crosspage

    orig = crosspage.page_flow_summaries_ext

    def summaries(pages):
        s = orig(pages).persist()
        with ctx.tracer.span("query.crosspage.summaries"):
            s.count()
        return s
    with ctx.phase("crosspage"):
        crosspage.page_flow_summaries_ext = summaries
        try:
            flows = crosspage.cross_page_flows_transitive(ctx.spark.read.parquet(chain_dir))
        finally:
            crosspage.page_flow_summaries_ext = orig
        return sorted(tuple(r) for r in flows.collect())


def _corpus(ctx, docs_dir: str, emb_dir: str) -> tuple[list, list]:
    """corpus_clean's steps one by one, each materialized (as
    corpus_clean_shared does), then brute_pair_cosines."""
    from pyspark.sql import functions as F

    from joern_spark.pipeline import dedup
    from joern_spark.pipeline.clean import corpus_clean
    from joern_spark.pipeline.similarity import brute_pair_cosines

    tr = ctx.tracer
    docs = ctx.spark.read.parquet(docs_dir)
    emb = (ctx.spark.read.parquet(emb_dir)
           .where(F.col("vec_id") % config.EMB_SAMPLE_MOD == 0))
    with ctx.phase("clean"):
        with tr.span("pipeline.dedup.minhash"):
            sig = dedup.minhash_signature(docs).persist()
            sig.count()
        with tr.span("pipeline.dedup.lsh_pairs"):
            pairs = dedup.lsh_candidate_pairs(sig).persist()
            pairs.count()
        with tr.span("pipeline.dedup.clusters"):
            clusters = dedup.connected_dup_clusters(pairs)
            clusters.count()
        with tr.span("pipeline.clean"):
            got_clean = sorted(tuple(r) for r in
                               corpus_clean(docs, clusters=clusters).collect())
    with ctx.phase("pairs"):
        with tr.span("pipeline.similarity.pairs"):
            got_sim = sorted(tuple(r) for r in brute_pair_cosines(
                emb, threshold=config.EMB_THRESHOLD).collect())
    return got_clean, got_sim


def _check_graph(ctx, graph_dir, graph_rows, got_pairs) -> tuple[bool, int, dict]:
    """Pairs equal a BFS in this process over the collected REACHING_DEF
    edges.  Pages missing from the build output count as failed."""
    from pyspark.sql import functions as F

    nodes, edges = _build(ctx, graph_dir)
    sources, sinks = _endpoints(nodes)
    rd = [tuple(r) for r in edges.where(F.col("label") == "REACHING_DEF")
          .select("url", "src", "dst").collect()]
    want = sorted(bfs_pairs(rd, [tuple(r) for r in sources.collect()],
                            [tuple(r) for r in sinks.collect()]))
    built = {r.url for r in nodes.select("url").distinct().collect()}
    missing = len({r[1] for r in graph_rows} - built)
    release_cached(ctx.spark)
    return got_pairs == want, missing, {"pairs": len(want), "pages_missing_from_build": missing}


def _check_corpus(docs_dir, emb_dir, got_clean, got_sim) -> tuple[bool, dict]:
    """corpus_clean and the near-dup cosine pairs equal the DuckDB
    oracle_sql() of corpus_clean and sim_near_dup_pairs."""
    import duckdb

    oracle = load_entry().oracle_sql()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_dir}/*.parquet')")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{emb_dir}/*.parquet')")
    want_clean = sorted(tuple(r) for r in con.execute(oracle["corpus_clean"]).fetchall())
    sim_sql = oracle["sim_near_dup_pairs"].replace("% 10 = 0", f"% {config.EMB_SAMPLE_MOD} = 0")
    sim_sql = sim_sql.replace(">= 0.5", f">= {config.EMB_THRESHOLD}")
    want_sim = sorted(tuple(r) for r in con.execute(sim_sql).fetchall())
    ok = got_clean == want_clean and _pairs_equal(got_sim, want_sim)
    return ok, {"clean_rows": len(want_clean), "near_dup_pairs": len(want_sim)}


class count_calls:
    """Records DataFrame.count() results during the scope (the per-round
    frontier sizes of the BFS loop)."""

    def __enter__(self):
        self.cls = _df_class()
        self.orig = self.cls.count
        self.values: list[int] = []
        orig, values = self.orig, self.values

        def count(df):
            n = orig(df)
            values.append(n)
            return n
        self.cls.count = count
        return self.values

    def __exit__(self, *exc):
        self.cls.count = self.orig
        return False


def _df_class():
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        from pyspark.sql import DataFrame
    return DataFrame


def bfs_pairs(rd_edges, sources, sinks, max_hops: int = 128) -> set[tuple]:
    """(url, source_id, sink_id) where the source reaches the sink along
    REACHING_DEF edges (src → dst), searched backwards from each sink."""
    preds: dict[tuple, list[int]] = {}
    for url, src, dst in rd_edges:
        preds.setdefault((url, dst), []).append(src)
    src_set = set(sources)
    out = set()
    for url, sink in set(sinks):
        seen = {sink}
        frontier = deque([(sink, 0)])
        while frontier:
            cur, d = frontier.popleft()
            if (url, cur) in src_set:
                out.add((url, cur, sink))
            if d >= max_hops:
                continue
            for p in preds.get((url, cur), ()):
                if p not in seen:
                    seen.add(p)
                    frontier.append((p, d + 1))
    return out


def transitive_flows_oracle(chain_rows) -> set[tuple]:
    """The DuckDB recursive CTE of oracle_sql() over in-process summaries."""
    import duckdb
    import pandas as pd

    from joern_spark.query.crosspage import summarize_page_ext

    rows = []
    for _seq, url, _ts, html, _text, _lang in chain_rows:
        rows.extend(summarize_page_ext(url, html.decode("utf-8", "replace")))
    summ = pd.DataFrame(rows, columns=["domain", "url", "kind", "func_name",
                                       "callee_name", "tainted"])
    sql = load_entry().oracle_sql()["cpg_cross_page_flows_transitive"]
    start = sql.index("SELECT * FROM read_csv_auto(")
    end = sql.index(")", sql.index("columns={", start)) + 1
    sql = sql[:start] + "SELECT * FROM summ" + sql[end:]
    con = duckdb.connect()
    con.register("summ", summ)
    return {tuple(r) for r in con.execute(sql).fetchall()}


def lsh_precision(docs, jaccard: float = 0.5) -> float:
    """Share of LSH candidate pairs whose shingle Jaccard passes `jaccard`
    (useful candidates ÷ attempted)."""
    from pyspark.sql import functions as F

    from joern_spark.pipeline import dedup

    pairs = dedup.lsh_candidate_pairs(dedup.minhash_signature(docs)).persist()
    n = pairs.count()
    ok = dedup.ngram_jaccard(docs, pairs).where(F.col("jaccard") >= jaccard).count()
    pairs.unpersist()
    return ok / n if n else 1.0


def _pairs_equal(got, want) -> bool:
    if len(got) != len(want):
        return False
    return all(g[0] == w[0] and g[1] == w[1] and abs(float(g[2]) - float(w[2])) < 1e-9
               for g, w in zip(got, want))
