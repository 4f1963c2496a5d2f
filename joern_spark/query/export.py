"""Graph export (the joern-export equivalent, SURVEY.md §2D).

Reference: joern-cli JoernExport.scala:34-134 — representations
Ast/Cfg/Ddg/Cdg/Pdg/All exported as dot/graphml/neo4j-csv.  Spark form:
the representation is a filter on the edges table; formats are writers:
- csv:  nodes/edges parquet→csv directories (neo4j-admin import shape)
- json: JSON lines per document
- dot:  per-document DOT text assembled in one Arrow pass
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

REPRESENTATIONS = {
    "ast": ["AST"],
    "cfg": ["CFG"],
    "ddg": ["REACHING_DEF"],
    "cdg": ["CDG"],
    "pdg": ["REACHING_DEF", "CDG"],
    "cpg14": ["AST", "CFG", "REACHING_DEF", "CDG"],
    "all": None,  # every edge label
}


def edges_for(edges: DataFrame, representation: str) -> DataFrame:
    labels = REPRESENTATIONS[representation]
    return edges if labels is None else edges.where(F.col("label").isin(labels))


def export_csv(nodes: DataFrame, edges: DataFrame, representation: str, out_dir: str):
    """neo4j-csv style: one nodes dir + one relationships dir."""
    nodes.write.mode("overwrite").option("header", True).csv(f"{out_dir}/nodes")
    (edges_for(edges, representation)
     .write.mode("overwrite").option("header", True).csv(f"{out_dir}/edges"))


def export_json(nodes: DataFrame, edges: DataFrame, representation: str, out_dir: str):
    nodes.write.mode("overwrite").json(f"{out_dir}/nodes")
    edges_for(edges, representation).write.mode("overwrite").json(f"{out_dir}/edges")


def export_dot(nodes: DataFrame, edges: DataFrame, representation: str) -> DataFrame:
    """One DOT digraph per document: (url, dot)."""
    e = edges_for(edges, representation)
    lines = e.select(
        "url",
        F.concat(F.lit('  "'), F.col("src"), F.lit('" -> "'), F.col("dst"),
                 F.lit('" [label="'), F.col("label"), F.lit('"];')).alias("line"),
    )
    return (lines.groupBy("url")
            .agg(F.concat_ws("\n", F.collect_list("line")).alias("body"))
            .select("url", F.concat(F.lit("digraph g {\n"), F.col("body"),
                                    F.lit("\n}")).alias("dot")))


def _xml_escape(col):
    out = F.regexp_replace(col, "&", "&amp;")
    out = F.regexp_replace(out, "<", "&lt;")
    out = F.regexp_replace(out, ">", "&gt;")
    return F.regexp_replace(out, '"', "&quot;")


GRAPHML_HEADER = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<graphml xmlns="http://graphml.graphdrawing.org/xmlns">\n'
    '  <key id="labelV" for="node" attr.name="labelV" attr.type="string"/>\n'
    '  <key id="name" for="node" attr.name="name" attr.type="string"/>\n'
    '  <key id="code" for="node" attr.name="code" attr.type="string"/>\n'
    '  <key id="labelE" for="edge" attr.name="labelE" attr.type="string"/>\n'
    '  <graph id="G" edgedefault="directed">\n'
)


def export_graphml(nodes: DataFrame, edges: DataFrame, representation: str) -> DataFrame:
    """One GraphML document per page: (url, graphml) — the
    flatgraph GraphMLExporter shape (JoernExport.scala:34-49: labelV/labelE
    keys + string property keys), assembled fully distributed (no driver
    collect; per-url grouping is the only shuffle)."""
    n_lines = nodes.select(
        "url",
        F.concat(
            F.lit('    <node id="'), F.col("node_id").cast("string"), F.lit('">'),
            F.lit('<data key="labelV">'), F.col("label"), F.lit("</data>"),
            F.lit('<data key="name">'), _xml_escape(F.coalesce(F.col("name"), F.lit(""))), F.lit("</data>"),
            F.lit('<data key="code">'), _xml_escape(F.coalesce(F.col("code"), F.lit(""))), F.lit("</data>"),
            F.lit("</node>"),
        ).alias("line"),
        F.lit(0).alias("kind"),
    )
    e_lines = edges_for(edges, representation).select(
        "url",
        F.concat(
            F.lit('    <edge source="'), F.col("src").cast("string"),
            F.lit('" target="'), F.col("dst").cast("string"), F.lit('">'),
            F.lit('<data key="labelE">'), F.col("label"), F.lit("</data>"),
            F.lit("</edge>"),
        ).alias("line"),
        F.lit(1).alias("kind"),
    )
    lines = n_lines.unionByName(e_lines)
    return (lines.groupBy("url")
            .agg(F.concat_ws("\n", F.sort_array(F.collect_list(
                F.struct("kind", "line"))).getField("line")).alias("body"))
            .select("url", F.concat(F.lit(GRAPHML_HEADER), F.col("body"),
                                    F.lit("\n  </graph>\n</graphml>\n")).alias("graphml")))


def export_graphson(nodes: DataFrame, edges: DataFrame, representation: str) -> DataFrame:
    """One GraphSON 3.0 document per page: (url, graphson) — the
    flatgraph GraphSONExporter / TinkerPop typed-value shape
    (g:Vertex / g:Edge with g:Int64 ids)."""

    def g_int64(col):
        return F.struct(F.lit("g:Int64").alias("@type"), col.alias("@value"))

    vertex = F.to_json(F.struct(
        F.lit("g:Vertex").alias("@type"),
        F.struct(
            g_int64(F.col("node_id")).alias("id"),
            F.col("label").alias("label"),
            F.struct(
                F.coalesce(F.col("name"), F.lit("")).alias("name"),
                F.coalesce(F.col("code"), F.lit("")).alias("code"),
            ).alias("properties"),
        ).alias("@value"),
    ))
    v = nodes.select("url", vertex.alias("item"), F.lit(0).alias("kind"))
    edge = F.to_json(F.struct(
        F.lit("g:Edge").alias("@type"),
        F.struct(
            F.col("label").alias("label"),
            g_int64(F.col("src")).alias("outV"),
            g_int64(F.col("dst")).alias("inV"),
        ).alias("@value"),
    ))
    e = edges_for(edges, representation).select(
        "url", edge.alias("item"), F.lit(1).alias("kind"))

    both = v.unionByName(e)
    agg = both.groupBy("url").agg(
        F.concat_ws(",", F.collect_list(F.when(F.col("kind") == 0, F.col("item")))).alias("vs"),
        F.concat_ws(",", F.collect_list(F.when(F.col("kind") == 1, F.col("item")))).alias("es"),
    )
    return agg.select(
        "url",
        F.concat(F.lit('{"@type":"tinker:graph","@value":{"vertices":['),
                 F.col("vs"), F.lit('],"edges":['), F.col("es"),
                 F.lit("]}}")).alias("graphson"),
    )


def method_dot_frames(pages, representation: str = "cfg"):
    """JoernExport's per-method dot output, Spark-native: one row
    (url, method_full_name, dot) per internal method, rendered with the
    reference's DotSerializer format (query/dot.py) inside a single
    mapInPandas pass — methods render independently, so this scales as
    the build does."""
    from pyspark.sql.types import StringType, StructField, StructType

    from joern_spark.cpg.build import build_cpg
    from joern_spark.cpg.docmap import map_documents
    from joern_spark.extract import extract_script_text
    from joern_spark.query import dot as dotmod

    schema = StructType([
        StructField("url", StringType()),
        StructField("method_full_name", StringType()),
        StructField("dot", StringType()),
    ])
    render = {
        "ast": dotmod.dot_ast, "cfg": dotmod.dot_cfg,
        "cdg": dotmod.dot_cdg, "ddg": dotmod.dot_ddg,
        "pdg": dotmod.dot_pdg, "cpg14": dotmod.dot_cpg14,
    }[representation]

    def page(url, html):
        cpg = build_cpg(extract_script_text(html), url)
        return [(url, m.full_name, render(cpg, m)) for m in cpg.methods()
                if not (m.is_external or m.name.startswith("<operator>"))]

    return map_documents(pages, page, schema)
