#!/usr/bin/env python
"""joern-flow equivalent CLI (reference: joern-cli JoernFlow.scala:22-98):
source/sink regex → reachableByFlows report over a pages table.

    spark-submit --py-files joern_spark.zip jobs/flow.py \
        --pages <pages-parquet> --source-regex 'source.*' --sink-regex 'sink.*' \
        [--kind call|identifier|literal]

Prints one JSON line per (url, flow).
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql.types import ArrayType, StringType, StructField, StructType


def flows_job(pages, source_regex: str, sink_regex: str,
              source_kind: str = "call", sink_kind: str = "call",
              semantics_file: str | None = None):
    from joern_spark.cpg.build import build_cpg
    from joern_spark.cpg.docmap import map_documents
    from joern_spark.cpg.semloader import semantics_from_file
    from joern_spark.dataflow.engine import reachable_by_flows, result_pairs
    from joern_spark.extract import extract_script_text
    from joern_spark.query.cpgql import Q

    # custom taint models (.sem, reference Semantics.g4 grammar) are parsed
    # ONCE on the driver and broadcast inside the closure
    semantics = semantics_from_file(semantics_file) if semantics_file else None

    schema = StructType([
        StructField("url", StringType()),
        StructField("flow", ArrayType(StringType())),
    ])

    def select(q, kind, regex):
        base = {"call": q.call(), "identifier": q.identifier(),
                "literal": q.literal()}[kind]
        return base.code(regex).l()

    def page(url, html):
        cpg = build_cpg(extract_script_text(html), url)
        q = Q(cpg)
        sources = select(q, source_kind, source_regex)
        sinks = select(q, sink_kind, sink_regex)
        if not sources or not sinks:
            return []
        return [(url, [f"{c} @ {ln}" for c, ln in result_pairs(cpg, f)])
                for f in reachable_by_flows(cpg, sinks, sources, semantics=semantics)]

    return map_documents(pages, page, schema)


def main():
    from joern_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--source-regex", required=True)
    ap.add_argument("--sink-regex", required=True)
    ap.add_argument("--source-kind", default="call",
                    choices=["call", "identifier", "literal"])
    ap.add_argument("--sink-kind", default="call",
                    choices=["call", "identifier", "literal"])
    ap.add_argument("--semantics", help="custom .sem taint-model file "
                    "(reference Semantics.g4 grammar)")
    args = ap.parse_args()

    spark = get_spark(app_name="joern-spark-flow")
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(args.pages)
    for row in flows_job(pages, args.source_regex, args.sink_regex,
                         args.source_kind, args.sink_kind,
                         semantics_file=args.semantics).collect():
        print(json.dumps({"url": row.url, "flow": row.flow}))


if __name__ == "__main__":
    main()
