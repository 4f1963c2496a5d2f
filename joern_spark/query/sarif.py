"""SARIF v2.1.0 from per-document findings with evidence.

Behavioral port of the reference's SARIF stack (semanticcpg
sarif/SarifSchema.scala, v2_1_0/Schema.scala,
JoernScanResultToSarifConverter.scala, SarifExtension.scala):

- a Finding carries (name, title, description, score, evidence nodes);
- rules: one ReportingDescriptor per distinct finding name (id=name,
  name=title, fullDescription = description with markdown backticks
  stripped — :47-52);
- results: ruleId=name, message=title, level = cvssToLevel(score)
  (SarifSchema.scala:331-341 — 0.0→"none", ≤3.9→"note", ≤6.9→"warning",
  ≤10→"error", invalid→"warning"), locations = LAST evidence node,
  relatedLocations = FIRST, codeFlows = one threadFlow over all evidence
  (:21-46);
- regions carry startLine/startColumn + the node code as snippet
  (:74-96); uris come from the node's file (:63-72);
- originalUriBaseIds maps PROJECT_ROOT → "<empty>".

Branding deviation: tool.driver identifies this engine (joern-spark),
not the reference's product strings.

Corpus scale: findings are produced per document inside the scan UDF;
this converter runs on driver-side, report-sized slices (same contract
as findings_sarif in query/scan.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from joern_spark.cpg.core import Cpg, Node

EMPTY = "<empty>"


@dataclass
class Finding:
    """semanticcpg Finding node shape (name/title/description/score +
    evidence)."""
    name: str
    title: str = EMPTY
    description: str = EMPTY
    score: float = 0.0
    evidence: list = field(default_factory=list)


def cvss_to_level(score: float) -> str:
    """SarifSchema.Level.cvssToLevel (SarifSchema.scala:331-341)."""
    if score < 0.0 or score > 10.0:
        return "warning"
    if score == 0.0:
        return "none"
    if score <= 3.9:
        return "note"
    if score <= 6.9:
        return "warning"
    return "error"


def _message(text: str) -> dict:
    """createMessage (:47-52): backticks stripped; markdown kept only when
    it differs from the plain text."""
    plain = (text or "").replace("`", "")
    out = {"text": plain}
    if text and text != plain:
        out["markdown"] = text
    return out


def _node_uri(cpg: Cpg, node: Node) -> "str | None":
    """nodeToUri (:63-72): internal TypeDecl/Method filename, else the
    expression's enclosing file."""
    if node.label in ("TYPE_DECL", "METHOD") and not node.is_external:
        return node.filename if node.filename not in ("", EMPTY) else None
    if node.is_expression:
        m = cpg.method_of(node)
        while m is not None and not m.filename:
            parent = cpg.ast_parent(m)
            m = cpg.method_of(parent) if parent is not None else None
        if m is not None and m.filename not in ("", EMPTY):
            return m.filename
        return cpg.filename or None
    return None


def _node_region(node: Node) -> dict:
    region: dict = {}
    if node.line is not None:
        region["startLine"] = node.line
    if node.column is not None:
        region["startColumn"] = node.column
    if node.code:
        region["snippet"] = {"text": node.code}
    return region


def _node_location(cpg: Cpg, node: Node) -> dict:
    artifact: dict = {"uriBaseId": "PROJECT_ROOT"}
    uri = _node_uri(cpg, node)
    if uri is not None:
        artifact["uri"] = uri
    return {"physicalLocation": {"artifactLocation": artifact,
                                 "region": _node_region(node)}}


def finding_to_result(cpg: Cpg, f: Finding) -> dict:
    """convertFindingToResult (:21-37)."""
    locations = [_node_location(cpg, f.evidence[-1])] if f.evidence else []
    related = [_node_location(cpg, f.evidence[0])] if f.evidence else []
    result = {
        "ruleId": f.name,
        "message": {"text": f.title},
        "level": cvss_to_level(f.score),
        "locations": locations,
        "relatedLocations": related,
    }
    if f.evidence:
        result["codeFlows"] = [{
            "threadFlows": [{
                "locations": [{"location": _node_location(cpg, n)}
                              for n in f.evidence],
            }],
        }]
    else:
        result["codeFlows"] = []
    return result


def findings_to_sarif(cpg: Cpg, findings: "list[Finding]") -> dict:
    """SarifExtension.toSarif over a document's findings."""
    rules = []
    seen = set()
    for f in findings:
        if f.name in seen:
            continue
        seen.add(f.name)
        rule = {"id": f.name, "name": f.title}
        if f.description:
            rule["fullDescription"] = _message(f.description)
        rules.append(rule)
    return {
        "version": "2.1.0",
        "$schema": ("https://docs.oasis-open.org/sarif/sarif/v2.1.0/"
                    "errata01/os/schemas/sarif-schema-2.1.0.json"),
        "runs": [{
            "tool": {"driver": {
                "organization": "joern-spark",
                "name": "joern-spark",
                "informationUri": "https://spark.apache.org",
                "fullName": "joern-spark — streaming CPG engine",
                "rules": rules,
            }},
            "results": [finding_to_result(cpg, f) for f in findings],
            "originalUriBaseIds": {"PROJECT_ROOT": {"uriBaseId": EMPTY}},
        }],
    }


def document_findings(cpg: Cpg, bundle=None) -> "list[Finding]":
    """Evidence-grade findings for one document: taint queries yield one
    Finding per flow (evidence = the visible path, sink last — the shape
    JoernScanResultToSarifConverter expects); pattern queries one Finding
    per matched node."""
    from joern_spark.query.cpgql import Q
    from joern_spark.query.scan import default_bundle

    queries = bundle if bundle is not None else default_bundle()
    q = Q(cpg)
    out: list[Finding] = []
    for query in queries:
        for ev in query.evidence_lists(cpg, q):
            out.append(Finding(name=query.name, title=query.name,
                               description=query.name, score=query.score,
                               evidence=ev))
    return out


def scan_evidence_sarif(pages, bundle=None) -> dict:
    """Corpus scan → ONE SARIF document with per-match locations and code
    flows.  The expensive part (build + query + evidence extraction +
    per-document SARIF conversion) runs distributed in one mapInPandas
    pass; the driver only merges the (report-sized) per-document result
    lists — same collect contract as findings_report."""
    import json

    from pyspark.sql.types import StringType, StructField, StructType

    from joern_spark.cpg.build import build_cpg
    from joern_spark.cpg.docmap import map_documents
    from joern_spark.extract import extract_script_text

    schema = StructType([StructField("doc", StringType())])

    def page(url, html):
        cpg = build_cpg(extract_script_text(html), url)
        findings = document_findings(cpg, bundle)
        if not findings:
            return []
        return [(json.dumps(findings_to_sarif(cpg, findings)["runs"][0]),)]

    merged_rules: dict[str, dict] = {}
    results: list[dict] = []
    for row in map_documents(pages, page, schema).collect():
        run_doc = json.loads(row.doc)
        for rule in run_doc["tool"]["driver"]["rules"]:
            merged_rules.setdefault(rule["id"], rule)
        results.extend(run_doc["results"])

    base = findings_to_sarif(Cpg(), [])
    base["runs"][0]["tool"]["driver"]["rules"] = list(merged_rules.values())
    base["runs"][0]["results"] = results
    return base
