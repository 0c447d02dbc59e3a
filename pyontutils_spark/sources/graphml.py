"""GraphML (yEd-style) source: XML -> nodes/edges -> triples.

Reimplements the computation of the reference's ``graphml_to_ttl``
(``pyontutils/graphml_to_ttl.py:77-110``: xpath extraction of node
labels and edges; edge-label -> predicate map at
``graphml_to_ttl.py:44-68``) with stdlib ElementTree, as a parse
generator over the shared per-file stage (``sources._per_file``).
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from pyspark.sql import DataFrame, SparkSession

from ..kernel.ids import TEMP_NS
from ..kernel.norm import local_degrade
from ..operators import vocab
from . import _per_file, _text_files

_NS = {"g": "http://graphml.graphdrawing.org/xmlns"}

# edge-label -> predicate map (shape of graphml_to_ttl.py:44-68)
DEFAULT_EDGE_PREDICATES = {
    "is_a": "http://www.w3.org/2000/01/rdf-schema#subClassOf",
    "part_of": "http://purl.obolibrary.org/obo/BFO_0000050",
    "": "http://uri.interlex.org/tgbugs/uris/readable/relatedTo",
}


def _node_label(node) -> str:
    """First non-empty text content under the node's <data> elements
    (yEd stores the label in nested y:NodeLabel; text itertext covers
    both plain and yEd layouts)."""
    for data in node.findall("g:data", _NS):
        txt = " ".join("".join(data.itertext()).split())
        if txt:
            return txt
    return ""


def parse_graphml(text: str) -> tuple[list[dict], list[dict]]:
    """GraphML document -> (nodes [{id,label}], edges [{src,dst,label}])."""
    root = ET.fromstring(text)
    nodes, edges = [], []
    for n in root.iter("{%s}node" % _NS["g"]):
        nodes.append({"id": n.get("id"), "label": _node_label(n)})
    for e in root.iter("{%s}edge" % _NS["g"]):
        edges.append({"src": e.get("source"), "dst": e.get("target"),
                      "label": _node_label(e)})
    return nodes, edges


def graphml_triples(text: str, edge_predicates=None):
    """One document -> (subj, pred, obj, is_literal) rows: node IRIs are
    minted from (file-local id + label) content; node labels become
    rdfs:label; edges map through the predicate table."""
    preds = edge_predicates or DEFAULT_EDGE_PREDICATES
    nodes, edges = parse_graphml(text)
    iri = {n["id"]: TEMP_NS + "graphml/" +
           (local_degrade(n["label"]).replace(" ", "-") or n["id"])
           for n in nodes}
    for n in nodes:
        if n["label"]:
            yield (iri[n["id"]],
                   "http://www.w3.org/2000/01/rdf-schema#label",
                   n["label"], True)
    for e in edges:
        pred = preds.get(local_degrade(e["label"] or ""),
                         preds.get("", None))
        if pred and e["src"] in iri and e["dst"] in iri:
            yield (iri[e["src"]], pred, iri[e["dst"]], False)


def read_graphml(spark: SparkSession, path: str,
                 edge_predicates=None) -> DataFrame:
    def parse(text, _src):
        for s, p, o, il in graphml_triples(text, edge_predicates):
            yield s, p, o, il, None, None

    return _per_file(_text_files(spark, path), parse, vocab.TRIPLE_SCHEMA)
