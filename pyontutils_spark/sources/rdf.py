"""RDF sources/sinks as DataFrame operators.

- ``read_ntriples`` / ``read_nquads``: line-format scans — parsing is a
  single JVM-side regexp (no Python in the scan path), with a
  pandas-UDF fallback for escaped literals; N-Quads adds ``src_graph``.
- ``read_turtle`` / ``read_rdfxml`` / ``read_jsonld`` / ``read_trig`` /
  ``read_obo``: document formats, each a pure kernel parser run by the
  shared per-file stage (``sources._per_file``).
- ``read_rdf``: the reference's parse-with-format-fallback
  (``ttlser/ttlser/ttlfmt.py:75,78-100``) — extension dispatch, then
  the ttlfmt try-order turtle -> json-ld -> nt -> rdf-xml.
- ``write_ntriples``: canonical ordered NT dump (sorted via
  operators/ordering, formatted JVM-side); ``write_nquads``: the
  distributed, one-part-file-per-task N-Quads dump.
- ``nifttl_per_graph``: one nifttl document per graph, rendered in
  parallel.
- ``write_turtle_string`` / ``write_nifttl_string`` /
  ``write_turtle_html_string`` / ``write_rdfxml_string`` /
  ``write_jsonld_string`` / ``write_trig_string``: text for a (small)
  graph — one driver collect (``_rows``), then the pure kernel
  serializer (a presentation step, like the reference's single-file
  serializer).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..kernel.curies import DEFAULT as DEFAULT_PREFIXES
from ..kernel.obo import parse_obo, stanza_triples
from ..kernel.rdfio import format_turtle
from ..operators import vocab
from ..operators.ordering import canonical_order
from . import _per_file, _text_files

# Subject / graph position: IRI or blank node.  Blank node labels are
# matched permissively (`_:` + non-space run; backtracking yields a
# trailing `.`) — Web Data Commons-style dumps are bnode-HEAVY, so a
# <IRI>-only pattern would silently drop a large share of statements.
# Bnodes keep their `_:label` lexical form in subj/obj (document-scoped
# labels; skolemize via operators for cross-file identity).
_BNODE = r"(_:[^\s]+)"
_NT_CORE = (r"^\s*(?:<([^>]*)>|" + _BNODE + r")\s+<([^>]*)>\s+"
            r"(?:<([^>]*)>|(_:[^\s]+)|\"((?:[^\"\\]|\\.)*)\""
            r"(?:@([A-Za-z0-9-]+)|\^\^<([^>]*)>)?)")
_NT_REGEX = _NT_CORE + r"\s*\.\s*$"

# N-Quads = the NT pattern + an optional <graph>/bnode term before the dot
_NQ_REGEX = _NT_CORE + r"(?:\s+(?:<([^>]*)>|(_:[^\s]+)))?\s*\.\s*$"

# capture-group indices in _NT_CORE-based patterns
_G_SUBJ_IRI, _G_SUBJ_BN, _G_PRED = 1, 2, 3
_G_OBJ_IRI, _G_OBJ_BN, _G_LIT, _G_LANG, _G_DT = 4, 5, 6, 7, 8
_G_GRAPH_IRI, _G_GRAPH_BN = 9, 10


def _read_nlines(spark: SparkSession, path: str, regex: str,
                 with_graph: bool, strict: bool = False) -> DataFrame:
    lines = spark.read.text(path)
    g = lambda i: F.regexp_extract("value", regex, i)  # noqa: E731
    first = lambda a, b: F.when(a != "", a).otherwise(b)  # noqa: E731
    cols = [first(g(_G_SUBJ_IRI), g(_G_SUBJ_BN)).alias("subj"),
            g(_G_PRED).alias("pred"),
            first(g(_G_OBJ_IRI), g(_G_OBJ_BN)).alias("obj_node"),
            g(_G_LIT).alias("obj_lit"),
            g(_G_LANG).alias("obj_lang"),
            g(_G_DT).alias("obj_datatype")]
    if with_graph:
        cols.append(first(g(_G_GRAPH_IRI), g(_G_GRAPH_BN)).alias("graph"))
    content = (lines
               .filter(F.trim("value") != "")
               .filter(~F.trim("value").startswith("#")))
    if strict:
        # routing the filter through assert_true makes every
        # unparseable content line a loud error instead of a silent
        # drop.  The blank/comment exemptions are INSIDE the asserted
        # condition — Catalyst may reorder conjunctive filters, so the
        # assert must be safe to evaluate on every raw line.
        ok = (F.col("value").rlike(regex)
              | (F.trim("value") == "")
              | F.trim("value").startswith("#"))
        bad_msg = F.concat(
            F.lit("unparseable N-Triples/N-Quads line: "), F.col("value"))
        content = content.filter(F.assert_true(ok, bad_msg).isNull())
    parsed = content.select(*cols).filter(F.col("subj") != "")
    unescaped = F.when(
        F.col("obj_lit").contains("\\"),
        _unescape_udf(F.col("obj_lit"))).otherwise(F.col("obj_lit"))
    out_cols = [
        F.col("subj"), F.col("pred"),
        F.when(F.col("obj_node") != "", F.col("obj_node"))
        .otherwise(unescaped).alias("obj"),
        (F.col("obj_node") == "").alias("obj_is_literal"),
        F.when(F.col("obj_datatype") != "", F.col("obj_datatype"))
        .cast("string").alias("obj_datatype"),
        F.when(F.col("obj_lang") != "", F.col("obj_lang"))
        .cast("string").alias("obj_lang")]
    if with_graph:
        out_cols.append(
            F.when(F.col("graph") != "", F.col("graph"))
            .cast("string").alias("src_graph"))
    return parsed.select(*out_cols)


def read_ntriples(spark: SparkSession, path: str,
                  strict: bool = False) -> DataFrame:
    """Parse .nt files into the engine triple schema.

    Fast path: one JVM regexp per line (regexp_extract on the scan —
    whole-stage codegen, no Python).  Literal unescaping (\\n etc.)
    is finished by a tiny pandas UDF only on literal rows that contain
    a backslash.  Blank-node subjects/objects (``_:b0``) are kept with
    their ``_:label`` lexical form.  Default mode silently skips lines
    that match neither the statement grammar nor blank/comment;
    ``strict=True`` raises on the first such line instead (use it when
    a dump must be ingested loss-free)."""
    return _read_nlines(spark, path, _NT_REGEX, with_graph=False,
                        strict=strict)


def read_nquads(spark: SparkSession, path: str,
                strict: bool = False) -> DataFrame:
    """Parse .nq files (N-Quads — the format web-scale RDF extractions
    like Web Data Commons ship in) into triple rows plus a
    ``src_graph`` column (NULL for default-graph statements).  Same
    line-parallel JVM regexp fast path as :func:`read_ntriples` — the
    ONLY RDF syntax here that needs no document-level state, so a
    single giant dump file still splits across tasks.  Blank nodes are
    accepted in subject/object/graph position (WDC dumps are
    bnode-heavy); ``strict=True`` raises on unparseable content lines
    instead of skipping them."""
    return _read_nlines(spark, path, _NQ_REGEX, with_graph=True,
                        strict=strict)


from pyspark.sql.types import StringType


@F.pandas_udf(StringType())
def _unescape_udf(s: pd.Series) -> pd.Series:
    from ..kernel.rdfio import _unescape
    return s.map(lambda x: None if x is None else _unescape(x))


def _iri_or_bnode(col) -> F.Column:
    """Format a node term: ``_:label`` stays bare, IRIs get ``<>`` —
    keeps the reader's bnode representation round-trippable."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.startswith("_:"), c) \
        .otherwise(F.concat(F.lit("<"), c, F.lit(">")))


def _nt_terms():
    """The ``<s> <p> <o|literal>`` line Column expression shared by the
    NT/NQ writers — all JVM-side string ops, no trailing dot."""
    lit = F.concat(
        F.lit('"'),
        F.regexp_replace(F.regexp_replace(F.regexp_replace(
            F.regexp_replace(F.regexp_replace("obj", r"\\", r"\\\\"),
                             '"', r'\\"'), "\n", r"\\n"),
            "\r", r"\\r"), "\t", r"\\t"),
        F.lit('"'),
        F.when(F.col("obj_lang").isNotNull(),
               F.concat(F.lit("@"), F.col("obj_lang")))
        .when(F.col("obj_datatype").isNotNull(),
              F.concat(F.lit("^^<"), F.col("obj_datatype"), F.lit(">")))
        .otherwise(F.lit("")))
    line = F.concat(
        _iri_or_bnode("subj"), F.lit(" <"), F.col("pred"),
        F.lit("> "),
        F.when(F.col("obj_is_literal"), lit)
        .otherwise(_iri_or_bnode("obj")))
    return line


def write_ntriples(triples: DataFrame, path: str) -> None:
    """Canonically ordered N-Triples dump (JVM-side formatting).

    Scale boundary: the final ``coalesce(1)`` is inherent to "one
    canonical text file" — the sort itself is a distributed
    range-partitioned orderBy, but the write funnels through one task.
    Use this for ontology-file-sized graphs (the ttlfmt nt target); the
    bulk corpus path is the partitioned catalog
    (``plans/catalog.write_triples``), :func:`write_nquads`, or
    ``nifttl_per_graph`` for many-files output."""
    line = F.concat(_nt_terms(), F.lit(" ."))
    (canonical_order(triples).select(line.alias("value"))
     .coalesce(1).write.mode("overwrite").text(path))


def write_nquads(triples: DataFrame, path: str,
                 graph_col: str = "src_graph") -> None:
    """Distributed N-Quads dump: every task writes its own part file
    (N-Quads carries no document state, so a bulk corpus exports with
    FULL parallelism — this is the web-scale dump shape; the canonical
    single-file path is :func:`write_ntriples`).  ``graph_col``
    (nullable, optional) emits the 4th term for named-graph rows."""
    spo = _nt_terms()
    if graph_col in triples.columns:
        line = F.concat(
            spo,
            F.when(F.col(graph_col).isNotNull(),
                   F.concat(F.lit(" "), _iri_or_bnode(graph_col)))
            .otherwise(F.lit("")),
            F.lit(" ."))
    else:
        line = F.concat(spo, F.lit(" ."))
    triples.select(line.alias("value")).write.mode("overwrite").text(path)


_TRIPLE_COLS = ("subj", "pred", "obj", "obj_is_literal", "obj_datatype",
                "obj_lang")


def _rows(df: DataFrame, *extra) -> list[tuple]:
    """The one driver collect of the small-graph writers: a tuple per
    row in triple-column order, then the ``extra`` columns."""
    return [tuple(r) for r in df.select(*_TRIPLE_COLS, *extra).collect()]


def _cull(prefix_map, rows) -> dict:
    """``prefix_map`` culled to the IRIs of ``rows`` (subjects,
    predicates and non-literal objects)."""
    return prefix_map.cull({r[0] for r in rows} | {r[1] for r in rows}
                           | {r[2] for r in rows if not r[3]})


def write_turtle_string(triples: DataFrame, prefix_map=None) -> str:
    """Deterministic turtle text for a small graph (driver-side format
    of the distributively-ordered triples) — the engine analog of
    ``OntGraph.write`` (``pyontutils/core.py:504-509``)."""
    pm = prefix_map or DEFAULT_PREFIXES
    return format_turtle(_rows(canonical_order(triples)), pm)


def write_rdfxml_string(triples: DataFrame, prefix_map=None) -> str:
    """Deterministic RDF/XML text for a small graph — write-side
    complement of :func:`read_rdfxml`, closing the serialize-format
    gap vs the reference's rdflib ``serialize(format='xml')``
    (``ttlser/ttlfmt.py:78-100``).  Round-trip property:
    ``read(write(g)) == g`` as a row set (skolemized bnodes are plain
    IRIs).  Driver-sized by the same boundary as
    :func:`write_turtle_string`."""
    from ..kernel.rdfxml import serialize_rdfxml
    pm = prefix_map or DEFAULT_PREFIXES
    return serialize_rdfxml(_rows(triples), pm.prefix_to_ns
                            if hasattr(pm, "prefix_to_ns") else pm)


def write_jsonld_string(triples: DataFrame) -> str:
    """Deterministic expanded-form JSON-LD text for a small graph —
    write-side complement of :func:`read_jsonld` (same format-gap
    rationale and round-trip property as :func:`write_rdfxml_string`)."""
    from ..kernel.jsonld import serialize_jsonld
    return serialize_jsonld(_rows(triples))


def write_nifttl_string(triples: DataFrame,
                        namespaces: dict | None = None) -> str:
    """Reference-byte-compatible nifttl text for a small graph
    (``CustomTurtleSerializer`` layout, ttlser/serializers.py:148-778):
    section headers, curated predicate order, fixed-point bnode
    ranking, nested ``[ ]``/``( )`` re-anonymization.  Verified
    byte-equal to the ttlser golden files in
    tests/test_nifttl_parity.py.  ``namespaces``: the prefix block to
    emit (the source document's declarations); defaults to the engine
    prefix table culled to the graph's IRIs."""
    from ..kernel.nifttl import serialize_nifttl
    rows = _rows(triples)
    if namespaces is None:
        namespaces = _cull(DEFAULT_PREFIXES, rows)
    return serialize_nifttl(rows, namespaces)


def nifttl_per_graph(triples: DataFrame, namespaces: dict,
                     graph_col: str = "src_file") -> DataFrame:
    """Distributed nifttl: serialize MANY graphs in parallel — one
    deterministic nifttl document per ``graph_col`` group (the kernel
    serializer is pure Python, so each worker renders its graphs
    independently).  This is the 100-TB shape for the writer: a corpus
    of 10^4-10^6 ontology FILES serializes with full cluster
    parallelism while each document keeps the exact golden-tested byte
    layout.  Returns (graph_key, ttl) rows.

    Grouping is a JVM-side ``collect_list(struct(...))`` aggregate
    feeding ONE Arrow-batched pandas UDF that loops over many graphs
    per batch (round 7): ``applyInPandas`` paid per-GROUP pandas/Arrow
    framing, which dominated wall-clock at document scale (5k 36-triple
    graphs: 9.2 s -> 1.9 s, byte-identical output).  Memory shape is
    unchanged — either form materializes one whole document's triples
    per group, which the serializer needs anyway; a graph is a FILE,
    not a corpus.

    ``namespaces`` must be a plain dict (broadcast via closure); per-
    graph prefix blocks can differ only through culling — pass the
    union map and set ``cull`` semantics upstream if needed."""
    from pyspark.sql.types import StringType

    from ..kernel.nifttl import serialize_nifttl

    def _ser_series(trip_lists: pd.Series) -> pd.Series:
        return pd.Series([
            serialize_nifttl(
                [(r["subj"], r["pred"], r["obj"], r["obj_is_literal"],
                  r["obj_datatype"], r["obj_lang"]) for r in rows],
                namespaces)
            for rows in trip_lists])

    ser = F.pandas_udf(_ser_series, StringType())
    agg = (triples.groupBy(graph_col)
           .agg(F.collect_list(F.struct(
               "subj", "pred", "obj", "obj_is_literal",
               "obj_datatype", "obj_lang")).alias("_trips")))
    return agg.select(F.col(graph_col).alias("graph_key"),
                      ser("_trips").alias("ttl"))


def write_turtle_html_string(triples: DataFrame, prefix_map=None,
                             labels: dict | None = None) -> str:
    """Hyperlinked-ttl presentation variant (HtmlTurtleSerializer,
    ttlser/serializers.py:781-824 — in the reference too a subclass of
    the nifttl serializer; here likewise a subclass of the byte-parity
    nifttl kernel, ``kernel/nifttl.HtmlTtlSerializer``).  Reference
    mechanics mirrored at label() time, not post-hoc: ``<br>\n``
    newlines + NBSP structural spaces/indent (:784-785), plain prefix
    block with &lt;-escaped IRIs (:793-799), every IRI/qname (and
    literal datatype qname) wrapped in an ``htmlfn.atag`` whose title
    is the node's rdfs:label when known (:801-817), literal content
    untouched; ``labels`` merges external labels exactly like the
    serialize(labels=...) kwarg (:819-824)."""
    from ..kernel.nifttl import serialize_html

    rows = _rows(triples)
    namespaces = (_cull(DEFAULT_PREFIXES, rows) if prefix_map is None
                  else dict(prefix_map))
    return serialize_html(rows, namespaces, labels=labels)


def read_turtle(spark: SparkSession, path: str) -> DataFrame:
    """Turtle files -> triple rows (kernel/ttl.py parser per file).
    Blank nodes are skolemized per file path, so output is
    deterministic and join-safe."""
    from ..kernel.ttl import parse_turtle
    return _per_file(_text_files(spark, path), parse_turtle,
                     vocab.TRIPLE_SCHEMA)


def read_turtle_with_src(spark: SparkSession, paths) -> DataFrame:
    """Like read_turtle but keeps the source file path column
    (src_file) — the imports localizer needs to know which FILE each
    owl:imports edge came from.  ``paths``: str or list of paths."""
    from ..kernel.ttl import parse_turtle

    def parse(text, src):
        # input_file_name returns a file: URI; keep plain paths
        plain = src[7:] if src.startswith("file://") else (
            src[5:] if src.startswith("file:") else src)
        return ((plain, *row) for row in parse_turtle(text, src))

    return _per_file(_text_files(spark, paths), parse,
                     "src_file string, " + vocab.TRIPLE_SCHEMA)


def read_ontology_headers(spark: SparkSession, path: str) -> DataFrame:
    """Bounded ontology-header scan: triple rows from ONLY the prefix
    block + first owl:Ontology stanza of each turtle file (the
    reference streams a remote file until the header completes,
    ``core.py:298-379``; the Spark analog bounds the parse — body
    bytes are never tokenized)."""
    from ..kernel.ttl import parse_turtle_header
    return _per_file(_text_files(spark, path), parse_turtle_header,
                     vocab.TRIPLE_SCHEMA)


def read_rdfxml(spark: SparkSession, path: str) -> DataFrame:
    """RDF/XML files -> triple rows (kernel/rdfxml.py per file)."""
    from ..kernel.rdfxml import parse_rdfxml
    return _per_file(_text_files(spark, path), parse_rdfxml,
                     vocab.TRIPLE_SCHEMA)


def read_trig(spark: SparkSession, path: str) -> DataFrame:
    """TriG files -> quad rows: the engine triple schema plus
    ``src_graph`` (NULL for default-graph statements) — the document
    analog of :func:`read_nquads`, same output schema.  TriG carries
    document-level state (prefixes, base, graph blocks) so the file is
    the parse unit (kernel/trig.py per file); every Turtle file is
    also a valid TriG file and parses to all-NULL ``src_graph``."""
    from ..kernel.trig import parse_trig
    return _per_file(_text_files(spark, path), parse_trig,
                     vocab.TRIPLE_SCHEMA + ", src_graph string")


def write_trig_string(triples: DataFrame, prefix_map=None,
                      graph_col: str = "src_graph") -> str:
    """Deterministic TriG text for a small graph set — write-side
    complement of :func:`read_trig` (same driver-size boundary and
    round-trip property as :func:`write_rdfxml_string`; the bulk
    named-graph dump shape is :func:`write_nquads`).  ``graph_col``
    (nullable, optional) supplies the named graph per row."""
    from ..kernel.trig import serialize_trig
    graph = graph_col if graph_col in triples.columns else F.lit(None)
    pm = prefix_map or DEFAULT_PREFIXES
    return serialize_trig(_rows(triples, graph), pm)


def read_jsonld(spark: SparkSession, path: str) -> DataFrame:
    """JSON-LD files -> triple rows (kernel/jsonld.py per file)."""
    from ..kernel.jsonld import parse_jsonld
    return _per_file(_text_files(spark, path), parse_jsonld,
                     vocab.TRIPLE_SCHEMA)


def read_rdf(spark: SparkSession, path: str,
             rdf_format: str | None = None) -> DataFrame:
    """Format-dispatched RDF read with fallback — the engine analog of
    ``ttlfmt``'s parse-with-format-fallback loop
    (``ttlser/ttlser/ttlfmt.py:75,78-100``): explicit format wins, then
    extension, then the ttlfmt try-order turtle -> json-ld -> nt ->
    rdf-xml."""
    readers = {"turtle": read_turtle, "ttl": read_turtle,
               "nt": read_ntriples, "ntriples": read_ntriples,
               "nq": read_nquads, "nquads": read_nquads,
               "json-ld": read_jsonld, "jsonld": read_jsonld,
               "rdf-xml": read_rdfxml, "rdfxml": read_rdfxml,
               "xml": read_rdfxml, "obo": read_obo,
               "trig": read_trig}
    if rdf_format:
        return readers[rdf_format](spark, path)
    low = path.lower()
    for ext, fn in ((".ttl", read_turtle), (".nt", read_ntriples),
                    (".nq", read_nquads), (".trig", read_trig),
                    (".jsonld", read_jsonld), (".json", read_jsonld),
                    (".owl", read_rdfxml), (".rdf", read_rdfxml),
                    (".xml", read_rdfxml), (".obo", read_obo)):
        if low.endswith(ext) or low.endswith(ext + "*") \
                or (ext + "/") in low:
            return fn(spark, path)
    last_err = None
    for fn in (read_turtle, read_jsonld, read_ntriples, read_rdfxml,
               read_trig):
        try:
            df = fn(spark, path)
            if not df.limit(1).collect():
                # 0 triples is valid only for an empty/comment-only
                # source; the NT regex silently drops unparseable lines,
                # so a non-empty 0-triple result means "wrong format".
                content = (spark.read.text(path)
                           .filter(F.trim("value") != "")
                           .filter(~F.trim("value").startswith("#")))
                if content.limit(1).collect():
                    raise ValueError("parsed 0 triples from non-empty "
                                     "content")
            return df
        except Exception as e:  # noqa: BLE001 — fallback chain
            last_err = e
    raise ValueError(f"read_rdf: no format parsed {path}: {last_err}")


def read_obo(spark: SparkSession, path: str) -> DataFrame:
    """OBO files -> triple rows: header ontology-level triples
    (owl:Ontology/imports/versionInfo, ``header_triples``) + stanza
    triples, parsed per file."""
    from ..kernel.obo import header_triples

    def parse(text, _src):
        doc = parse_obo(text)
        for s, p, o, is_lit in header_triples(doc["header"]):
            yield s, p, o, is_lit, None, None
        for stanza in doc["stanzas"]:
            for s, p, o, is_lit in stanza_triples(stanza):
                yield s, p, o, is_lit, None, None

    return _per_file(_text_files(spark, path), parse, vocab.TRIPLE_SCHEMA)
