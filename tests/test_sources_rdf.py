"""RDF sources/sinks: NT read/write round-trip, deterministic turtle
(byte-identical under shuffled partitioning — the ttlser golden-file
pattern), OBO -> triples."""

import os

import pytest
from pyspark.sql import functions as F

from pyontutils_spark.kernel.curies import DEFAULT as PREFIXES, PrefixMap
from pyontutils_spark.kernel.norm import natsort_key, object_sort_key
from pyontutils_spark.operators import vocab
from pyontutils_spark.operators.ordering import canonically_ordered
from pyontutils_spark.sources.rdf import (
    read_ntriples, read_obo, write_ntriples, write_turtle_string)

TRIPLES = [
    ("http://e/b", vocab.RDF_TYPE, vocab.OWL_CLASS, False, None, None),
    ("http://e/b", vocab.RDFS_LABEL, "thing b", True, None, None),
    ("http://e/a10", vocab.RDFS_LABEL, 'has "quotes" and \\slash', True,
     None, None),
    ("http://e/a9", vocab.RDFS_LABEL, "tagged", True, None, "en"),
    ("http://e/a9", vocab.RDFS_SUBCLASSOF, "http://e/b", False, None, None),
]


@pytest.fixture(scope="module")
def tdf(spark):
    return spark.createDataFrame(TRIPLES, vocab.TRIPLE_SCHEMA)


def test_nt_write_read_roundtrip(spark, tdf, tmp_path):
    path = str(tmp_path / "out.nt")
    write_ntriples(tdf, path)
    back = read_ntriples(spark, path)
    got = {(r.subj, r.pred, r.obj, r.obj_is_literal, r.obj_datatype,
            r.obj_lang) for r in back.collect()}
    assert got == set(TRIPLES)


def test_nt_write_deterministic_bytes(spark, tdf, tmp_path):
    outs = []
    for i, parts in enumerate((1, 3, 5)):
        path = str(tmp_path / f"o{i}.nt")
        write_ntriples(tdf.repartition(parts), path)
        files = [f for f in os.listdir(path) if f.startswith("part-")]
        with open(os.path.join(path, files[0]), "rb") as f:
            outs.append(f.read())
    assert outs[0] == outs[1] == outs[2]


_XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"
# Rank ties: natsort case-folds (A/a, p/P) and strips leading zeros
# (x01/x1); the integer literals 01/1 share their numeric part.  Only
# the raw-term tie-break keys order these rows.
TIES = [(s, p, o, il, _XSD_INT if il else None, None)
        for s in ("http://e/a", "http://e/x1", "http://e/A", "http://e/x01")
        for p in ("http://e/p", "http://e/P")
        for o, il in (("1", True), ("http://e/a", False), ("01", True),
                      ("http://e/A", False))]


def _nt_bytes(df, path) -> bytes:
    write_ntriples(df, path)
    files = [f for f in os.listdir(path) if f.startswith("part-")]
    assert len(files) == 1
    with open(os.path.join(path, files[0]), "rb") as f:
        return f.read()


def _tie_sort_key(t):
    s, p, o, il, dt, lg = t
    return (natsort_key(PREFIXES.qname(s)), natsort_key(PREFIXES.qname(p)),
            object_sort_key(o, il, dt, lg,
                            qname=None if il else PREFIXES.qname(o)),
            s, p, o)


def test_nt_tie_breaks_match_kernel_sort(spark, tmp_path):
    """Rows whose ranks tie are ordered by (subj, pred, obj) under any
    input partitioning, exactly as a pure-Python sort by the kernel key
    functions orders them."""
    tdf = spark.createDataFrame(TIES, vocab.TRIPLE_SCHEMA)
    outs = {_nt_bytes(tdf.repartition(parts), str(tmp_path / f"o{parts}"))
            for parts in (1, 3, 7)}
    assert len(outs) == 1
    expected = "".join(
        f"<{s}> <{p}> " + (f'"{o}"^^<{dt}>' if il else f"<{o}>") + " .\n"
        for s, p, o, il, dt, _ in sorted(TIES, key=_tie_sort_key))
    assert outs.pop() == expected.encode()


def test_canonical_order_sorts_in_one_partition(spark):
    """The ranks are computed once, in the checkpoint job; the returned
    plan only sorts that one partition: no range-partition exchange
    (whose sampling job re-runs the rank UDFs) and no Python stage."""
    tdf = spark.createDataFrame(TIES, vocab.TRIPLE_SCHEMA).repartition(7)
    with canonically_ordered(tdf) as ordered:
        plan = ordered._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in plan.lower()
        assert "EvalPython" not in plan
        assert ordered.rdd.getNumPartitions() == 1
        assert ordered.columns == tdf.columns


def test_writers_release_their_order_checkpoint(spark, tdf, tmp_path):
    """Each write drops the local checkpoint its canonical order ranked
    into: after three writes no RDD of theirs is still stored."""
    jsc = spark.sparkContext._jsc.sc()

    def stored():
        info = jsc.getRDDStorageInfo()
        return {info[i].id() for i in range(len(info))}

    before = stored()
    write_ntriples(tdf, str(tmp_path / "a.nt"))
    write_ntriples(tdf.repartition(3), str(tmp_path / "b.nt"))
    assert write_turtle_string(tdf)
    assert stored() - before == set()


def test_turtle_deterministic_under_shuffle(spark, tdf):
    pm = PrefixMap()
    ttls = {write_turtle_string(tdf.repartition(p), pm) for p in (1, 2, 7)}
    assert len(ttls) == 1
    ttl = ttls.pop()
    assert "@prefix owl:" in ttl and "@prefix rdfs:" in ttl
    assert "a owl:Class" in ttl


OBO_TEXT = """format-version: 1.2

[Term]
id: GO:0000001
name: mitochondrion inheritance
is_a: GO:0048308

[Term]
id: GO:0000002
name: second term
"""


def test_read_obo(spark, tmp_path):
    p = tmp_path / "test.obo"
    p.write_text(OBO_TEXT)
    df = read_obo(spark, str(p))
    got = {(r.subj, r.pred, r.obj, r.obj_is_literal) for r in df.collect()}
    assert ("http://purl.obolibrary.org/obo/GO_0000001",
            vocab.RDFS_LABEL, "mitochondrion inheritance", True) in got
    assert ("http://purl.obolibrary.org/obo/GO_0000001",
            vocab.RDFS_SUBCLASSOF,
            "http://purl.obolibrary.org/obo/GO_0048308", False) in got
    assert len({s for s, *_ in got}) == 2


def test_turtle_html_variant(spark, tdf):
    """Reference HtmlTurtleSerializer structure: <br> line endings,
    NBSP indentation, plain prefix block, IRI/qname atags with
    title=rdfs:label, external labels merged (serializers.py:781-824)."""
    from pyontutils_spark.sources.rdf import write_turtle_html_string
    html = write_turtle_html_string(
        tdf, labels={"http://e/b": "external b label"})
    assert "<br>\n" in html and " " in html
    # full IRI linked in a new tab, labelled from the labels kwarg —
    # htmlfn.atag with a title grows the tooltip-div wrapper, and the
    # anchor text keeps the escaped <...> brackets (reference label())
    assert ('<div class="tip"><a href="http://e/b" target="_blank" '
            'title="external b label">&lt;http://e/b&gt;</a>'
            '<div class="cont"> <div class="tooltip">external b label'
            '</div></div></div>') in html
    # qname (owl:Class) linked to its expansion
    assert ('<a href="http://www.w3.org/2002/07/owl#Class" '
            'target="_blank">owl:Class</a>') in html
    # prefix block stays plain (no atag) with &lt;-escaped IRIs
    for line in html.split("<br>\n"):
        if line.startswith("@prefix"):
            assert "<a " not in line and "&lt;" in line
    # literal text never linked, and NEVER escaped (the reference
    # writes literal content raw)
    assert '"thing b"' in html and "&quot;" not in html


def test_turtle_html_escaped_quote_literal_guard(spark):
    """An escaped quote (\\" in the source) inside a literal must NOT
    flip the in-literal state: qname-like text inside the literal stays
    unlinked, and real code AFTER the literal is still linkified."""
    from pyontutils_spark.operators import vocab
    from pyontutils_spark.sources.rdf import write_turtle_html_string
    rows = [
        ("http://www.w3.org/2002/07/owl#e1", vocab.RDF_TYPE,
         "http://www.w3.org/2002/07/owl#Class", False, None, None),
        # literal with escaped quotes around a qname-looking token
        ("http://www.w3.org/2002/07/owl#e1", vocab.RDFS_LABEL,
         'say "owl:Thing" loudly', True, None, None),
        # and a backslash-before-quote trap: literal ends \\ then "
        ("http://www.w3.org/2002/07/owl#e1",
         "http://www.w3.org/2000/01/rdf-schema#comment",
         "trailing backslash \\", True, None, None),
    ]
    tdf = spark.createDataFrame(rows, vocab.TRIPLE_SCHEMA)
    html = write_turtle_html_string(tdf)
    # the qname inside the literal is NOT linkified
    assert ">owl:Thing</a>" not in html
    # the real owl:Class object IS linkified
    assert ('<a href="http://www.w3.org/2002/07/owl#Class" '
            'target="_blank">owl:Class</a>') in html
    # the literal's escaped quotes survive verbatim (raw, unescaped —
    # label-time linkification never touches literal content)
    assert '\\"owl:Thing\\"' in html


def test_read_obo_emits_header_triples(spark, tmp_path):
    p = tmp_path / "h.obo"
    p.write_text("format-version: 1.2\nontology: go\n"
                 "import: http://purl.obolibrary.org/obo/ro.owl\n\n"
                 "[Term]\nid: GO:1\nname: x\n")
    got = {(r.subj, r.pred, r.obj) for r in
           read_obo(spark, str(p)).collect()}
    ont = "http://purl.obolibrary.org/obo/go.owl"
    assert (ont, "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "http://www.w3.org/2002/07/owl#Ontology") in got
    assert (ont, "http://www.w3.org/2002/07/owl#imports",
            "http://purl.obolibrary.org/obo/ro.owl") in got


def test_nifttl_per_graph_distributed(spark, tmp_path):
    """Distributed per-graph nifttl: N files in -> N deterministic
    documents out via applyInPandas, each byte-equal to the
    driver-side kernel serialization of the same graph."""
    from pyontutils_spark.kernel.nifttl import serialize_nifttl
    from pyontutils_spark.kernel.ttl import parse_turtle_document
    from pyontutils_spark.sources.rdf import (
        nifttl_per_graph, read_turtle_with_src)
    ns = {"ex": "http://ex.org/",
          "owl": "http://www.w3.org/2002/07/owl#"}
    texts = {}
    for i in range(4):
        t = ("@prefix ex: <http://ex.org/> .\n"
             "@prefix owl: <http://www.w3.org/2002/07/owl#> .\n"
             f"ex:c{i} a owl:Class ;\n"
             f"    ex:p \"v{i}\" .\n"
             f"ex:d{i} a owl:Class .\n")
        (tmp_path / f"g{i}.ttl").write_text(t)
        texts[f"g{i}.ttl"] = t
    df = read_turtle_with_src(spark, str(tmp_path))
    out = {r.graph_key.rsplit("/", 1)[1]: r.ttl
           for r in nifttl_per_graph(df, ns).collect()}
    assert set(out) == set(texts)
    for name, src_text in texts.items():
        rows, _p, _ = parse_turtle_document(src_text, str(tmp_path) + "/" + name)
        assert out[name] == serialize_nifttl(rows, ns)
        assert "### Classes" in out[name]


def test_nifttl_per_graph_bytes_equal_driver_writer(spark):
    """The distributed writer is the 100-TB shape: drive 50 synthetic
    ontologies through nifttl_per_graph and assert every document's
    bytes equal the driver-side write_nifttl_string on the same
    graph's rows (same namespaces)."""
    from pyontutils_spark.sources.rdf import (
        nifttl_per_graph, write_nifttl_string)
    from pyontutils_spark.synth.graphs import ontology_graphs
    trips = ontology_graphs(spark, 50).cache()
    got = {r.graph_key: r.ttl
           for r in nifttl_per_graph(trips, {}).collect()}
    assert len(got) == 50
    for gk in ("file:///onts/g0.ttl", "file:///onts/g7.ttl",
               "file:///onts/g49.ttl"):
        one = trips.filter(F.col("src_file") == gk).drop("src_file")
        assert got[gk] == write_nifttl_string(one, {})
    trips.unpersist()


def test_nquads_roundtrip_and_graph_column(spark, tmp_path):
    """N-Quads: JVM-regexp line parse with src_graph (4th term), NULL
    for default-graph lines; distributed writer roundtrips including
    literal escapes, langs, datatypes."""
    from pyontutils_spark.sources.rdf import read_nquads, write_nquads
    nq = tmp_path / "in.nq"
    nq.write_text(
        '<http://e/a> <http://p/x> <http://e/b> <http://g/1> .\n'
        '# a comment line\n'
        '<http://e/a> <http://p/l> "esc \\"q\\" and\\nnl" <http://g/1> .\n'
        '<http://e/c> <http://p/l> "hallo"@de .\n'
        '<http://e/c> <http://p/n> '
        '"5"^^<http://www.w3.org/2001/XMLSchema#integer> <http://g/2> .\n')
    df = read_nquads(spark, str(nq))
    rows = {(r.subj, r.pred, r.obj, r.obj_is_literal, r.obj_datatype,
             r.obj_lang, r.src_graph) for r in df.collect()}
    assert rows == {
        ("http://e/a", "http://p/x", "http://e/b", False, None, None,
         "http://g/1"),
        ("http://e/a", "http://p/l", 'esc "q" and\nnl', True, None, None,
         "http://g/1"),
        ("http://e/c", "http://p/l", "hallo", True, None, "de", None),
        ("http://e/c", "http://p/n", "5", True,
         "http://www.w3.org/2001/XMLSchema#integer", None, "http://g/2"),
    }
    out = tmp_path / "out.nq"
    write_nquads(df, str(out))
    back = {(r.subj, r.pred, r.obj, r.obj_is_literal, r.obj_datatype,
             r.obj_lang, r.src_graph)
            for r in read_nquads(spark, str(out)).collect()}
    assert back == rows
    # no single-file funnel: the distributed writer is allowed >1 part
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan or "ArrowEvalPython" in plan


def test_nquads_blank_nodes_roundtrip(spark, tmp_path):
    """WDC-style dumps are bnode-heavy: _: terms must parse in subject,
    object AND graph position (the old <IRI>-only regex silently
    dropped them), keep their _:label lexical form, and round-trip
    through the distributed writer."""
    from pyontutils_spark.sources.rdf import (
        read_nquads, read_ntriples, write_nquads)
    nq = tmp_path / "bn.nq"
    nq.write_text(
        '_:b0 <http://p/x> <http://e/a> <http://g/1> .\n'
        '<http://e/a> <http://p/y> _:b0 .\n'
        '_:b0 <http://p/l> "lit"@en _:g1 .\n'
        '_:n1.dot <http://p/x> _:b2 .\n')
    df = read_nquads(spark, str(nq))
    rows = {(r.subj, r.pred, r.obj, r.obj_is_literal, r.obj_lang,
             r.src_graph) for r in df.collect()}
    assert rows == {
        ("_:b0", "http://p/x", "http://e/a", False, None, "http://g/1"),
        ("http://e/a", "http://p/y", "_:b0", False, None, None),
        ("_:b0", "http://p/l", "lit", True, "en", "_:g1"),
        ("_:n1.dot", "http://p/x", "_:b2", False, None, None),
    }
    out = tmp_path / "bn_out.nq"
    write_nquads(df, str(out))
    back = {(r.subj, r.pred, r.obj, r.obj_is_literal, r.obj_lang,
             r.src_graph)
            for r in read_nquads(spark, str(out)).collect()}
    assert back == rows
    # N-Triples path accepts bnodes too
    nt = tmp_path / "bn.nt"
    nt.write_text('_:s <http://p/x> _:o .\n')
    got = read_ntriples(spark, str(nt)).collect()
    assert [(r.subj, r.obj) for r in got] == [("_:s", "_:o")]


def test_nquads_strict_mode_raises_on_bad_line(spark, tmp_path):
    """Default mode skips unparseable lines (documented); strict=True
    turns every dropped content line into a loud error — comments and
    blanks stay exempt."""
    import pytest

    from pyontutils_spark.sources.rdf import read_nquads
    good = tmp_path / "good.nq"
    good.write_text('# header\n\n<http://e/a> <http://p/x> "v" .\n')
    assert read_nquads(spark, str(good), strict=True).count() == 1
    bad = tmp_path / "bad.nq"
    bad.write_text('<http://e/a> <http://p/x> "v" .\n'
                   'this is not a statement\n')
    assert read_nquads(spark, str(bad)).count() == 1  # silent skip
    with pytest.raises(Exception) as ei:
        read_nquads(spark, str(bad), strict=True).count()
    assert "unparseable" in str(ei.value)
