"""End-to-end triple factory vs golden oracles (P/R target >= 0.95,
BASELINE.json:metric — this corpus is exactly reproducible so we assert
P/R == 1.0), plus the randomize-then-compare determinism pattern of the
reference (ttlser/test/test_ttlser.py:56-74, 129-173): shuffled
partitioning must yield the identical triple set and checksum."""

import pytest

from pyontutils_spark.kernel.ids import graph_checksum, page_iri, triple_bytes
from pyontutils_spark.operators import emit, mentions as mention_ops
from pyontutils_spark.operators.extract import with_extracted_text
from pyontutils_spark.plans.pipeline import run_triple_factory
from pyontutils_spark.synth import golden
from pyontutils_spark.synth.lexicon import make_lexicon
from pyontutils_spark.synth.pages import make_pages
from pyontutils_spark.synth.spark_gen import pages_df, pages_df_local

N = 100

LEX = make_lexicon()
PAGES = make_pages(N, LEX)


@pytest.fixture(scope="module")
def result(spark):
    df = pages_df_local(spark, PAGES)
    return run_triple_factory(spark, df, LEX)


def _collect_triples(df):
    return {(r.subj, r.pred, r.obj, r.obj_is_literal)
            for r in df.select("subj", "pred", "obj", "obj_is_literal")
            .collect()}


def test_extraction_invariant_bytes(spark):
    df = pages_df_local(spark, PAGES)
    out = with_extracted_text(df, force=True).select("url", "text").collect()
    want = {p["url"]: p["golden_text"] for p in PAGES}
    assert len(out) == N
    for r in out:
        assert r.text.encode() == want[r.url].encode(), r.url


@pytest.fixture(scope="module")
def mentions(spark):
    """Offset-bearing mentions (the annotate contract) of the corpus."""
    bc = mention_ops.broadcast_automaton(spark, LEX)
    return mention_ops.detect_mentions_fused(pages_df_local(spark, PAGES), bc)


def test_extract_if_missing_keeps_existing(spark):
    df = pages_df_local(spark, PAGES)
    rows = with_extracted_text(df).select("url", "text").collect()
    want = {p["url"]: p["golden_text"] for p in PAGES}
    for r in rows:
        assert r.text == want[r.url]


def test_mentions_match_golden(mentions):
    got = {(r.url, r.start, r.end, r.pattern_norm)
           for r in mentions.collect()}
    want = {(p["url"], s, e, pat)
            for p in PAGES if p["lang"] == "en"
            for s, e, _, pat in p["mentions"]}
    assert got == want


def test_mention_surfaces(mentions):
    for r in mentions.limit(50).collect():
        assert r.surface.lower().strip() == r.pattern_norm


def test_linked_plan_has_one_python_stage(spark):
    """The factory's mention stage runs a single Arrow pass (html rows
    only; pre-extracted rows match in the JVM): one MapInPandas node,
    no contradictory text filter, two partitions per page partition."""
    df = pages_df_local(spark, PAGES).repartition(4)
    linked = run_triple_factory(spark, df, LEX).linked
    qe = linked._jdf.queryExecution()
    assert qe.optimizedPlan().toString().count("MapInPandas") == 1
    executed = qe.executedPlan().toString()
    assert executed.count("MapInPandas") == 1
    assert not any("isnull(text" in line and "isnotnull(text" in line
                   for line in executed.splitlines())
    assert linked.rdd.getNumPartitions() == 2 * df.rdd.getNumPartitions()


def test_triples_precision_recall(result):
    got = _collect_triples(result.triples)
    want = golden.corpus_triples(PAGES, LEX)
    tp = len(got & want)
    precision = tp / len(got)
    recall = tp / len(want)
    assert precision == 1.0, sorted(got - want)[:5]
    assert recall == 1.0, sorted(want - got)[:5]


def test_no_duplicate_triples(result):
    assert result.triples.count() == \
        result.triples.dropDuplicates(["subj", "pred", "obj"]).count()


def test_closed_predicate_vocabulary(result):
    assert emit.check_closed_predicates(result.triples) == 0


def test_label_cardinality(result):
    assert emit.check_label_cardinality(result.triples).count() == 0


def test_determinism_across_partitionings(spark):
    """Same corpus through 1, 3, 8 partitions (and distributed
    generation) -> identical triple set + identical graph checksum."""
    sets, sums = [], []
    for parts in (1, 3, 8):
        df = pages_df_local(spark, PAGES).repartition(parts)
        res = run_triple_factory(spark, df, LEX)
        t = _collect_triples(res.triples)
        sets.append(t)
        sums.append(graph_checksum(
            triple_bytes(s, p, o, il) for s, p, o, il in t))
    assert sets[0] == sets[1] == sets[2]
    assert sums[0] == sums[1] == sums[2]


def test_distributed_generation_matches_local(spark):
    dist = pages_df(spark, 30).orderBy("url").collect()
    loc = pages_df_local(spark, make_pages(30, LEX)).orderBy("url").collect()
    assert len(dist) == len(loc) == 30
    for a, b in zip(dist, loc):
        assert a.url == b.url
        assert bytes(a.html) == bytes(b.html)
        assert a.text == b.text
        assert a.warc_ts == b.warc_ts


def test_page_iri_jvm_matches_kernel(spark, result):
    rows = (result.triples
            .filter("pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'")
            .filter("obj like '%WebPage'").select("subj").collect())
    want = {page_iri(p["url"]) for p in PAGES}
    assert {r.subj for r in rows} == want


def test_canonicalized_triples_match_golden(spark, result):
    """Duplicate-label entities collapse to the natsort-min IRI with
    owl:sameAs provenance (synonym/label collapsing semantics)."""
    from pyontutils_spark.plans.pipeline import canonicalize_triples
    got = _collect_triples(canonicalize_triples(result.triples))
    want = golden.canonicalized_corpus_triples(PAGES, LEX)
    assert got == want, (sorted(got - want)[:4], sorted(want - got)[:4])
    # the planted duplicate pair ('cortex' on terms 1+2) must collapse
    # when both are linked somewhere in the corpus
    t1, t2 = LEX[1]["iri"], LEX[2]["iri"]
    linked = {s for s, p, o, il in golden.corpus_triples(PAGES, LEX)}
    if t1 in linked and t2 in linked:
        from pyontutils_spark.operators import vocab
        assert (t2, vocab.OWL_SAMEAS, t1, False) in got
        assert all(s != t2 or p == vocab.OWL_SAMEAS for s, p, o, il in got)


def test_no_aggregate_above_family_union(result):
    """Each triple family dedups where it is produced; their union is a
    set by disjointness, so the optimized plan's root is the Union of
    the three families, each topped by its own Aggregate."""
    plan = result.triples._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "Union"
    families = [plan.children().apply(i)
                for i in range(plan.children().size())]
    assert [f.nodeName() for f in families] == ["Aggregate"] * 3


def test_entity_triples_disjoint_from_page_families():
    """No entity triple can equal a page-type or mention triple: entity
    rows never use ilx:isAbout and never type a WebPage, for the
    synthetic lexicon plus a term with every optional field set."""
    from pyontutils_spark.operators import vocab
    full = dict(LEX[7], synonyms=["syn a", "syn b"], parents=["ILX:100000"],
                deprecated=True, replaced_by="ILX:100001")
    rows = [r for t in LEX + [full] for r in emit.entity_triple_rows(t)]
    assert {vocab.NIFRID_SYNONYM, vocab.RDFS_SUBCLASSOF, vocab.OWL_DEPRECATED,
            vocab.REPLACED_BY} <= {r["pred"] for r in rows}
    assert all(r["pred"] != vocab.IS_ABOUT for r in rows)
    assert all((r["pred"], r["obj"]) != (vocab.RDF_TYPE, vocab.WEBPAGE_CLASS)
               for r in rows)
