"""Canonicalization: large-star/small-star CC vs planted components
(FIXTURES.md §7), canonical IRIs from duplicate-label groups
(get_label2rows semantics), and triple rewrite with owl:sameAs
provenance (switchURIs/swapUriSwitch semantics)."""

import pytest
from pyspark.sql import functions as F

from pyontutils_spark.operators import vocab
from pyontutils_spark.operators.components import (
    canonical_mapping, canonical_mapping_from_labels,
    connected_components_ids, rewrite_triples)
from pyontutils_spark.synth.sameas import make_sameas_fixture


@pytest.fixture(scope="module")
def fixture(spark):
    edges, expected = make_sameas_fixture()
    df = spark.createDataFrame(edges, "a string, b string")
    return df, expected


def test_connected_components_integer_core(spark):
    # chain 0-4, star 10<-{11,12}, singleton pair 20-21
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (20, 21)]
    df = spark.createDataFrame(edges, "u long, v long")
    comp = {r.node: r.component
            for r in connected_components_ids(df).collect()}
    assert comp == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0,
                    10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_canonical_mapping_matches_expected(spark, fixture):
    df, expected = fixture
    got = {r.iri: r.canonical_iri
           for r in canonical_mapping(df).collect()}
    assert got == expected


def test_canonical_is_natsort_min(spark, fixture):
    df, expected = fixture
    # the natsort-trap component: x2 < x9 < x10 < x100
    got = {r.iri: r.canonical_iri for r in canonical_mapping(df).collect()}
    assert got["http://uri.interlex.org/temp/uris/ent_x10"] == \
        "http://uri.interlex.org/temp/uris/ent_x2"


X = "http://x.example/"


@pytest.mark.parametrize("rows,want", [
    # star to the natsort-first member 'a'; a unique label gives no row
    ([("b", "cortex"), ("a", "cortex"), ("c", "cortex"),
      ("d", "unique label")],
     {"a": "a", "b": "a", "c": "a"}),
    # natsort trap: x2 < x10 although "x10" < "x2" as strings
    ([("x10", "hippocampus"), ("x2", "hippocampus")],
     {"x2": "x2", "x10": "x2"}),
    # 'm' carries two labels and bridges their groups into one component
    ([("p", "left"), ("m", "left"), ("m", "right"), ("n", "right"),
      ("z", "alone")],
     {"m": "m", "n": "m", "p": "m"}),
], ids=["star", "natsort_trap", "bridge"])
def test_canonical_mapping_from_labels(spark, rows, want):
    df = spark.createDataFrame([(X + i, lab) for i, lab in rows],
                               "iri string, label_norm string")
    got = {r.iri: r.canonical_iri
           for r in canonical_mapping_from_labels(df).collect()}
    assert got == {X + k: X + v for k, v in want.items()}


# Jobs ``canonicalize_triples`` ran on the fixture below when its
# candidate edges came from a natsort-ordered window and a self-join,
# followed by a second natsort-id pass (local[4], 4 shuffle partitions,
# AQE on).
JOBS_WITH_WINDOW_CANDIDATES = 28


def test_canonicalize_groups_label_variants_in_few_jobs(spark):
    """Case and whitespace variants of a label group together (x2 is
    the natsort-min of the three 'cortex' spellings), and the whole
    pass runs fewer jobs than the window-based candidate edges did."""
    from pyontutils_spark.plans.pipeline import canonicalize_triples
    sc = spark.sparkContext
    labels = [("x10", "cortex"), ("x2", " Cortex "), ("x9", "CORTEX"),
              ("y1", "thalamus"), ("y2", "Thalamus"), ("z", "pons")]
    triples = spark.createDataFrame(
        [(X + i, vocab.RDFS_LABEL, lab, True, None, None)
         for i, lab in labels]
        + [(X + "page", "http://p/about", X + i, False, None, None)
           for i, _ in labels],
        vocab.TRIPLE_SCHEMA)
    sc.setJobGroup("canonicalize", "canonicalize")
    try:
        got = canonicalize_triples(triples).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert {(r.subj, r.obj) for r in got
            if r.pred == vocab.OWL_SAMEAS} == {
        (X + "x9", X + "x2"), (X + "x10", X + "x2"), (X + "y2", X + "y1")}
    assert {r.obj for r in got if r.pred == "http://p/about"} == {
        X + "x2", X + "y1", X + "z"}
    jobs = sc.statusTracker().getJobIdsForGroup("canonicalize")
    assert 0 < len(jobs) < JOBS_WITH_WINDOW_CANDIDATES


def test_rewrite_triples_and_provenance(spark):
    triples = spark.createDataFrame(
        [("http://e/dup", "http://p/p", "http://e/other", False, None, None),
         ("http://e/keep", "http://p/p", "http://e/dup", False, None, None),
         ("http://e/dup", "http://p/label", "dup literal", True, None, None)],
        vocab.TRIPLE_SCHEMA)
    mapping = spark.createDataFrame(
        [("http://e/dup", "http://e/canon"),
         ("http://e/canon", "http://e/canon")],
        "iri string, canonical_iri string")
    out = rewrite_triples(triples, mapping)
    got = {(r.subj, r.pred, r.obj, r.obj_is_literal) for r in out.collect()}
    assert ("http://e/canon", "http://p/p", "http://e/other", False) in got
    assert ("http://e/keep", "http://p/p", "http://e/canon", False) in got
    # literal object untouched even though its lexical form is irrelevant
    assert ("http://e/canon", "http://p/label", "dup literal", True) in got
    # provenance triple
    assert ("http://e/dup", vocab.OWL_SAMEAS, "http://e/canon", False) in got
    # no stale subjects remain
    assert all(s != "http://e/dup" or p == vocab.OWL_SAMEAS
               for s, p, o, il in got)


def test_rewrite_triples_corpus_mapping_not_broadcast(spark):
    """The canonicalization path must NOT force-broadcast the mapping:
    after sameAs CC over a web corpus the (iri -> canonical) map is
    proportional to the entity count and a forced broadcast dies at
    the driver.  With the broadcast threshold pinned below the mapping
    size, the default (auto) plan must contain no BroadcastHashJoin —
    only shuffle joins AQE can scale."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
    try:
        n = 5_000
        base = spark.range(n)
        mapping = base.select(
            F.concat(F.lit("http://e/x"), "id").alias("iri"),
            F.concat(F.lit("http://e/x"),
                     F.col("id") - F.col("id") % 10).alias("canonical_iri"))
        triples = base.select(
            F.concat(F.lit("http://e/x"), "id").alias("subj"),
            F.lit("http://p/p").alias("pred"),
            F.concat(F.lit("http://e/x"), (F.col("id") + 1) % n).alias("obj"),
            F.lit(False).alias("obj_is_literal"),
            F.lit(None).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_lang"))
        out = rewrite_triples(triples, mapping)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        # and the rewrite is still correct at the boundaries
        got = {r.subj for r in out.filter(~F.col("obj_is_literal"))
               .limit(50).collect()}
        assert got  # non-empty, executed through the shuffle-join plan
        # forced mode still broadcasts (curated-small-map path)
        forced = rewrite_triples(triples, mapping, broadcast=True)
        fplan = forced._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in fplan or "broadcast" in fplan.lower()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# Jobs the 200-node chain below ran when each round probed convergence
# with a separate aggregate collect after its eager checkpoint (local[4],
# 4 shuffle partitions, AQE on).
JOBS_WITH_SEPARATE_PROBE = 95


def test_chain_converges_in_log_rounds(spark):
    # a 200-node chain must converge well within max_iter=25 (log2(200)≈8);
    # the convergence signature is observed in each round's eager
    # checkpoint, so the rounds run fewer jobs than with a separate probe
    sc = spark.sparkContext
    edges = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(edges, "u long, v long")
    sc.setJobGroup("cc_chain", "cc chain")
    try:
        comp = connected_components_ids(df, max_iter=25).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert {r.component for r in comp} == {0}
    assert len(comp) == 201
    jobs = sc.statusTracker().getJobIdsForGroup("cc_chain")
    assert 0 < len(jobs) < JOBS_WITH_SEPARATE_PROBE


def test_star_round_hub_safe_equals_collect_form(spark):
    """The hub-safe star round (algebraic min + edge join — no row
    ever holds a hub's whole neighbor set) must emit exactly the edge
    set of the collect_set form, on both the single-hub star and a
    heavy-tailed power-law graph; its plan must contain no
    collect_set aggregation buffer."""
    from pyontutils_spark.operators.components import (
        _min_neighbor_star, _min_neighbor_star_collect, _symmetric)
    from pyontutils_spark.synth.graphs import powerlaw_edges, star_edges
    for g in (star_edges(spark, 3000), powerlaw_edges(spark, 3000)):
        e = (g.selectExpr("a AS u", "b AS v")
             .filter("u != v").distinct().localCheckpoint(eager=True))
        for large in (True, False):
            sym = _symmetric(e)
            safe = {(r.u, r.v)
                    for r in _min_neighbor_star(sym, large).collect()}
            ref = {(r.u, r.v)
                   for r in _min_neighbor_star_collect(sym, large).collect()}
            assert safe == ref and safe
    plan = (_min_neighbor_star(_symmetric(e), True)
            ._jdf.queryExecution().executedPlan().toString())
    assert "collect_set" not in plan


def test_canonical_mapping_on_hub_star(spark):
    """A 20k-leaf single-hub star through the full canonical_mapping
    path: one component, every node canonicalized to the natsort-min
    member (the hub, 'h0' < 's…')."""
    from pyontutils_spark.synth.graphs import star_edges
    m = canonical_mapping(star_edges(spark, 20_000)).collect()
    assert len(m) == 20_001
    assert all(r.canonical_iri == "http://e/h0" for r in m)
