"""Entity pivot (OntoPandas semantics), canonical ordering determinism
(ttlser randomize-then-compare pattern), checksums, hierarchy operators."""

import pytest
from pyspark.sql import functions as F

from pyontutils_spark.kernel.ids import graph_checksum, triple_bytes
from pyontutils_spark.operators import vocab
from pyontutils_spark.operators.entities import (
    class_records, entity_pivot, group_to_first, label_multimap)
from pyontutils_spark.operators.hierarchy import (
    detect_cycles, drop_nothing, khop_neighborhood, roots_and_leaves,
    subtree_sizes, transitive_closure)
from pyontutils_spark.operators.ordering import (
    canonically_ordered, commutative_checksum, order_invariant_checksum)


@pytest.fixture(scope="module")
def triples(spark):
    rows = [
        ("http://e/b", vocab.RDF_TYPE, vocab.OWL_CLASS, False, None, None),
        ("http://e/b", vocab.RDFS_LABEL, "thing b", True, None, None),
        ("http://e/b", vocab.NIFRID_SYNONYM, "b alt", True, None, None),
        ("http://e/b", vocab.NIFRID_SYNONYM, "a alt", True, None, None),
        ("http://e/a10", vocab.RDF_TYPE, vocab.OWL_CLASS, False, None, None),
        ("http://e/a10", vocab.RDFS_LABEL, "thing a10", True, None, None),
        ("http://e/a10", vocab.RDFS_SUBCLASSOF, "http://e/b", False, None, None),
        ("http://e/a9", vocab.RDF_TYPE, vocab.OWL_CLASS, False, None, None),
        ("http://e/a9", vocab.RDFS_LABEL, "thing a9", True, None, None),
    ]
    return spark.createDataFrame(rows, vocab.TRIPLE_SCHEMA)


def test_entity_pivot(spark, triples):
    out = entity_pivot(triples).collect()
    by_subj = {r.subj: r for r in out}
    assert by_subj["http://e/b"].label == ["thing b"]
    assert by_subj["http://e/b"].synonym == ["a alt", "b alt"]  # sorted
    assert by_subj["http://e/a10"].subClassOf == ["http://e/b"]


def test_class_records(spark, triples):
    recs = {r.iri: r for r in class_records(triples).collect()}
    assert recs["http://e/b"].labels == ["thing b"]
    assert recs["http://e/b"].synonyms == ["a alt", "b alt"]
    assert recs["http://e/a10"].parents == ["http://e/b"]
    assert recs["http://e/a9"].synonyms == []


def test_label_multimap(spark):
    rows = [("http://e/1", " Cortex"), ("http://e/2", "cortex "),
            ("http://e/3", "unique")]
    mm = {r.label_norm: r for r in label_multimap(
        spark.createDataFrame(rows, "iri string, label string")).collect()}
    assert mm["cortex"].n == 2
    assert [x.iri for x in mm["cortex"].rows] == ["http://e/1", "http://e/2"]


def test_group_to_first(spark):
    df = spark.createDataFrame(
        [("k", 2, "second"), ("k", 1, "first"), ("j", 5, "only")],
        "key string, ord int, val string")
    out = {r.key: r.val for r in group_to_first(df, "key", "ord").collect()}
    assert out == {"k": "first", "j": "only"}


def test_canonical_order_deterministic(spark, triples):
    """shuffle partitioning -> byte-identical ordered output
    (the ttlser test_deterministic pattern)."""
    outs = []
    for parts in (1, 2, 7):
        with canonically_ordered(triples.repartition(parts)) as ordered:
            outs.append([tuple(r) for r in ordered.collect()])
    assert outs[0] == outs[1] == outs[2]
    # subjects in natsort qname order: a9 < a10 < b
    subs = [r[0] for r in outs[0]]
    first_idx = {s: subs.index(s) for s in set(subs)}
    assert first_idx["http://e/a9"] < first_idx["http://e/a10"] < \
        first_idx["http://e/b"]
    # within a subject: rdf:type first, label before synonyms
    b_rows = [r for r in outs[0] if r[0] == "http://e/b"]
    assert b_rows[0][1] == vocab.RDF_TYPE
    assert b_rows[1][1] == vocab.RDFS_LABEL
    # synonym literals litsorted: 'a alt' < 'b alt'
    assert [r[2] for r in b_rows[2:4]] == ["a alt", "b alt"]


def test_order_invariant_checksum_matches_kernel(spark, triples):
    row = order_invariant_checksum(triples).collect()[0]
    expected = graph_checksum(
        triple_bytes(r.subj, r.pred, r.obj, r.obj_is_literal,
                     r.obj_datatype or "", r.obj_lang or "")
        for r in triples.collect())
    assert row.checksum == expected
    assert row.n_triples == 9
    # invariant under repartition
    row2 = order_invariant_checksum(triples.repartition(5)).collect()[0]
    assert row2.checksum == expected


def test_commutative_checksum_partition_invariant(spark, triples):
    a = commutative_checksum(triples).collect()[0]
    b = commutative_checksum(triples.repartition(6)).collect()[0]
    assert a.checksum_sum == b.checksum_sum
    assert a.n_triples == b.n_triples == 9


EDGES = [("c1", "b"), ("c2", "b"), ("b", "a"), ("d", "a"),
         ("x1", "x2"), ("x2", "x3"), ("x3", "x1")]  # x* is a cycle


@pytest.fixture(scope="module")
def edges(spark):
    return spark.createDataFrame(EDGES, "child string, parent string")


def test_roots_and_leaves(spark, edges):
    roots, leaves = roots_and_leaves(edges)
    assert {r.node for r in roots.collect()} == {"a"}
    assert {r.node for r in leaves.collect()} == {"c1", "c2", "d"}


def test_transitive_closure(spark, edges):
    tc = {(r.node, r.ancestor): r.depth
          for r in transitive_closure(edges, max_depth=10).collect()}
    assert tc[("c1", "b")] == 1
    assert tc[("c1", "a")] == 2
    assert ("a", "c1") not in tc


def test_reachability_doubling_equals_bfs_closure(spark):
    """Path-doubling reachability must equal the BFS closure's
    (node, ancestor) set on an acyclic graph — log2(diameter) rounds
    instead of diameter rounds (the bulk-reachability scale path);
    and on a deep chain it must converge well inside the round
    budget."""
    import random

    from pyontutils_spark.operators.hierarchy import reachability_closure
    rnd = random.Random(13)
    # random DAG: each node gets 1-2 parents among lower ids
    dag = []
    for i in range(2, 120):
        for p in rnd.sample(range(1, i), min(rnd.randint(1, 2), i - 1)):
            dag.append((f"n{i}", f"n{p}"))
    df = spark.createDataFrame(dag, "child string, parent string")
    bfs = {(r.node, r.ancestor)
           for r in transitive_closure(df, max_depth=50).collect()}
    dbl = {(r.node, r.ancestor)
           for r in reachability_closure(df).collect()}
    assert dbl == bfs
    # 200-deep chain: 20 BFS-equivalent rounds of doubling cover 2^20
    chain = spark.createDataFrame(
        [(f"c{i}", f"c{i+1}") for i in range(200)],
        "child string, parent string")
    out = reachability_closure(chain)
    assert out.count() == 200 * 201 // 2
    assert {(r.node, r.ancestor) for r in out.collect()} >= {
        ("c0", "c200"), ("c0", "c1"), ("c199", "c200")}


def test_reachability_doubling_raises_on_round_exhaustion(spark):
    """A max_rounds too small for the diameter must raise, never
    silently return a partial closure (same policy as topo_layers)."""
    import pytest

    from pyontutils_spark.operators.hierarchy import reachability_closure
    chain = spark.createDataFrame(
        [(f"c{i}", f"c{i+1}") for i in range(40)],
        "child string, parent string")
    with pytest.raises(ValueError, match="did not converge"):
        reachability_closure(chain, max_rounds=2)  # covers diameter 4
    # and the conf is restored even on the raise path
    assert spark.conf.get(
        "spark.sql.constraintPropagation.enabled") in ("true", "True")


def test_detect_cycles(spark, edges):
    cyc = {r.node for r in detect_cycles(edges, max_depth=10).collect()}
    assert cyc == {"x1", "x2", "x3"}


def test_khop_up_and_both(spark, edges):
    seeds = edges.sparkSession.createDataFrame([("c1",)], "node string")
    up1 = {r.node for r in khop_neighborhood(edges, seeds, 1, "up").collect()}
    assert up1 == {"c1", "b"}
    both2 = {r.node for r in
             khop_neighborhood(edges, seeds, 2, "both").collect()}
    assert both2 == {"c1", "b", "a", "c2"}


def test_subtree_sizes(spark, edges):
    sz = {r.ancestor: r.tc_size for r in
          subtree_sizes(edges, max_depth=10).collect()}
    assert sz["a"] == 4  # c1, c2, b, d
    assert sz["b"] == 2


def test_drop_nothing(spark):
    df = spark.createDataFrame(
        [("a", "http://www.w3.org/2002/07/owl#Nothing"), ("a", "b")],
        "child string, parent string")
    assert drop_nothing(df).count() == 1


def test_prune_out_of_tree(spark, edges):
    from pyontutils_spark.operators.hierarchy import prune_out_of_tree
    nodes = spark.createDataFrame(
        [("c1",), ("b",), ("a",), ("x1",), ("orphan",)], "node string")
    roots = spark.createDataFrame([("a",)], "node string")
    kept = {r.node for r in
            prune_out_of_tree(nodes, edges, roots, max_depth=10).collect()}
    assert kept == {"c1", "b", "a"}  # x1 is in a cycle island, orphan alone


def test_dematerialize(spark, edges):
    from pyontutils_spark.operators.hierarchy import (
        dematerialize, transitive_closure)
    tc = transitive_closure(edges, max_depth=10)
    d = dematerialize(tc)
    assert d.count() == d.select("node", "ancestor").distinct().count()
    got = {(r.node, r.ancestor): r.depth for r in d.collect()}
    assert got[("c1", "a")] == 2


def test_normalize_symmetric(spark):
    from pyontutils_spark.operators.hierarchy import normalize_symmetric
    from pyontutils_spark.operators import vocab
    dj = "http://www.w3.org/2002/07/owl#disjointWith"
    t = spark.createDataFrame(
        [("http://e/b", dj, "http://e/a", False, None, None),
         ("http://e/a", dj, "http://e/b", False, None, None),
         ("http://e/a", vocab.RDFS_LABEL, "zzz", True, None, None)],
        vocab.TRIPLE_SCHEMA)
    out = normalize_symmetric(t)
    got = {(r.subj, r.pred, r.obj) for r in out.collect()}
    assert ("http://e/a", dj, "http://e/b") in got
    assert ("http://e/b", dj, "http://e/a") not in got
    assert ("http://e/a", vocab.RDFS_LABEL, "zzz") in got
    assert out.count() == 2


def test_topo_layers_longest_chain(spark):
    """scottl layering (serializers.py:900-985): supers get strictly
    smaller layers than subs; layer = longest chain above the node."""
    from pyontutils_spark.operators.hierarchy import topo_layers, topo_order
    import pyspark.sql.functions as SF
    # diamond a <- b1,b2 <- c ; plus long chain a <- b1 <- d <- e
    edges = [("b1", "a"), ("b2", "a"), ("c", "b1"), ("c", "b2"),
             ("d", "b1"), ("e", "d")]
    df = spark.createDataFrame(edges, "child string, parent string")
    got = {r.node: r.layer for r in topo_layers(df).collect()}
    assert got == {"a": 0, "b1": 1, "b2": 1, "c": 2, "d": 2, "e": 3}
    # every edge is super-before-sub
    for child, parent in edges:
        assert got[parent] < got[child]
    ordered = [r.node for r in topo_order(df).collect()]
    assert ordered == ["a", "b1", "b2", "c", "d", "e"]


def test_topo_layers_cycle_raises(spark):
    """A cycle must not hang AND must not return silently-wrong layers:
    non-convergence within max_iter raises."""
    import pytest
    from pyontutils_spark.operators.hierarchy import topo_layers
    df = spark.createDataFrame([("x", "y"), ("y", "x"), ("z", "x")],
                               "child string, parent string")
    with pytest.raises(RuntimeError, match="did not converge"):
        topo_layers(df, max_iter=6)


# Jobs the 6-edge chain below ran when each round probed convergence
# with a separate aggregate collect after its eager checkpoint (local[4],
# 4 shuffle partitions, AQE on).
TOPO_JOBS_WITH_SEPARATE_PROBE = 66


def test_topo_layers_deep_chain_converges(spark):
    """A chain exactly at depth max_iter-1 still converges (the
    convergence probe needs one extra stable round), and the probe is
    observed in each round's eager checkpoint, not run as its own job."""
    from pyontutils_spark.operators.hierarchy import topo_layers
    sc = spark.sparkContext
    chain = [(f"n{i+1}", f"n{i}") for i in range(6)]
    df = spark.createDataFrame(chain, "child string, parent string")
    sc.setJobGroup("topo_chain", "topo chain")
    try:
        got = {r.node: r.layer
               for r in topo_layers(df, max_iter=8).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == {f"n{i}": i for i in range(7)}
    jobs = sc.statusTracker().getJobIdsForGroup("topo_chain")
    assert 0 < len(jobs) < TOPO_JOBS_WITH_SEPARATE_PROBE


def test_closures_leave_session_conf_unchanged(spark):
    """Both closures switch a conf off for their loop only: afterwards,
    also after reachability_closure raises, the session conf is exactly
    as before — a key that was unset stays unset."""
    from pyontutils_spark.operators.hierarchy import reachability_closure
    keys = ("spark.sql.adaptive.enabled",
            "spark.sql.constraintPropagation.enabled")
    orig = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:  # the session is shared: start from "unset"
        spark.conf.unset(k)
    try:
        before = dict(spark.conf.getAll)
        chain = spark.createDataFrame(
            [(f"c{i}", f"c{i+1}") for i in range(8)],
            "child string, parent string")
        assert transitive_closure(chain).count() == 8 * 9 // 2
        assert reachability_closure(chain).count() == 8 * 9 // 2
        with pytest.raises(ValueError, match="did not converge"):
            reachability_closure(chain, max_rounds=1)
        assert dict(spark.conf.getAll) == before
    finally:
        for k, v in orig.items():
            if v is not None:
                spark.conf.set(k, v)


def test_materialize_inverses(spark):
    from pyontutils_spark.operators.hierarchy import (
        KNOWN_INVERSES, materialize_inverses)
    from pyontutils_spark.operators import vocab
    has_part = "http://purl.obolibrary.org/obo/BFO_0000051"
    part_of = "http://purl.obolibrary.org/obo/BFO_0000050"
    assert KNOWN_INVERSES[has_part] == part_of
    assert KNOWN_INVERSES[part_of] == has_part
    t = spark.createDataFrame(
        [("http://e/whole", has_part, "http://e/piece", False, None, None),
         ("http://e/x", "http://p/other", "http://e/y", False, None, None),
         ("http://e/w", has_part, "lit", True, None, None)],
        vocab.TRIPLE_SCHEMA)
    got = {(r.subj, r.pred, r.obj) for r in
           materialize_inverses(t).collect()}
    assert ("http://e/piece", part_of, "http://e/whole") in got
    # non-inverse predicates and literal objects pass through unpaired
    assert len(got) == 4


def test_subject_sections_and_sectioned_order(spark):
    """orderSubjects semantics (serializers.py:492-512): ontology
    header first, properties before classes, first-matching topClass
    wins, untyped subjects in the remainder."""
    from pyontutils_spark.operators import vocab
    from pyontutils_spark.operators.ordering import (
        TOP_CLASSES, canonically_ordered, subject_sections)
    owl = "http://www.w3.org/2002/07/owl#"
    rows = [
        ("http://e/zclass", vocab.RDF_TYPE, owl + "Class", False, None, None),
        ("http://e/ont", vocab.RDF_TYPE, owl + "Ontology", False, None, None),
        ("http://e/prop", vocab.RDF_TYPE, owl + "ObjectProperty",
         False, None, None),
        # typed as BOTH ObjectProperty (idx 3) and Class (idx 7):
        # first match (3) wins
        ("http://e/both", vocab.RDF_TYPE, owl + "Class", False, None, None),
        ("http://e/both", vocab.RDF_TYPE, owl + "ObjectProperty",
         False, None, None),
        ("http://e/untyped", "http://p/p", "v", True, None, None),
    ]
    t = spark.createDataFrame(rows, vocab.TRIPLE_SCHEMA)
    secs = {r.subj: r.section for r in subject_sections(t).collect()}
    assert secs["http://e/ont"] == 0
    assert secs["http://e/prop"] == 3 and secs["http://e/both"] == 3
    assert secs["http://e/zclass"] == TOP_CLASSES.index(owl + "Class")
    assert "http://e/untyped" not in secs  # remainder handled in order
    with canonically_ordered(t) as ordered:
        subj_seq = [r.subj for r in ordered.collect()]
    first_pos = {s: subj_seq.index(s) for s in set(subj_seq)}
    assert first_pos["http://e/ont"] < first_pos["http://e/prop"]
    assert first_pos["http://e/prop"] < first_pos["http://e/zclass"]
    assert first_pos["http://e/zclass"] < first_pos["http://e/untyped"]


def test_entity_pivot_explicit_predicates_runs_no_job(spark):
    """With an explicit predicate vocabulary the pivot must launch NO
    Spark job at plan time (the distinct-collect is only the
    predicates=None fallback) — asserted with a source that raises if
    any task executes."""
    import pytest as _pytest
    from pyontutils_spark.operators.entities import entity_pivot

    def boom(_it):
        raise RuntimeError("a job ran at plan time")
        yield  # pragma: no cover

    bad = spark.range(1).mapInPandas(
        boom, "subj string, pred string, obj string")
    piv = entity_pivot(bad, predicates=["http://x/p1", "http://x/p2"])
    assert "p1" in piv.columns  # plan built, nothing executed
    with _pytest.raises(Exception, match="job ran"):
        entity_pivot(bad)  # fallback path does collect -> executes


def test_reachability_doubling_cycle_safe(spark):
    """On a cycle the doubling iteration must terminate (anti-join
    frontier empties) and emit every non-reflexive ordered pair of the
    cycle's members."""
    from pyontutils_spark.operators.hierarchy import reachability_closure
    cyc = spark.createDataFrame(
        [("x1", "x2"), ("x2", "x3"), ("x3", "x1"), ("y", "x1")],
        "child string, parent string")
    got = {(r.node, r.ancestor) for r in reachability_closure(cyc).collect()}
    xs = {"x1", "x2", "x3"}
    expect = {(a, b) for a in xs for b in xs if a != b} \
        | {("y", x) for x in xs}
    assert got == expect
