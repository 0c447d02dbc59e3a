"""Entity canonicalization: sameAs edges or shared labels -> connected
components -> canonical IRI -> triple rewrite + owl:sameAs provenance.

Mirrors the reference's synonym/label collapsing: duplicate normalized
labels form candidate groups (``get_label2rows`` multimap,
``ilxutils/ilxutils/interlex_sql.py:271-282``), URI replacement is a
map applied to every triple position with an ``owl:sameAs`` provenance
triple emitted per replacement (``swapUriSwitch``/``switchURIs``,
``pyontutils/ontutils.py:521-583, 71-91``).

Label groups reach the components through a ``min`` aggregate: each
(iri, label) row's composite id is joined to its label's min id, and
those star edges go straight into the rounds.  No window sorts a label
group, so a label shared by 10^6 IRIs is one partial min per map task.

The component computation is the alternating large-star/small-star
iteration (hash-partitioned equi-joins; converges in O(log n) rounds on
path graphs — the public MapReduce CC algorithm of Kiveris et al.,
re-expressed as DataFrame groupBys).  Node ids are composite
``natsort_key(iri) + "\\x00" + iri`` strings, so the *string* min of a
component IS the natsort-min member — the deterministic canonical-pick
rule (FIXTURES.md §7; natsort per ``ttlser/ttlser/serializers.py:25-26``)
— with no integer-id stage and no Python row serialization.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F
from pyspark.sql.types import StringType

from ..kernel.norm import natsort_key
from . import vocab


@F.pandas_udf(StringType())
def natsort_key_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda x: None if x is None else natsort_key(x))


# ---------------------------------------------------------------------------
# connected components on integer node ids
# ---------------------------------------------------------------------------

def _symmetric(edges: DataFrame) -> DataFrame:
    """(u,v) -> both directions, via explode(array(struct)) — one scan,
    and no self-Union (which also trips a constraint-rewrite bug in
    Spark 4.1's optimizer on iterated plans)."""
    return (edges.select(F.explode(F.array(
        F.struct(F.col("u").alias("u"), F.col("v").alias("v")),
        F.struct(F.col("v").alias("u"), F.col("u").alias("v"))
    )).alias("e")).select("e.u", "e.v"))


def _min_neighbor_star(edges: DataFrame, large: bool,
                       dedup: bool = True) -> DataFrame:
    """One star round over symmetric edges.  Emits (t, m) with
    m = min(neighbors(u) ∪ {u}); large-star targets t ∈ N(u), t > u;
    small-star targets {t ∈ N(u): t < u} ∪ {u}.

    Hub-degree-safe formulation: ``m`` comes from an algebraic
    ``min`` aggregate (O(1) buffer per key, map-side partial combine),
    and targets are emitted by joining ``m`` back to the edge rows —
    so NO row or aggregation buffer ever materializes a mega-hub's
    whole neighbor set (a web-scale sameAs graph has 10^8-degree
    hubs; the earlier ``collect_set`` form put each hub's N(u) in one
    buffer).  The hub key's join partition is splittable by AQE
    skew-join; both shuffles hash on ``u`` so the exchange is reused.

    ``dedup=False`` skips the final ``distinct`` — safe ONLY when the
    output feeds straight into the next star round, whose min-aggregate
    ignores duplicate rows and whose own ``distinct`` dedups the
    result; output rows stay bounded by the input edge count either
    way (round 7: removes one full shuffle per CC iteration)."""
    mins = (edges.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m")))
    j = edges.join(mins, "u")
    if large:
        out = (j.filter(F.col("v") > F.col("u"))
               .select(F.col("v").alias("u"), F.col("m").alias("v")))
    else:
        out = (j.filter(F.col("v") < F.col("u"))
               .select(F.col("v").alias("u"), F.col("m").alias("v"))
               .unionByName(
                   mins.select("u", F.col("m").alias("v"))))
    out = out.filter(F.col("u") != F.col("v"))
    return out.distinct() if dedup else out


def _min_neighbor_star_collect(edges: DataFrame, large: bool) -> DataFrame:
    """The textbook collect_set star round — kept ONLY as the
    equivalence oracle for tests; do not use at scale (one aggregation
    buffer holds a hub's entire neighbor set)."""
    grouped = (edges.groupBy("u")
               .agg(F.collect_set("v").alias("nbrs")))
    m = F.least(F.array_min("nbrs"), F.col("u"))
    if large:
        targets = F.filter("nbrs", lambda v: v > F.col("u"))
    else:
        targets = F.array_append(
            F.filter("nbrs", lambda v: v < F.col("u")), F.col("u"))
    out = (grouped.select(m.alias("m"), F.explode(targets).alias("t"))
           .select(F.col("t").alias("u"), F.col("m").alias("v")))
    return out.filter(F.col("u") != F.col("v")).distinct()


def connected_components_ids(edges: DataFrame, max_iter: int = 25,
                             pre_deduped: bool = False) -> DataFrame:
    """edges(u, v) undirected pairs over any orderable id type (long or
    string) -> (node, component) where component = min id reachable.
    Alternates large-star/small-star until the edge multiset is stable.
    ``localCheckpoint`` truncates lineage each round — without it the
    iterated plan grows without bound and re-executes from the source
    every round.  The convergence probe is an aggregate-only signature
    (count + xxhash64 sum in decimal — ANSI-safe, type-agnostic) taken
    by an ``Observation`` in the checkpoint's own job, not a second one.

    ``pre_deduped=True`` skips the initial filter+distinct when the
    caller guarantees (u != v, distinct) rows — e.g. after an injective
    id mapping of an already-deduped edge table.  The large-star half
    of each iteration runs dedup-free (its duplicates are absorbed by
    the small star's aggregate + final distinct), saving one full
    shuffle per iteration — measured ~20% on the 1M-edge chain bench,
    output-identical."""
    e = edges.select("u", "v")
    if not pre_deduped:
        e = e.filter(F.col("u") != F.col("v")).distinct()
    e = e.localCheckpoint(eager=True)
    prev_sig = None
    for _ in range(max_iter):
        e = _min_neighbor_star(_symmetric(e), large=True, dedup=False)
        obs = Observation()
        e = _min_neighbor_star(_symmetric(e), large=False).observe(
            obs, F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s")
        ).localCheckpoint(eager=True)
        sig = obs.get
        if sig == prev_sig:
            break
        prev_sig = sig
    # after convergence every edge is (node, root); add singletons' roots
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = (comp.select(F.col("component").alias("node"),
                         F.col("component")).distinct())
    return comp.unionByName(roots).distinct()


# ---------------------------------------------------------------------------
# IRI-level canonicalization
# ---------------------------------------------------------------------------

# Separator between the natsort key and the raw IRI inside a composite
# node id.  natsort_key never emits "\x00" (it strips it) and every key
# char is >= "\x01", so lexicographic order of ``nk + SEP + iri`` equals
# tuple order (nk, iri): the string min of a component IS its
# natsort-min member.  No integer id stage, no Python serialization.
_NK_SEP = "\x00"


def _natsort_id(col: str):
    """Composite id of a non-null IRI column.  Never null (concat_ws), so
    a later ``u != v`` makes Spark infer no not-null filter, which it
    would push, with a Python pass, down into the input's scan."""
    return F.concat_ws(_NK_SEP, natsort_key_udf(col), F.col(col))


def _components_by_iri(ids: DataFrame, pre_deduped: bool) -> DataFrame:
    """CC over composite-id edges (u, v) -> (iri, canonical_iri), split
    back out of the ids."""
    comp = connected_components_ids(ids, pre_deduped=pre_deduped)
    return comp.select(
        F.substring_index("node", _NK_SEP, -1).alias("iri"),
        F.substring_index("component", _NK_SEP, -1).alias("canonical_iri"))


def canonical_mapping(sameas_edges: DataFrame,
                      a_col: str = "a", b_col: str = "b") -> DataFrame:
    """sameas_edges(a iri, b iri) -> (iri, canonical_iri) covering every
    node that appears in an edge; canonical = natsort-min member.

    Node ids are ``natsort_key(iri) + "\\x00" + iri`` composite strings
    computed per row (one Arrow pass over the edge table), so ``min``
    inside the star rounds picks the natsort-min member directly and the
    IRI is recovered by splitting — a pure-DataFrame plan with no
    driver-side indexing and no JVM->Python row serialization.

    The self/dup-edge dedup runs on the RAW iri pairs BEFORE the
    composite-id pass (round 7): the id map is injective, so the
    distinct sets coincide, but the init shuffle carries the ~2x
    narrower raw strings and the Arrow stage never hashes duplicate
    rows."""
    raw = (sameas_edges.select(F.col(a_col).alias("_ra"),
                               F.col(b_col).alias("_rb"))
           .filter(F.col("_ra") != F.col("_rb")).distinct())
    return _components_by_iri(
        raw.select(_natsort_id("_ra").alias("u"),
                   _natsort_id("_rb").alias("v")), pre_deduped=True)


def canonical_mapping_from_labels(entity_labels: DataFrame) -> DataFrame:
    """entity_labels(iri, label_norm) -> (iri, canonical_iri) for every
    IRI that shares a normalized label with another, transitively;
    canonical = natsort-min member.  The group min's own ``u == v`` edge
    and the repeat edge of an IRI whose labels share a min are dropped
    by the component input's dedup; a label of one IRI yields no row."""
    ids = (entity_labels.filter(F.col("iri").isNotNull())
           .select("label_norm", _natsort_id("iri").alias("u")))
    mins = ids.groupBy("label_norm").agg(F.min("u").alias("v"))
    return _components_by_iri(ids.join(mins, "label_norm").select("u", "v"),
                              pre_deduped=False)


def rewrite_triples(triples: DataFrame, mapping: DataFrame,
                    broadcast: bool | None = None) -> DataFrame:
    """Replace subj/obj IRIs through (iri -> canonical_iri); literals
    untouched.  The switchURIs operation (ontutils.py:71-91) as joins.
    Returns rewritten triples unioned with owl:sameAs provenance triples
    (non-canonical -> canonical, like swapUriSwitch ontutils.py:528).

    ``broadcast``: ``True`` forces a broadcast hint on the mapping side
    — correct ONLY for curated replacement maps known to be small
    (uriswitch / necromancy, dozens of rows).  The default ``None``
    lets Catalyst/AQE choose: after a sameAs connected-components pass
    over a web-scale corpus the mapping is proportional to the ENTITY
    COUNT, and a forced broadcast would die at the driver — the
    canonicalization path must stay a plain hash-partitioned join that
    AQE may *choose* to broadcast when runtime stats say it fits."""
    hint = F.broadcast if broadcast else (lambda df: df)
    msub = mapping.withColumnRenamed("iri", "subj") \
                  .withColumnRenamed("canonical_iri", "subj_canon")
    mobj = mapping.withColumnRenamed("iri", "obj") \
                  .withColumnRenamed("canonical_iri", "obj_canon")
    rewritten = (triples
                 .join(hint(msub), "subj", "left")
                 .join(hint(mobj), "obj", "left")
                 .select(
                     F.coalesce("subj_canon", "subj").alias("subj"),
                     "pred",
                     F.when(F.col("obj_is_literal"), F.col("obj"))
                      .otherwise(F.coalesce("obj_canon", "obj")).alias("obj"),
                     "obj_is_literal", "obj_datatype", "obj_lang"))
    prov = (mapping.filter(F.col("iri") != F.col("canonical_iri"))
            .select(F.col("iri").alias("subj"),
                    F.lit(vocab.OWL_SAMEAS).alias("pred"),
                    F.col("canonical_iri").alias("obj"),
                    F.lit(False).alias("obj_is_literal"),
                    F.lit(None).cast("string").alias("obj_datatype"),
                    F.lit(None).cast("string").alias("obj_lang")))
    return rewritten.unionByName(prov).distinct()
