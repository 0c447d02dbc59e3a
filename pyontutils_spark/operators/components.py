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

The rewrite dedups only the rows that touch the mapping: a triple the
mapping does not name passes through unshuffled, and only the rewritten
and provenance rows meet in one ``distinct`` (exact for a set input and
a closed mapping, see :func:`rewrite_triples`).  There is no distinct
over every triple.  The mapping is read once, and its join is a
broadcast exactly when the mapping's observed size is at most
``spark.sql.autoBroadcastJoinThreshold``; a larger map gets the shuffle
join.  No caller chooses.

The component computation is the alternating large-star/small-star
iteration (hash-partitioned equi-joins; converges in O(log n) rounds on
path graphs — the public MapReduce CC algorithm of Kiveris et al.,
re-expressed as DataFrame groupBys).  Its input may repeat edges and
hold self-loops: the loops are dropped, the repeats cost nothing but
their rows in round 1, and a node whose only edge is a self-loop gets
no row.  Running out of rounds raises.  Node ids are composite
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


def _min_neighbor_star(edges: DataFrame, large: bool) -> DataFrame:
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

    Only the small star deduplicates.  The large star's output may
    repeat rows, because it feeds straight into the small star, whose
    min aggregate ignores duplicates and whose ``distinct`` dedups the
    result (one full shuffle less per CC round); its targets exceed
    ``u >= m``, so it emits no self-loop either."""
    mins = (edges.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m")))
    j = edges.join(mins, "u")
    if large:
        return (j.filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v")))
    return (j.filter(F.col("v") < F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v")).distinct())


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


def connected_components_ids(edges: DataFrame,
                             max_iter: int = 25) -> DataFrame:
    """edges(u, v) undirected pairs over any orderable id type (long or
    string) -> (node, component), one row per node, where component =
    min id reachable.  Alternates large-star/small-star until the edge
    set is stable.

    The input needs no dedup: self-loops are dropped by a narrow
    ``u != v`` filter (a node whose only edge is a loop gets no row),
    and a repeated edge only repeats rows in round 1's large star,
    whose duplicates the small star absorbs.  ``localCheckpoint``
    truncates lineage each round — without it the iterated plan grows
    without bound and re-executes from the source every round.  The
    convergence probe is an aggregate-only signature (count + xxhash64
    sum in decimal — ANSI-safe, type-agnostic) taken by an
    ``Observation`` in the checkpoint's own job, not a second one; it
    needs one round more than the edges take to settle.  Raises
    ``RuntimeError`` when ``max_iter`` rounds end unsettled, rather
    than return a partial mapping.

    At convergence the edges are a star forest with each component's
    min at its centre: every non-root node is the ``u`` of exactly one
    edge and no root is a ``u``, so ``edges ∪ roots`` needs no
    ``distinct``."""
    e = (edges.select("u", "v").filter(F.col("u") != F.col("v"))
         .localCheckpoint(eager=True))
    prev_sig = None
    for _ in range(max_iter):
        e = _min_neighbor_star(_symmetric(e), large=True)
        obs = Observation()
        e = _min_neighbor_star(_symmetric(e), large=False).observe(
            obs, F.count("*").alias("n"),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s")
        ).localCheckpoint(eager=True)
        if obs.get == prev_sig:
            break
        prev_sig = obs.get
    else:
        raise RuntimeError(
            f"connected_components_ids did not converge in {max_iter} "
            "iterations; raise max_iter")
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = (comp.select(F.col("component").alias("node"),
                         F.col("component")).distinct())
    return comp.unionByName(roots)


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


def _components_by_iri(ids: DataFrame) -> DataFrame:
    """CC over composite-id edges (u, v) -> (iri, canonical_iri), split
    back out of the ids."""
    comp = connected_components_ids(ids)
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
                   _natsort_id("_rb").alias("v")))


def canonical_mapping_from_labels(entity_labels: DataFrame) -> DataFrame:
    """entity_labels(iri, label_norm) -> (iri, canonical_iri) for every
    IRI that shares a normalized label with another, transitively;
    canonical = natsort-min member.  The group min's own ``u == v`` edge
    is dropped by the components' self-loop filter and the repeat edge of
    an IRI whose labels share a min is absorbed by round 1; a label of
    one IRI yields no row."""
    ids = (entity_labels.filter(F.col("iri").isNotNull())
           .select("label_norm", _natsort_id("iri").alias("u")))
    mins = ids.groupBy("label_norm").agg(F.min("u").alias("v"))
    return _components_by_iri(ids.join(mins, "label_norm").select("u", "v"))


def _materialized_mapping(mapping: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``mapping`` read once, by an eager local checkpoint whose job also
    observes the bytes of its two IRI columns -> (checkpoint, join
    side).  The join side is the checkpoint with a broadcast hint
    exactly when that size is at most
    ``spark.sql.autoBroadcastJoinThreshold`` (never when it is -1).
    Spark cannot size a computed mapping at plan time, so without the
    hint a small map is broadcast only if AQE sees its stage finish
    before the triples' exchange starts.  Only joins read the hinted
    frame: Spark warns about a hint anywhere else."""
    obs = Observation()
    m = mapping.observe(
        obs, F.sum(F.octet_length("iri") + F.octet_length("canonical_iri"))
        .alias("bytes")).localCheckpoint(eager=True)
    limit = (mapping.sparkSession._jsparkSession.sessionState().conf()
             .autoBroadcastJoinThreshold())
    return m, (F.broadcast(m) if (obs.get["bytes"] or 0) <= limit else m)


def _flagged_join(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """The rewrite join of :func:`rewrite_triples`: each triple with its
    subj/obj IRIs mapped, plus ``_touched`` — true when its subject or
    its IRI object matched a mapping row."""
    msub = mapping.selectExpr("iri AS subj", "canonical_iri AS subj_canon")
    mobj = mapping.selectExpr("iri AS obj", "canonical_iri AS obj_canon")
    obj_canon = F.when(F.col("obj_is_literal"), None) \
        .otherwise(F.col("obj_canon"))
    return (triples
            .join(msub, "subj", "left")
            .join(mobj, "obj", "left")
            .select(
                F.coalesce("subj_canon", "subj").alias("subj"),
                "pred",
                F.coalesce(obj_canon, "obj").alias("obj"),
                "obj_is_literal", "obj_datatype", "obj_lang",
                (F.col("subj_canon").isNotNull() | obj_canon.isNotNull())
                .alias("_touched")))


def rewrite_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Replace subj/obj IRIs through (iri -> canonical_iri); literals
    untouched.  The switchURIs operation (ontutils.py:71-91) as joins.
    Returns rewritten triples unioned with owl:sameAs provenance triples
    (non-canonical -> canonical, like swapUriSwitch ontutils.py:528).

    Only the rows that touch the mapping are deduplicated: the result
    is ``untouched ∪ distinct(touched ∪ provenance)``, so the one
    exchange reads those rows, never every triple.  Exact under two
    preconditions:

    - ``triples`` is a set (no duplicate rows);
    - ``mapping`` is closed: every ``canonical_iri`` also appears as an
      ``iri`` (a root maps to itself, as in :func:`canonical_mapping`
      and ``filters.replacement_mapping``).

    Then an untouched row names no mapped IRI, while every rewritten
    row and every provenance row names at least one, so the two parts
    cannot share a row.  Nothing checks either: a duplicate input row
    that the mapping does not touch, or (with an unclosed mapping) a
    rewritten row equal to an untouched one, comes out twice.

    The mapping is materialized first, in its own eager local
    checkpoint that both joins and the provenance read, and is
    broadcast exactly when its observed size (the UTF-8 bytes of its
    two columns) is at most ``spark.sql.autoBroadcastJoinThreshold``:
    a curated replacement map or the label mapping of one crawl is
    broadcast by the plan itself, while the mapping of a sameAs pass
    over a web-scale corpus, which grows with the entity count, keeps
    the hash-partitioned join.

    The flagged join is materialized once by a local checkpoint that
    both parts read (plain branches would run the input plan twice).
    That checkpoint is not eager, but under AQE building it plans the
    join: the call itself runs the input's and the join's shuffle and
    broadcast stages; the checkpoint job runs at the first action.  Both
    checkpoints back the returned frame, which therefore pins the
    mapping and a full copy of the rewritten triples in the block
    manager for as long as the frame lives."""
    mapping, side = _materialized_mapping(mapping)
    joined = _flagged_join(triples, side).localCheckpoint(eager=False)
    prov = (mapping.filter(F.col("iri") != F.col("canonical_iri"))
            .select(F.col("iri").alias("subj"),
                    F.lit(vocab.OWL_SAMEAS).alias("pred"),
                    F.col("canonical_iri").alias("obj"),
                    F.lit(False).alias("obj_is_literal"),
                    F.lit(None).cast("string").alias("obj_datatype"),
                    F.lit(None).cast("string").alias("obj_lang")))
    touched = joined.filter("_touched").drop("_touched")
    return (joined.filter(~F.col("_touched")).drop("_touched")
            .unionByName(touched.unionByName(prov).distinct()))
