"""Deterministic global ordering + graph checksums — the Spark analog of
the reference's canonical serializer planning phase
(``CustomTurtleSerializer``, ``ttlser/ttlser/serializers.py:238-310``):

- predicate rank: fixed priority list first (``predicateOrder``,
  ``serializers.py:187-233``), natsorted remainder after (``_PredRank``,
  ``serializers.py:433-444``)
- object rank: every Literal before every URIRef; literals by litsort,
  IRIs by natsort of their qname (``_LitUriRank``,
  ``serializers.py:446-458``)
- subject rank: natsort of qname (``orderSubjects``,
  ``serializers.py:492-544``, minus the type-section grouping which is
  a presentation concern)
- no BNode fixpoint (``_BNodeRank``, ``serializers.py:312-431``):
  structural nodes are skolemized content-hash IRIs (kernel.ids), the
  design the reference itself points at (``utils_extra.py:31-32``)

``ranked_triples`` adds the rank and section columns and
``ORDER_KEYS`` names the sort over them; ``canonically_ordered`` is the
one ordering built from both, scoped to a ``with`` block (one local
checkpoint job ranks every triple once, one partition sorts them, and
the checkpoint is released on exit).  The order is byte-stable under
any input partitioning/row order — the table analog of ttlser's
byte-identical golden files (``ttlser/test/test_ttlser.py:129-173``).

Checksums: ``order_invariant_checksum`` reproduces ``OrderInvariantHash``
(``pyontutils/utils_extra.py:23-67``) exactly (sha256 over sorted triple
bytes — per-graph, collect-free via applyInPandas per group);
``commutative_checksum`` is the scale path for per-partition lineage
rows: sum of per-triple sha2 prefixes is order-invariant by construction
and aggregates without a sort.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType

from ..kernel.curies import DEFAULT as PREFIXES
from ..kernel.ids import graph_checksum, triple_bytes
from ..kernel.norm import natsort_key, object_sort_key
from . import vocab

# Priority predicates in emission order — the reference's
# ``predicateOrder`` (ttlser/serializers.py:187-233) restricted to our
# closed vocabulary, *preserving its relative ranking*: type <
# deprecated < replacedBy < label < synonym < definition < subClassOf.
# Predicates outside the list (owl:sameAs, isAbout, ...) fall into the
# natsorted remainder, exactly like the reference's _PredRank.
PREDICATE_PRIORITY = [
    vocab.RDF_TYPE,
    vocab.OWL_DEPRECATED,
    vocab.REPLACED_BY,
    vocab.RDFS_LABEL,
    vocab.NIFRID_SYNONYM,
    vocab.DEFINITION,
    vocab.RDFS_SUBCLASSOF,
]
_PRIORITY_RANK = {p: i for i, p in enumerate(PREDICATE_PRIORITY)}


@F.pandas_udf(StringType())
def subj_rank_udf(subj: pd.Series) -> pd.Series:
    return subj.map(lambda s: natsort_key(PREFIXES.qname(s)))


@F.pandas_udf(StringType())
def pred_rank_udf(pred: pd.Series) -> pd.Series:
    def rank(p):
        pr = _PRIORITY_RANK.get(p)
        if pr is not None:
            return f"0{pr:04d}"
        return "1" + natsort_key(PREFIXES.qname(p))
    return pred.map(rank)


@F.pandas_udf(StringType())
def obj_rank_udf(obj: pd.Series, is_lit: pd.Series, datatype: pd.Series,
                 lang: pd.Series) -> pd.Series:
    out = []
    for o, il, dt, lg in zip(obj, is_lit, datatype, lang):
        out.append(object_sort_key(
            o, bool(il), dt, lg,
            qname=None if il else PREFIXES.qname(o)))
    return pd.Series(out, dtype="object")


def with_rank_columns(triples: DataFrame) -> DataFrame:
    return (triples
            .withColumn("subj_rank", subj_rank_udf("subj"))
            .withColumn("pred_rank", pred_rank_udf("pred"))
            .withColumn("obj_rank", obj_rank_udf(
                "obj", "obj_is_literal", "obj_datatype", "obj_lang")))


#: the reference's topClasses list (serializers.py:162-173) — subjects
#: are emitted in type sections in THIS order, then the remainder.
TOP_CLASSES = [
    "http://www.w3.org/2002/07/owl#Ontology",
    "http://www.w3.org/1999/02/22-rdf-syntax-ns#Property",
    "http://www.w3.org/2000/01/rdf-schema#Class",
    "http://www.w3.org/2002/07/owl#ObjectProperty",
    "http://www.w3.org/2000/01/rdf-schema#Datatype",
    "http://www.w3.org/2002/07/owl#AnnotationProperty",
    "http://www.w3.org/2002/07/owl#DatatypeProperty",
    "http://www.w3.org/2002/07/owl#Class",
    "http://www.w3.org/2002/07/owl#NamedIndividual",
    "http://www.w3.org/2002/07/owl#AllDifferent",
]


def subject_sections(triples: DataFrame) -> DataFrame:
    """(subj, section) — section = index of the FIRST topClasses entry
    the subject is typed as (``orderSubjects``' seen-dedup across
    sections, serializers.py:492-512); untyped / non-top subjects get
    the remainder section.  One aggregate over the rdf:type rows —
    broadcast-joinable (distinct subjects of top types are tiny relative
    to the triple table)."""
    sec_map = F.create_map(*[
        F.lit(x) for i, c in enumerate(TOP_CLASSES) for x in (c, i)])
    typed = (triples
             .filter((F.col("pred") == vocab.RDF_TYPE)
                     & F.col("obj").isin(TOP_CLASSES))
             .groupBy("subj")
             .agg(F.min(sec_map[F.col("obj")]).alias("section")))
    return typed


#: the canonical sort keys of a :func:`ranked_triples` table: section,
#: then the three ranks, then the raw terms as the tie-break (two IRIs
#: can share a natsort rank, e.g. ``x01``/``x1`` or ``A``/``a``).
ORDER_KEYS = ("section", "subj_rank", "pred_rank", "obj_rank",
              "subj", "pred", "obj")
_RANK_COLS = ORDER_KEYS[:4]


def ranked_triples(triples: DataFrame) -> DataFrame:
    """``triples`` plus the :data:`ORDER_KEYS` columns it lacks: the
    three ranks and the subject's type section (the remainder section
    ``len(TOP_CLASSES)`` when it has none)."""
    # No explicit broadcast hint: in real OWL ontologies nearly every
    # subject is typed owl:Class, so the section table scales with
    # entity count — let AQE pick broadcast vs shuffle by actual size.
    return (with_rank_columns(triples)
            .join(subject_sections(triples), "subj", "left")
            .withColumn("section",
                        F.coalesce("section", F.lit(len(TOP_CLASSES)))))


@contextmanager
def canonically_ordered(triples: DataFrame) -> Iterator[DataFrame]:
    """The triples in canonical order, as ONE sorted partition, valid
    inside the ``with`` block: subjects in topClasses type sections
    first (orderSubjects semantics), then deterministic (subj, pred,
    obj) rank order within.

    On entry one local checkpoint job ranks every triple once, in
    parallel; the block's frame sorts those rows inside the single
    partition that consumes them, and the checkpoint's blocks are
    released on exit.  A global (range-partitioned) sort would first
    run a sampling job that re-evaluates the Python rank UDFs, then
    shuffle every ranked row — all to feed the one task that writes
    the one canonical file anyway.  A ``persist`` scope would release
    through the public API, but it costs one or two more jobs per
    write (the cache's own query stage, plus ``count``'s aggregate)
    and wrote no faster on the serialize input."""
    ranked = ranked_triples(triples).localCheckpoint()
    try:
        yield (ranked.coalesce(1).sortWithinPartitions(*ORDER_KEYS)
               .drop(*_RANK_COLS))
    finally:
        # the checkpointed RDD is the root of the frame's logical plan
        ranked._jdf.logicalPlan().rdd().unpersist(True)


# ---------------------------------------------------------------------------
# checksums
# ---------------------------------------------------------------------------

_CHECK_SCHEMA = "graph_key string, checksum string, n_triples long"


def order_invariant_checksum(triples: DataFrame,
                             graph_key_col=None) -> DataFrame:
    """Exact OrderInvariantHash per graph.  ``graph_key_col``: column
    expression naming the graph (default: single constant graph).
    Each graph's triples are gathered to one group — exact semantics,
    intended for graph-sized groups (tests, per-source manifests)."""
    src = triples.withColumn(
        "graph_key",
        F.lit("all") if graph_key_col is None else graph_key_col)

    def per_graph(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf["graph_key"].iloc[0]
        tbs = (triple_bytes(s, p, o, bool(il), dt or "", lg or "")
               for s, p, o, il, dt, lg in zip(
                   pdf["subj"], pdf["pred"], pdf["obj"],
                   pdf["obj_is_literal"], pdf["obj_datatype"],
                   pdf["obj_lang"]))
        return pd.DataFrame({"graph_key": [key],
                             "checksum": [graph_checksum(tbs)],
                             "n_triples": [len(pdf)]})

    return (src.select("graph_key", "subj", "pred", "obj", "obj_is_literal",
                       "obj_datatype", "obj_lang")
            .groupBy("graph_key").applyInPandas(per_graph, _CHECK_SCHEMA))


def commutative_checksum(triples: DataFrame, *group_cols) -> DataFrame:
    """Scale-path checksum: per-triple sha2 prefix summed (commutative,
    so it is order/partitioning-invariant and needs no sort or collect).
    Used for per-partition lineage rows."""
    h = F.conv(F.substring(F.sha2(F.concat_ws(
        "\x1d", "subj", "pred", "obj",
        F.col("obj_is_literal").cast("string"),
        F.coalesce("obj_datatype", F.lit("")),
        F.coalesce("obj_lang", F.lit(""))), 256), 1, 15), 16, 10) \
        .cast("decimal(38,0)")
    gb = triples.groupBy(*group_cols) if group_cols else triples.groupBy()
    # sum in decimal(38,0) (no int64 overflow even at 10^12 triples),
    # then reduce mod 2^61 back into a long
    return gb.agg(
        F.pmod(F.sum(h), F.lit(2 ** 61).cast("decimal(38,0)"))
        .cast("long").alias("checksum_sum"),
        F.count("*").alias("n_triples"))
