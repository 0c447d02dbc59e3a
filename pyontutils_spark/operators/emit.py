"""Stage 4: (subj, pred, obj) triple emission.

The reference's triple generators are per-entity flatMaps
(``Class._triples`` ``pyontutils/core.py:1123-1150``, combinators
``pyontutils/combinators.py:41-64``, ``Ont.triples``
``core.py:1496-1515``) accumulated into an rdflib Graph (a *set*).
Here each generator is a declarative select/union and set semantics is
a distinct — Catalyst's partial HashAggregate does the map-side dedup,
so the shuffle moves only already-unique rows.

Page IRIs are minted JVM-side with ``sha2(url, 256)`` (same bytes as
the kernel's ``page_iri`` — no Python in the hot path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..kernel.curies import DEFAULT as PREFIXES
from ..kernel.ids import PAGE_NS
from . import vocab

XSD_BOOLEAN = "http://www.w3.org/2001/XMLSchema#boolean"


def page_iri_col(url_col="url") -> F.Column:
    """JVM-side equivalent of kernel.ids.page_iri (sha256 hex[:32])."""
    return F.concat(F.lit(PAGE_NS),
                    F.substring(F.sha2(F.col(url_col), 256), 1, 32))


def _triple(subj, pred: str, obj, is_literal: bool,
            datatype=None) -> list[F.Column]:
    return [subj.alias("subj"), F.lit(pred).alias("pred"),
            obj.alias("obj"), F.lit(is_literal).alias("obj_is_literal"),
            F.lit(datatype).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_lang")]


def page_type_triples(pages: DataFrame) -> DataFrame:
    """(page, rdf:type, TEMP:WebPage) — one per distinct url."""
    return (pages.select(page_iri_col().alias("piri")).distinct()
            .select(*_triple(F.col("piri"), vocab.RDF_TYPE,
                             F.lit(vocab.WEBPAGE_CLASS), False)))


def mention_triples(linked: DataFrame) -> DataFrame:
    """(page, ilx.isAbout:, entity) — distinct per (page, entity)."""
    return (linked.select(page_iri_col().alias("piri"), "iri").distinct()
            .select(*_triple(F.col("piri"), vocab.IS_ABOUT,
                             F.col("iri"), False)))


def page_triples(pages: DataFrame, linked: DataFrame) -> DataFrame:
    """Page-level triples: page types ∪ page mentions, with no distinct
    of its own (the caller applies one over whatever it unions in)."""
    return (page_type_triples(pages.select("url"))
            .unionByName(mention_triples(linked)))


def entity_triple_rows(term: dict):
    """Driver-side flatMap of one lexicon term -> triple dicts
    (lexicon-derived facts; the analog of Class._triples)."""
    iri = term["iri"]

    def row(pred, obj, is_lit, datatype=None):
        return dict(term_id=term["term_id"], subj=iri, pred=pred, obj=obj,
                    obj_is_literal=is_lit, obj_datatype=datatype,
                    obj_lang=None)

    yield row(vocab.RDF_TYPE, vocab.OWL_CLASS, False)
    yield row(vocab.RDFS_LABEL, term["label"], True)
    for s in term.get("synonyms", ()):
        yield row(vocab.NIFRID_SYNONYM, s, True)
    if term.get("definition"):
        yield row(vocab.DEFINITION, term["definition"], True)
    for p in term.get("parents", ()):
        yield row(vocab.RDFS_SUBCLASSOF, PREFIXES.expand(p), False)
    if term.get("deprecated"):
        yield row(vocab.OWL_DEPRECATED, "true", True)
        if term.get("replaced_by"):
            yield row(vocab.REPLACED_BY,
                      PREFIXES.expand(term["replaced_by"]), False)


def entity_triples(spark: SparkSession, lexicon: list[dict],
                   linked: DataFrame | None = None) -> DataFrame:
    """Lexicon-derived triples, optionally restricted (left-semi join) to
    entities actually linked somewhere in the corpus."""
    rows = [r for t in lexicon for r in entity_triple_rows(t)]
    df = spark.createDataFrame(
        rows, schema="term_id long, " + vocab.TRIPLE_SCHEMA)
    if linked is not None:
        ids = linked.select("term_id").distinct()
        df = df.join(ids, "term_id", "left_semi")
    return df.drop("term_id")


def emit_triples(spark: SparkSession, pages: DataFrame, linked: DataFrame,
                 lexicon: list[dict]) -> DataFrame:
    """Full factory output with set semantics (union + distinct).

    ``pages`` should be the RAW pages table (url suffices — passing the
    extracted-text plan here would re-run the extraction UDF for the
    page-type triples).  ``linked`` is consumed twice (mention triples +
    the entity semi-join), so it is persisted here — without the reuse
    point the whole extract->mention->link chain would execute twice.
    Callers owning a longer lifecycle can pass an already-persisted plan.
    """
    if linked.storageLevel.useMemory or linked.storageLevel.useDisk:
        linked_cached = linked
    else:
        linked_cached = linked.persist()
    return (page_triples(pages, linked_cached)
            .unionByName(entity_triples(spark, lexicon, linked_cached))
            .distinct())


def check_closed_predicates(triples: DataFrame) -> int:
    """Constraint check: predicates outside the closed vocabulary
    (ClosedNamespace raise-on-unknown semantics).  Returns violation
    count (0 expected)."""
    return triples.filter(
        ~F.col("pred").isin(*vocab.EMITTED_PREDICATES)).count()


def check_label_cardinality(triples: DataFrame) -> DataFrame:
    """standard_checks.cardinality (core.py:44-55): subjects with more
    than one rdfs:label."""
    return (triples.filter(F.col("pred") == vocab.RDFS_LABEL)
            .groupBy("subj")
            .agg(F.countDistinct("obj").alias("n_labels"))
            .filter(F.col("n_labels") > 1))
