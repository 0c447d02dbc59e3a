"""Stage 4: (subj, pred, obj) triple emission.

The reference's triple generators are per-entity flatMaps
(``Class._triples`` ``pyontutils/core.py:1123-1150``, combinators
``pyontutils/combinators.py:41-64``, ``Ont.triples``
``core.py:1496-1515``) accumulated into an rdflib Graph (a *set*).
Here each generator is a declarative select.  The two page families
(page types and mentions) come from one aggregate on the page key, the
entity family dedups itself, and unions of disjoint families add no
dedup: only mentions use ``ilx:isAbout``, only page types type a
WebPage, and entity rows do neither.

Page IRIs are minted JVM-side with ``sha2(url, 256)`` (same bytes as
the kernel's ``page_iri`` — no Python in the hot path).  The IRI is a
display form of a 16-byte key, the first 128 bits of the hash: the page
aggregate groups on that key and renders the IRI only above it, so its
exchange moves 16 raw bytes per page and input branch instead of the
57-character IRI per triple.  Key and IRI are a bijection, so the
dedup is exact.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..kernel.curies import DEFAULT as PREFIXES
from ..kernel.ids import PAGE_NS
from . import vocab

XSD_BOOLEAN = "http://www.w3.org/2001/XMLSchema#boolean"


def _page_key(url_col="url") -> F.Column:
    """16-byte page key: the first 32 hex digits of sha256(url), unhexed."""
    return F.unhex(F.substring(F.sha2(F.col(url_col), 256), 1, 32))


def _page_iri(key: F.Column) -> F.Column:
    """Render a page key as its IRI.  Spark's ``hex`` is upper-case and
    kernel.ids.page_iri lower-case, hence the ``lower``."""
    return F.concat(F.lit(PAGE_NS), F.lower(F.hex(key)))


def page_iri_col(url_col="url") -> F.Column:
    """JVM-side equivalent of kernel.ids.page_iri (sha256 hex[:32]): the
    rendered page key, byte-equal to the kernel's IRI."""
    return _page_iri(_page_key(url_col))


def _triple(subj, pred: str | F.Column, obj, is_literal: bool,
            datatype=None) -> list[F.Column]:
    return [subj.alias("subj"), F.lit(pred).alias("pred"),
            obj.alias("obj"), F.lit(is_literal).alias("obj_is_literal"),
            F.lit(datatype).cast("string").alias("obj_datatype"),
            F.lit(None).cast("string").alias("obj_lang")]


def mention_triples(linked: DataFrame) -> DataFrame:
    """(page, ilx.isAbout:, entity) — distinct per (page key, entity),
    the page IRI rendered above the dedup.  The reference formula for
    ``page_triples``' mention rows."""
    return (linked.select(_page_key().alias("pkey"), "iri").distinct()
            .select(*_triple(_page_iri(F.col("pkey")), vocab.IS_ABOUT,
                             F.col("iri"), False)))


def _term_names(spark: SparkSession, lexicon: list[dict]) -> DataFrame:
    """(term_id, iri) per lexicon term; a term_id with two IRIs raises.
    Built from an Arrow table, which the JVM decodes: a plain list would
    run Python worker tasks each time the broadcast is built."""
    names: dict[int, str] = {}
    for t in lexicon:
        if names.setdefault(t["term_id"], t["iri"]) != t["iri"]:
            raise ValueError(f"term_id {t['term_id']} names two IRIs: "
                             f"{names[t['term_id']]!r}, {t['iri']!r}")
    return spark.createDataFrame(pa.table({
        "term_id": pa.array(list(names), pa.int64()),
        "iri": pa.array(list(names.values()), pa.string())}))


def page_triples(pages: DataFrame, linked: DataFrame,
                 lexicon: list[dict]) -> DataFrame:
    """Page-level triples as a set: (page, rdf:type, TEMP:WebPage) per
    distinct page ∪ (page, ilx.isAbout:, entity) per distinct
    (page, entity IRI).

    One aggregate builds both: pages give (page key, NULL), linked
    mentions (page key, term_id), and ``collect_set`` per key ships
    each page key across the exchange once per input branch, its
    entities as a set of longs.  Above the exchange a NULL sentinel
    (``collect_set`` drops nulls) yields the type row, the ids are
    named through a broadcast (term_id, iri) table built from
    ``lexicon``, and a dedup on (page key, IRI) merges two term ids
    that share an IRI.  That dedup is clustered by the aggregate's
    page-key partitioning, so it adds no exchange.

    Preconditions, both true when ``linked`` is derived from ``pages``
    by a linker built on ``lexicon``: the ``linked`` urls are a subset
    of the ``pages`` urls (a linked-only url would get a type row), and
    ``lexicon`` names every linked ``term_id`` (an unnamed id yields no
    mention).  ``linked`` needs ``url`` and ``term_id``.
    """
    no_id = F.lit(None).cast("long")
    ids = (pages.select(_page_key().alias("pkey"), no_id.alias("term_id"))
           .unionByName(linked.select(_page_key().alias("pkey"), "term_id"))
           .groupBy("pkey").agg(F.collect_set("term_id").alias("ids")))
    names = F.broadcast(_term_names(pages.sparkSession, lexicon))
    rows = (ids.select("pkey", F.explode(F.concat(F.array(no_id), "ids"))
                       .alias("term_id"))
            .join(names, "term_id", "left")
            .select("pkey", "iri").distinct())
    is_type = F.col("iri").isNull()
    return rows.select(*_triple(
        _page_iri(F.col("pkey")),
        F.when(is_type, vocab.RDF_TYPE).otherwise(vocab.IS_ABOUT),
        F.when(is_type, vocab.WEBPAGE_CLASS).otherwise(F.col("iri")),
        False))


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
    """Lexicon-derived triples as a set (a repeated term or synonym repeats
    rows), optionally semi-joined to the entities linked in the corpus."""
    rows = [r for t in lexicon for r in entity_triple_rows(t)]
    df = spark.createDataFrame(
        rows, schema="term_id long, " + vocab.TRIPLE_SCHEMA)
    if linked is not None:
        ids = linked.select("term_id").distinct()
        df = df.join(ids, "term_id", "left_semi")
    return df.drop("term_id").distinct()


def emit_triples(spark: SparkSession, pages: DataFrame, linked: DataFrame,
                 lexicon: list[dict]) -> DataFrame:
    """Full factory output: page triples ∪ entity triples, each a set
    and disjoint from the other, so the union adds no dedup.

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
    return (page_triples(pages, linked_cached, lexicon)
            .unionByName(entity_triples(spark, lexicon, linked_cached)))


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
