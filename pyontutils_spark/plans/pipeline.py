"""End-to-end triple factory: pages -> text -> mentions -> links -> triples.

The Spark instantiation of the reference's build pipeline
(``Ont`` lifecycle: sources -> triple generators -> validate -> write,
``pyontutils/core.py:1183-1346, 1496-1541``), shaped for 10^12 pages:

- one linear DAG, no driver-side loops over data
- all joins broadcast (lexicon/candidates are the small side)
- set semantics via distinct (map-side partial aggregation)
- deterministic output independent of partitioning
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators import emit, linking, mentions as mention_ops


@dataclass
class TripleFactoryResult:
    linked: DataFrame
    triples: DataFrame


def mention_linker(spark: SparkSession, lexicon: list[dict],
                   min_length: int = 3, lang_filter: str | None = "en"
                   ) -> Callable[[DataFrame], DataFrame]:
    """The factory's pages -> linked stage, built once per run or query:
    the automaton broadcast and best-candidate table are made here, and
    the returned function runs the hybrid mention stage then the
    broadcast link join on any pages frame (the whole corpus, a bucket
    group, a streaming micro-batch)."""
    ac_bc = mention_ops.broadcast_automaton(spark, lexicon, min_length)
    cands = linking.candidates_df(spark, lexicon, min_length, best_only=True)

    def link(pages: DataFrame) -> DataFrame:
        ments = mention_ops.detect_mentions_hybrid(
            pages, lexicon, ac_bc, lang_filter=lang_filter,
            min_length=min_length)
        return linking.link_mentions(ments, cands)

    return link


def run_triple_factory(spark: SparkSession, pages: DataFrame,
                       lexicon: list[dict], min_length: int = 3,
                       lang_filter: str | None = "en") -> TripleFactoryResult:
    linked = mention_linker(spark, lexicon, min_length, lang_filter)(pages)
    # raw pages (url only) for the page-type triples — the extraction UDF
    # must not run for them; linked is persisted inside emit_triples.
    return TripleFactoryResult(
        linked, emit.emit_triples(spark, pages, linked, lexicon))


def canonicalize_triples(triples):
    """Entity-canonicalization pass over factory output: sameAs candidate
    edges from duplicate rdfs:label values, connected components, rewrite
    every triple through (iri -> natsort-min canonical), emit owl:sameAs
    provenance — the reference's synonym/label collapsing
    (get_label2rows interlex_sql.py:271-282 + switchURIs/swapUriSwitch
    ontutils.py:71-91, 521-583) as one declarative pass."""
    from pyspark.sql import functions as F

    from ..operators import vocab
    from ..operators.components import (
        canonical_mapping, rewrite_triples, sameas_candidates_from_lexicon)

    labels = (triples.filter(F.col("pred") == vocab.RDFS_LABEL)
              .select(F.col("subj").alias("iri"),
                      F.lower(F.trim("obj")).alias("label_norm"))
              .distinct())
    edges = sameas_candidates_from_lexicon(labels)
    mapping = canonical_mapping(edges)
    return rewrite_triples(triples, mapping)
