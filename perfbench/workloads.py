"""The benchmark's workloads: factory and serialize end to end, and
the closure loops layer by layer.

Each workload writes its seeded input to parquet during set-up.  A
repetition (``rep``) runs the workload from that parquet to a sink and
returns the output's signature, taken by ``DataFrame.observe`` in the
same jobs: row count plus an order-independent hash, or the analytic
counts where the output has a closed form.  ``rep(keep=True)`` also
leaves the output on disk, where ``verify`` compares it with an
independent oracle.  In a traced run ``layers`` calls each layer once
on a materialized input.

The seed shifts the generator's row-index (or node-label) range.  The
offset always has nine digits, so every seed gives rows of the same
byte width and the same structure: only the content and the hash
placement move.
"""

from __future__ import annotations

import os
import random
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from pyontutils_spark.kernel.nifttl import serialize_nifttl
from pyontutils_spark.operators import emit, linking, mentions
from pyontutils_spark.operators.components import canonical_mapping
from pyontutils_spark.operators.extract import with_extracted_text
from pyontutils_spark.operators.hierarchy import (reachability_closure,
                                                  transitive_closure)
from pyontutils_spark.plans.pipeline import (canonicalize_triples,
                                             run_triple_factory)
from pyontutils_spark.sources.rdf import nifttl_per_graph, write_ntriples
from pyontutils_spark.synth import golden, graphs
from pyontutils_spark.synth.lexicon import make_lexicon
from pyontutils_spark.synth.pages import make_page
from pyontutils_spark.synth.spark_gen import PAGES_SCHEMA


# Seeds that agree modulo SEED_CYCLE give the same input, so
# expected.json can hold a recorded signature for every seed.
SEED_CYCLE = 30


def seed_offset(seed: int) -> int:
    return (seed % SEED_CYCLE + 10) * 10 ** 7


def _hash_sum(df: DataFrame) -> F.Column:
    return F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)"))


def sink(df: DataFrame, path: str | None = None, **aggs) -> list:
    """Run ``df`` to parquet at ``path`` (no-op sink when None) and
    return the observed row count and ``aggs``, in that order."""
    obs = Observation()
    named = {"rows": F.count(F.lit(1)), **aggs}
    out = df.observe(obs, *[c.alias(k) for k, c in named.items()]).write
    if path is None:
        out.format("noop").mode("overwrite").save()
    else:
        out.mode("overwrite").parquet(path)
    got = obs.get
    return [v if isinstance(v, int) else str(v)
            for v in (got[k] for k in named)]


def _bytes_under(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs
               if not f.startswith((".", "_")))


class Workload:
    """Set-up, one repetition, checks and traced layers of one workload."""

    name = ""

    def __init__(self, spark: SparkSession, work: str, seed: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.off = seed_offset(seed)
        self.input_dir = os.path.join(work, "input")
        self.out = os.path.join(work, "out")

    def _in(self, name: str) -> str:
        return os.path.join(self.input_dir, name)

    def _read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self._in(name))

    def size(self) -> dict:
        raise NotImplementedError

    def generate(self) -> None:
        raise NotImplementedError

    def rep(self, keep: bool = False):
        """One end-to-end repetition; returns the output's signature."""
        raise NotImplementedError

    def verify(self, sig) -> list[str]:
        """Mismatches between the oracle and the output of the last
        ``rep(keep=True)``, whose signature is ``sig`` (empty: correct)."""
        raise NotImplementedError

    def layers(self, tracer, scratch: str) -> list[str]:
        """Call each layer once under ``tracer``; returns mismatches."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# factory: pages -> triple factory -> canonicalization -> sink
# ---------------------------------------------------------------------------

class Factory(Workload):
    name = "factory"
    # A run (set-up with its warm-up, one timed repetition, the check)
    # takes about a minute on 4 cores.  Half of a repetition is
    # canonicalize's CC rounds, whose cost hardly grows with the pages.
    N_PAGES = 4_000

    def __init__(self, spark, work, seed) -> None:
        super().__init__(spark, work, seed)
        self.lex = make_lexicon()

    def size(self) -> dict:
        return {"pages": self.N_PAGES, "first_page": self.off,
                "traced_cc": {"chain_edges": CHAIN_EDGES,
                              "chain_group": CHAIN_GROUP,
                              "star_leaves": STAR_LEAVES}}

    def generate(self) -> None:
        lex_terms = len(self.lex)

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            lex = make_lexicon(lex_terms)
            for pdf in batches:
                recs = [make_page(int(i), lex) for i in pdf["id"]]
                yield pd.DataFrame({
                    "url": [r["url"] for r in recs],
                    "warc_ts": [r["warc_ts"].replace(tzinfo=None)
                                for r in recs],
                    "html": [r["html"] for r in recs],
                    "text": [r["text"] for r in recs],
                    "lang": [r["lang"] for r in recs]})

        (self.spark.range(self.off, self.off + self.N_PAGES)
         .mapInPandas(gen, schema=PAGES_SCHEMA)
         .write.mode("overwrite").parquet(self._in("pages")))

    def rep(self, keep: bool = False):
        res = run_triple_factory(self.spark, self._read("pages"), self.lex)
        out = canonicalize_triples(res.triples)
        sig = sink(out, self.out if keep else None, hash=_hash_sum(out))
        res.linked.unpersist()
        return sig

    def verify(self, sig) -> list[str]:
        pages = [make_page(i, self.lex)
                 for i in range(self.off, self.off + self.N_PAGES)]
        want = golden.canonicalized_corpus_triples(pages, self.lex)
        got = {(r.subj, r.pred, r.obj, r.obj_is_literal) for r in
               self.spark.read.parquet(self.out).select(
                   "subj", "pred", "obj", "obj_is_literal").collect()}
        if got == want:
            return []
        return [f"factory: {len(got - want)} unexpected and "
                f"{len(want - got)} missing triples of {len(want)}"]

    def layers(self, tr, scratch: str) -> list[str]:
        spark, lex = self.spark, self.lex
        pages = tr.materialize(self._read("pages"))
        html = tr.materialize(pages.filter(F.col("text").isNull()))
        text = tr.materialize(pages.filter(F.col("text").isNotNull()))
        ac_bc = mentions.broadcast_automaton(spark, lex)
        tr.force("extract", lambda: with_extracted_text(html))
        tr.force("mentions_jvm",
                 lambda: mentions.detect_mentions_jvm(text, lex))
        tr.force("mentions_fused",
                 lambda: mentions.detect_mentions_fused(html, ac_bc))
        ments = tr.materialize(
            mentions.detect_mentions_hybrid(pages, lex, ac_bc))
        cands = linking.candidates_df(spark, lex, best_only=True)
        linked_rows = tr.force(
            "linking", lambda: linking.link_mentions(ments, cands))
        tr.extra("linking", "hit_ratio", linked_rows / max(1, ments.count()))
        linked = tr.materialize(linking.link_mentions(ments, cands))
        n_triples = tr.force(
            "emit", lambda: emit.emit_triples(spark, pages, linked, lex))
        union_rows = (pages.select("url").distinct().count()
                      + emit.mention_triples(linked).count()
                      + emit.entity_triples(spark, lex, linked).count())
        tr.extra("emit", "distinct_ratio", n_triples / max(1, union_rows))
        triples = tr.materialize(emit.emit_triples(spark, pages, linked, lex))
        tr.force("canonicalize", lambda: canonicalize_triples(triples))
        return sameas_layers(spark, tr, os.path.join(scratch, "closure"),
                             self.seed)


# ---------------------------------------------------------------------------
# closure: TC and reachability on a tree, CC on chains and on a hub star
# ---------------------------------------------------------------------------

def _shift_label(col: str, off: int) -> F.Column:
    """``<prefix><n>`` -> ``<prefix><n + off>``."""
    return F.concat(
        F.regexp_extract(col, r"^(.*\D)\d+$", 1),
        (F.regexp_extract(col, r"(\d+)$", 1).cast("long") + off)
        .cast("string"))


def tree_closure_size(n_edges: int, fanout: int) -> int:
    """Ancestor pairs of ``graphs.tree_edges``: the sum of node depths,
    where node i >= 1 has depth d(i) = d((i-1)//fanout) + 1."""
    depth = [0] * (n_edges + 1)
    for i in range(1, n_edges + 1):
        depth[i] = depth[(i - 1) // fanout] + 1
    return sum(depth)


# The closure loops are traced layer by layer only: sameAs CC on chains
# and on a hub star in the factory workload's traced run (next to the
# canonicalize step, which runs the same CC on a small input), TC and
# reachability on a fanout-2 tree (one round per level) in the
# serialize workload's.  Their JIT warm-up (about five repetitions,
# 22 s down to 8 s on 4 cores) is too long for an end-to-end workload
# of a one-minute run.  At these sizes each loop takes about twice its
# time on a toy input (511 tree edges, 2k chain and star edges), so its
# body and its fixed per-round cost are about even; larger inputs do
# not fit in a traced run's 180 s.
TREE_EDGES, FANOUT = 16_383, 2
CHAIN_EDGES, CHAIN_GROUP = 50_000, 6
STAR_LEAVES = 50_000


def _closure_input(spark: SparkSession, tr, path: str, df: DataFrame,
                   seed: int) -> DataFrame:
    """``df`` with seed-shifted node labels, written to ``path`` and
    read back materialized."""
    off = seed_offset(seed)
    (df.select(*[_shift_label(c, off).alias(c) for c in df.columns])
     .write.mode("overwrite").parquet(path))
    return tr.materialize(spark.read.parquet(path))


def _mismatches(got: dict[str, int], want: dict[str, int]) -> list[str]:
    return [f"closure/{k}: {got[k]} rows, expected {n}"
            for k, n in want.items() if got[k] != n]


def sameas_layers(spark: SparkSession, tr, work: str,
                  seed: int) -> list[str]:
    """``canonical_mapping`` on sameAs chains and on a hub star, each
    called once under ``tr``; returns row-count mismatches against the
    closed forms (every node of a component is mapped once)."""
    chain = _closure_input(spark, tr, os.path.join(work, "chain"),
                           graphs.sameas_chain_edges(spark, CHAIN_EDGES,
                                                     CHAIN_GROUP), seed)
    star = _closure_input(spark, tr, os.path.join(work, "star"),
                          graphs.star_edges(spark, STAR_LEAVES), seed)
    got = {"cc_chain": tr.force("cc_chain", lambda: canonical_mapping(chain)),
           "cc_hub": tr.force("cc_hub", lambda: canonical_mapping(star))}
    chains = CHAIN_EDGES // (CHAIN_GROUP - 1)
    return _mismatches(got, {"cc_chain": chains * CHAIN_GROUP,
                             "cc_hub": STAR_LEAVES + 1})


def hierarchy_layers(spark: SparkSession, tr, work: str,
                     seed: int) -> list[str]:
    """``transitive_closure`` and ``reachability_closure`` on a tree,
    each called once under ``tr``; returns row-count mismatches against
    the tree's ancestor-pair count."""
    tree = _closure_input(spark, tr, os.path.join(work, "tree"),
                          graphs.tree_edges(spark, TREE_EDGES, FANOUT), seed)
    got = {"tc": tr.force("tc", lambda: transitive_closure(tree)),
           "reach": tr.force("reach", lambda: reachability_closure(tree))}
    pairs = tree_closure_size(TREE_EDGES, FANOUT)
    return _mismatches(got, {"tc": pairs, "reach": pairs})


# ---------------------------------------------------------------------------
# serialize: many small and a few large graphs -> nifttl documents + NT
# ---------------------------------------------------------------------------

NAMESPACES = {
    "owl": "http://www.w3.org/2002/07/owl#",
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
}


def _shift_graphs(df: DataFrame, off: int, tag: str) -> DataFrame:
    """Renumber ``ontology_graphs``' graph g to ``<tag><g + off>``."""
    g = F.regexp_extract("src_file", r"/g(\d+)\.ttl$", 1)
    new = F.concat(F.lit(tag), (g.cast("long") + off).cast("string"))

    def sub(c):
        return F.replace(F.replace(c, F.concat(F.lit("/g"), g, F.lit("/")),
                                   F.concat(F.lit("/"), new, F.lit("/"))),
                         F.concat(F.lit("class "), g, F.lit(" ")),
                         F.concat(F.lit("class "), new, F.lit(" ")))

    return df.select(
        F.concat(F.lit("file:///onts/"), new, F.lit(".ttl"))
        .alias("src_file"),
        sub(F.col("subj")).alias("subj"), "pred",
        sub(F.col("obj")).alias("obj"),
        "obj_is_literal", "obj_datatype", "obj_lang")


class Serialize(Workload):
    name = "serialize"
    # A run takes about a minute on 4 cores; the serializer and the
    # N-Triples writer each take about 2/5 of a repetition.
    SMALL_GRAPHS, SMALL_CLASSES = 3_000, 12
    BIG_GRAPHS, BIG_CLASSES = 2, 3_000
    SAMPLE = 8

    def size(self) -> dict:
        return {"small_graphs": self.SMALL_GRAPHS,
                "small_classes": self.SMALL_CLASSES,
                "big_graphs": self.BIG_GRAPHS,
                "big_classes": self.BIG_CLASSES,
                "triples": 3 * (self.SMALL_GRAPHS * self.SMALL_CLASSES
                                + self.BIG_GRAPHS * self.BIG_CLASSES),
                "graph_offset": self.off,
                "traced_tree": {"edges": TREE_EDGES, "fanout": FANOUT}}

    def generate(self) -> None:
        sp = self.spark
        small = _shift_graphs(graphs.ontology_graphs(
            sp, self.SMALL_GRAPHS, self.SMALL_CLASSES), self.off, "g")
        big = _shift_graphs(graphs.ontology_graphs(
            sp, self.BIG_GRAPHS, self.BIG_CLASSES), self.off, "big")
        small.unionByName(big).write.mode("overwrite").parquet(
            self._in("graphs"))

    def _docs(self, og: DataFrame) -> DataFrame:
        return nifttl_per_graph(og, NAMESPACES)

    def rep(self, keep: bool = False):
        og = self._read("graphs")
        docs = self._docs(og)
        nt = os.path.join(self.out, "nt")
        sig = {"docs": sink(docs, os.path.join(self.out, "docs"),
                            hash=_hash_sum(docs))}
        write_ntriples(og.drop("src_file"), nt)
        sig["nt_bytes"] = _bytes_under(nt)
        return sig

    def verify(self, sig) -> list[str]:
        errors = []
        n_graphs = self.SMALL_GRAPHS + self.BIG_GRAPHS
        if sig["docs"][0] != n_graphs:
            errors.append(f"serialize: {sig['docs'][0]} documents, "
                          f"expected {n_graphs}")
        n_lines = self.spark.read.text(os.path.join(self.out, "nt")).count()
        if n_lines != self.size()["triples"]:
            errors.append(f"serialize: {n_lines} N-Triples lines, "
                          f"expected {self.size()['triples']}")
        rnd = random.Random(self.seed)
        keys = [f"file:///onts/g{self.off + rnd.randrange(self.SMALL_GRAPHS)}"
                ".ttl" for _ in range(self.SAMPLE)]
        keys += [f"file:///onts/big{self.off + i}.ttl"
                 for i in range(self.BIG_GRAPHS)]
        docs = dict(self.spark.read.parquet(os.path.join(self.out, "docs"))
                    .filter(F.col("graph_key").isin(keys))
                    .select("graph_key", "ttl").collect())
        rows: dict[str, list] = {k: [] for k in keys}
        for r in (self._read("graphs").filter(F.col("src_file").isin(keys))
                  .collect()):
            rows[r.src_file].append(
                (r.subj, r.pred, r.obj, r.obj_is_literal, r.obj_datatype,
                 r.obj_lang))
        for k in sorted(set(keys)):
            if docs.get(k) != serialize_nifttl(rows[k], NAMESPACES):
                errors.append(f"serialize: document {k} differs from "
                              "serialize_nifttl")
        return errors

    def layers(self, tr, scratch: str) -> list[str]:
        og = tr.materialize(self._read("graphs"))
        tr.force("nifttl", lambda: self._docs(og),
                 bytes_col=F.octet_length("ttl"))
        docs = tr.materialize(self._docs(og))
        path = os.path.join(scratch, "docs")
        tr.call("sink", lambda: docs.write.mode("overwrite").parquet(path))
        tr.extra("sink", "bytes_out", _bytes_under(path))
        triples = tr.materialize(og.drop("src_file"))
        path = os.path.join(scratch, "nt")
        tr.call("ntriples", lambda: write_ntriples(triples, path))
        tr.extra("ntriples", "rows_out", triples.count())
        tr.extra("ntriples", "bytes_out", _bytes_under(path))
        return hierarchy_layers(self.spark, tr,
                                os.path.join(scratch, "closure"), self.seed)


WORKLOADS = {w.name: w for w in (Factory, Serialize)}
