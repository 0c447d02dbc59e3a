"""Projection / filter / set operators from SURVEY.md §2.2 and §2.7.

Each is a one-liner on purpose: the reference implements these as
imperative scans over an in-memory graph; declaratively they are
filters/projections Catalyst pushes into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import vocab


def triple_pattern(triples: DataFrame, subj=None, pred=None,
                   obj=None) -> DataFrame:
    """graph.triples((s, p, o)) with None wildcards (used everywhere in
    the reference, e.g. buildPredicateHash serializers.py:572-583)."""
    out = triples
    if subj is not None:
        out = out.filter(F.col("subj") == subj)
    if pred is not None:
        out = out.filter(F.col("pred") == pred)
    if obj is not None:
        out = out.filter(F.col("obj") == obj)
    return out


def predicate_projection(triples: DataFrame, preds) -> DataFrame:
    """Keep triples whose predicate is in a fixed set (get_spells,
    ontutils.py:210-212)."""
    return triples.filter(F.col("pred").isin(*list(preds)))


def all_uris(triples: DataFrame) -> DataFrame:
    """Distinct URIRefs from every triple position (furls,
    ontutils.py:301-303) — includes literal datatypes like the
    CompactTurtleSerializer counter (serializers.py:840-848)."""
    pos = triples.select(F.explode(F.array(
        F.col("subj"),
        F.col("pred"),
        F.when(~F.col("obj_is_literal"), F.col("obj")),
        F.col("obj_datatype"))).alias("uri"))
    return (pos.filter(F.col("uri").isNotNull())
            .filter(F.col("uri").startswith("http"))
            .distinct())


def deprecated_subjects(triples: DataFrame) -> DataFrame:
    """Subjects with owl:deprecated true (necromancy.py:102)."""
    return (triples.filter((F.col("pred") == vocab.OWL_DEPRECATED)
                           & (F.col("obj") == "true"))
            .select("subj").distinct())


def replacement_mapping(triples: DataFrame) -> DataFrame:
    """(iri -> canonical_iri) from replacedBy: triples — the necromancy
    resurrection map (necromancy.py:134), consumable by
    components.rewrite_triples.  Closed: each replacement target that is
    not itself replaced maps to itself, so every ``canonical_iri`` is
    also an ``iri``."""
    pairs = (triples.filter(F.col("pred") == vocab.REPLACED_BY)
             .select(F.col("subj").alias("iri"),
                     F.col("obj").alias("canonical_iri"))
             .distinct())
    roots = (pairs.select(F.col("canonical_iri").alias("iri"),
                          "canonical_iri").distinct()
             .join(pairs.select("iri"), "iri", "left_anti"))
    return pairs.unionByName(roots)


def uri_frequency(triples: DataFrame, min_count: int = 3,
                  min_len: int = 11) -> DataFrame:
    """URI occurrence counts with the compactable filter of
    CompactTurtleSerializer (count > 2 and len > 10,
    serializers.py:840-848)."""
    return (all_uris_with_multiplicity(triples)
            .groupBy("uri").count()
            .filter((F.col("count") >= min_count)
                    & (F.length("uri") >= min_len)))


def all_uris_with_multiplicity(triples: DataFrame) -> DataFrame:
    pos = triples.select(F.explode(F.array(
        F.col("subj"), F.col("pred"),
        F.when(~F.col("obj_is_literal"), F.col("obj")),
        F.col("obj_datatype"))).alias("uri"))
    return pos.filter(F.col("uri").isNotNull() &
                      F.col("uri").startswith("http"))


# --- set operations over (graph, triple) tables (SURVEY §2.7) -------------

def graph_overlaps(tagged: DataFrame, graph_col: str = "graph") -> DataFrame:
    """Pairwise-intersection analog of overlaps.py:19-33 without the n²
    pair loop: triples shared by >1 graph, with the sorted graph list."""
    key = ["subj", "pred", "obj", "obj_is_literal"]
    return (tagged.groupBy(*key)
            .agg(F.sort_array(F.collect_set(graph_col)).alias("graphs"),
                 F.countDistinct(graph_col).alias("n_graphs"))
            .filter(F.col("n_graphs") > 1))


def graph_union(a: DataFrame, b: DataFrame) -> DataFrame:
    """rdflib Graph union = distinct union (core.py:928 semantics)."""
    return a.unionByName(b).distinct()


def graph_difference(a: DataFrame, b: DataFrame) -> DataFrame:
    """Triples in a but not b (set difference via anti-join)."""
    key = ["subj", "pred", "obj", "obj_is_literal"]
    return a.join(b.select(*key), key, "left_anti")


def graph_intersection(a: DataFrame, b: DataFrame) -> DataFrame:
    key = ["subj", "pred", "obj", "obj_is_literal"]
    return a.join(b.select(*key).distinct(), key, "left_semi")


_TRACKING_PREFIXES = ("utm_", "fbclid=", "gclid=", "msclkid=", "ref=")


def normalize_url_col(url) -> "F.Column":
    """Canonical-URL normalization as pure column expressions (the
    URL-dedup step of a crawl pipeline): drop the fragment, lowercase
    scheme+host, strip default ports (http:80 / https:443), empty path
    -> '/', drop tracking query params (utm_*, fbclid, gclid, msclkid,
    ref), sort the surviving params.  A userinfo prefix
    (``user:pass@host``) is stripped from the canonical form — the
    credentials don't change which page the URL names, so
    ``url_dedup_groups`` should collapse them (and must NOT mistake the
    username for the host).  URLs without a scheme pass through
    unchanged.  Whole-stage-codegen string ops — no UDF."""
    u = F.substring_index(url, "#", 1)
    scheme = F.lower(
        F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    # authority BEFORE userinfo strip: path/query offsets key off its
    # raw length, so compute it first and only then drop `user:pass@`
    hostport_raw = F.substring_index(F.substring_index(rest, "/", 1),
                                     "?", 1)
    hostport = F.regexp_replace(hostport_raw, r"^[^/@]*@", "")
    host = F.lower(F.substring_index(hostport, ":", 1))
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")))
    pathq = F.substring(rest, F.length(hostport_raw) + 1, 1_000_000)
    path = F.substring_index(pathq, "?", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    qpos = F.instr(pathq, "?")
    query = F.when(qpos > 0,
                   F.substring(pathq, qpos + 1, 1_000_000)) \
        .otherwise(F.lit(""))
    bad = F.lit(list(_TRACKING_PREFIXES))
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~F.exists(
            bad, lambda b: p.startswith(b)))
    params = F.array_sort(params)
    qstr = F.when(F.size(params) > 0,
                  F.concat(F.lit("?"), F.array_join(params, "&"))) \
        .otherwise(F.lit(""))
    normalized = F.concat(
        scheme, F.lit("://"), host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path, qstr)
    return F.when(scheme == "", url).otherwise(normalized)


def url_dedup_groups(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Group rows by canonical URL: (canonical_url, n, urls sorted) —
    the crawl-side exact-dup collapse that runs BEFORE content hashing
    (two urls differing only in tracking params are the same page)."""
    return (df.withColumn("canonical_url", normalize_url_col(F.col(url_col)))
            .groupBy("canonical_url")
            .agg(F.count("*").alias("n"),
                 F.sort_array(F.collect_set(url_col)).alias("urls")))
