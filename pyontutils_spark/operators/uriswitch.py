"""Curated URI replacement (the ``uri_switch``/``switchURIs`` refactor).

The reference rewrites IRIs through a curated replacement map with
fragment-prefix rules (``swapUriSwitch`` ``pyontutils/ontutils.py:
521-583``: e.g. ``nlx_sub_`` -> ``nlx_subcell_``, ``nif_organ_`` ->
``nlx_organ_``, the separator-free ``sao`` fragment) and emits an
``owl:sameAs`` provenance triple per replacement (``:528``).

Spark expression: the fragment rules become one chained
``regexp_replace`` column (JVM-side); exact-IRI replacements are a
map join (components.rewrite_triples), which broadcasts the map because
its observed size is under the broadcast threshold (a curated map has
dozens of rows), with no hint from the caller.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from . import vocab

# (pattern, replacement) fragment rules, reference ontutils.py:546-574
FRAGMENT_RULES = [
    (r"/nlx_sub_", "/nlx_subcell_"),
    (r"/nif_organ_", "/nlx_organ_"),
    (r"/nlx_sub/", "/nlx_subcell/"),
]


def apply_fragment_rules(col, rules=None) -> Column:
    out = F.col(col) if isinstance(col, str) else col
    for pat, repl in (rules or FRAGMENT_RULES):
        out = F.regexp_replace(out, pat, repl)
    return out


def switch_uris(triples: DataFrame, rules=None) -> DataFrame:
    """Rewrite subj/pred/obj IRIs through the fragment rules and emit
    owl:sameAs provenance for changed subjects/objects."""
    rules = rules or FRAGMENT_RULES
    new_subj = apply_fragment_rules("subj", rules)
    new_obj = F.when(F.col("obj_is_literal"), F.col("obj")) \
        .otherwise(apply_fragment_rules("obj", rules))
    rewritten = triples.select(
        new_subj.alias("subj"), "pred", new_obj.alias("obj"),
        "obj_is_literal", "obj_datatype", "obj_lang")
    changed = (triples.select(F.col("subj").alias("old"),
                              new_subj.alias("new"))
               .unionByName(
                   triples.filter(~F.col("obj_is_literal"))
                   .select(F.col("obj").alias("old"),
                           new_obj.alias("new")))
               .filter(F.col("old") != F.col("new")).distinct())
    prov = changed.select(
        F.col("old").alias("subj"),
        F.lit(vocab.OWL_SAMEAS).alias("pred"),
        F.col("new").alias("obj"),
        F.lit(False).alias("obj_is_literal"),
        F.lit(None).cast("string").alias("obj_datatype"),
        F.lit(None).cast("string").alias("obj_lang"))
    return rewritten.unionByName(prov).distinct()
