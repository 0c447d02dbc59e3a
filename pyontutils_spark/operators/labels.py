"""Deterministic label synthesis from sorted content — the LabelMaker
semantics (``neurondm/neurondm/core.py:119-301``): a label is assembled
from an entity's property bag in a FIXED per-category order, values
natsort-sorted within a category, negative-valued properties prefixed
with ``-`` (``neurondm/core.py:170-182``), and a suffix category
appended last (circuit-role logic ``:283-301``).

Spark expression: pure column ops over the pivoted entity table —
``array_sort`` on (category-rank, natsort-key) structs, then
``array_join``.  Order-insensitivity of the input bag is the
reference's own test (``neurondm/test/test_label.py``: ``ms(inter,
intrin)`` == ``ms(intrin, inter)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .components import natsort_key_udf

# category -> render order (smaller renders first); suffix category last
DEFAULT_CATEGORY_ORDER = {
    "location": 0,
    "phenotype": 1,
    "molecular": 2,
    "morphology": 3,
    "role": 9,  # suffix category
}


def synthesize_labels(props: DataFrame,
                      category_order: dict[str, int] | None = None,
                      sep: str = " ") -> DataFrame:
    """props(iri, category, value, negative boolean) -> (iri, label).

    label = values sorted by (category rank, natsort(value)), each
    negative value prefixed '-', joined by ``sep``.
    """
    order = category_order or DEFAULT_CATEGORY_ORDER
    rank = F.create_map(
        *[x for k, v in sorted(order.items())
          for x in (F.lit(k), F.lit(v))])
    rendered = F.when(F.col("negative"), F.concat(F.lit("-"),
                                                  F.col("value"))) \
        .otherwise(F.col("value"))
    tagged = props.select(
        "iri",
        F.struct(
            F.coalesce(rank[F.col("category")], F.lit(5)).alias("crank"),
            natsort_key_udf("value").alias("nkey"),
            rendered.alias("shown")).alias("item"))
    return (tagged.groupBy("iri")
            .agg(F.array_join(
                F.transform(F.array_sort(F.collect_list("item")),
                            lambda s: s.shown),
                sep).alias("label")))
