"""Sources: files -> DataFrames.

Every whole-file reader (RDF documents, OBO, GraphML, sitemaps, WARC)
is a pure ``parse(content, src)`` generator run by the one per-file
stage, :func:`_per_file`, over a :func:`_text_files` or
:func:`_binary_files` scan.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType


def _text_files(spark: SparkSession, path) -> DataFrame:
    """Whole-file text scan -> ``(content, src)`` rows.  ``src`` is the
    ``input_file_name()`` URI (``file:...``); the Turtle and TriG
    parsers key a document's blank-node skolem IRIs on it."""
    return (spark.read.text(path, wholetext=True)
            .select(F.col("value").alias("content"),
                    F.input_file_name().alias("src")))


def _binary_files(spark: SparkSession, path) -> DataFrame:
    """Whole-file ``binaryFile`` scan -> ``(content, src)`` rows, with
    ``src`` the scan's ``path``."""
    return (spark.read.format("binaryFile").load(path)
            .select("content", F.col("path").alias("src")))


def _per_file(files: DataFrame, parse, schema: str) -> DataFrame:
    """The per-file source stage: ``parse(content, src)`` runs once per
    file inside ``mapInPandas`` and yields rows in ``schema``'s column
    order; each Arrow batch of files becomes one pandas frame.

    The file is the parse unit for document formats (Turtle, RDF/XML,
    JSON-LD, TriG, OBO and GraphML carry document-level state —
    prefix maps, xml:base, @context, headers, node ids — so they cannot
    be line-split like NT; a WARC or sitemap file is one container).
    At scale a corpus is many files -> many tasks; a single giant
    document should be converted to NT/parquet first (the reference has
    the same constraint: rdflib parses one document in one process)."""
    names = StructType.fromDDL(schema).names

    def per_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for content, src in zip(pdf["content"], pdf["src"]):
                rows.extend(parse(content, src))
            yield pd.DataFrame(rows, columns=names)

    return files.mapInPandas(per_batch, schema=schema)
