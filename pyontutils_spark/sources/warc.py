"""WARC ingest: Common Crawl's container format -> the BASELINE pages
table shape ``(url, warc_ts, html, text, lang)``.

The pure-stdlib kernel parser over a ``binaryFile`` scan, run by the
shared per-file stage (``sources._per_file``) — CC segments are ~1 GB
each and a crawl is ~10^5 files, so one task per file IS the corpus
parallelism.  ``text``/``lang`` come back NULL: extraction and
language-ID are the next pipeline stages
(``plans/pipeline.run_triple_factory`` extracts for rows with NULL
text; ``textstats.lang_id_col`` fills lang).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..kernel.warc import parse_warc
from ..synth.spark_gen import PAGES_SCHEMA
from . import _binary_files, _per_file


def read_warc(spark: SparkSession, path: str,
              min_status: int = 200, max_status: int = 299) -> DataFrame:
    """WARC file(s)/glob -> pages rows; only ``response`` records with
    a 2xx (or absent) HTTP status survive, the CC-pipeline default."""
    def parse(content, _src):
        for r in parse_warc(bytes(content)):
            if r["url"] is None:
                continue
            if r["status"] is not None and not (
                    min_status <= r["status"] <= max_status):
                continue
            yield r["url"], r["ts"], r["html"], None, None

    return _per_file(_binary_files(spark, path), parse, PAGES_SCHEMA)
