"""Sitemap source: sitemap files/globs -> a crawl-frontier DataFrame.

The pure kernel parser over a ``binaryFile`` scan, run by the shared
per-file stage (``sources._per_file``) — a crawl's sitemap set is
~10^5-10^6 files, so one task per file IS the corpus parallelism.
Index documents contribute ``is_index_ref = true`` rows (their child
sitemap locations) instead of being fetched: this engine has no
network; the orchestrator resolves refs to paths and feeds them back
in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..kernel.sitemap import parse_sitemap
from . import _binary_files, _per_file

SITEMAP_SCHEMA = ("loc string, lastmod string, changefreq string, "
                  "priority double, is_index_ref boolean, "
                  "src_file string")


def read_sitemap(spark: SparkSession, path: str) -> DataFrame:
    """Sitemap file(s)/glob -> (loc, lastmod, changefreq, priority,
    is_index_ref, src_file) rows; gzip and text sitemaps included."""
    def parse(content, src):
        doc = parse_sitemap(bytes(content))
        for loc, lastmod, changefreq, prio in doc.urls:
            yield loc, lastmod, changefreq, prio, False, src
        for loc, lastmod in doc.children:
            yield loc, lastmod, None, None, True, src

    return _per_file(_binary_files(spark, path), parse, SITEMAP_SCHEMA)
