"""Checkpoint-resumable runs with per-partition lineage + metrics rows
(BASELINE.json:north_rule).

Design (pure parquet; Iceberg snapshot+MERGE is the drop-in upgrade when
the runtime has the jars):

1. **Stage 0 — bucketize**: pages get a deterministic bucket
   ``pmod(xxhash64(url), n_buckets)`` and are materialized once,
   partitioned by bucket (atomic: Spark commits or leaves nothing).
   Every later job prunes to its buckets at the scan (partition
   pruning — no rescans of the 100 TB input).
2. **Stage 1 — per-group processing**: buckets are processed in groups;
   each group job writes
   - page-level triples into ``triples/bucket=<b>`` (dynamic partition
     overwrite = idempotent re-run), and
   - lexicon-derived entity triples into ``entity_triples/group=<g>``
     (full-dir overwrite, g = min bucket of the group — deterministic),
   then appends one lineage row per bucket: ``(bucket, pages_in,
   mentions_group, triples_out, checksum_sum, run_id, status)``.
   Lineage publishes AFTER the data commit (atomic rename), so a kill
   between them re-processes that group idempotently.
3. **Resume**: a new run lists lineage rows, skips done buckets,
   processes the rest.  ``read_triples`` unions both trees with set
   semantics (entity triples emitted by several groups collapse), so
   the final triple set equals an uninterrupted run exactly.

The commutative per-bucket checksum (sum of per-triple sha2 prefixes)
is the scale-safe analog of the reference's OrderInvariantHash
(``pyontutils/utils_extra.py:23-67``).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import emit
from ..operators.ordering import commutative_checksum
from .pipeline import mention_linker

LINEAGE_DIRNAME = "_lineage"


def bucketize_pages(pages: DataFrame, n_buckets: int) -> DataFrame:
    return pages.withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))


def materialize_buckets(pages: DataFrame, out_dir: str,
                        n_buckets: int) -> str:
    path = os.path.join(out_dir, "pages_bucketed")
    (bucketize_pages(pages, n_buckets)
     .write.mode("overwrite").partitionBy("bucket").parquet(path))
    return path


def _lineage_dir(out_dir: str) -> str:
    return os.path.join(out_dir, LINEAGE_DIRNAME)


def read_lineage(out_dir: str) -> list[dict]:
    ldir = _lineage_dir(out_dir)
    if not os.path.isdir(ldir):
        return []
    rows = []
    for name in sorted(os.listdir(ldir)):
        if name.endswith(".json"):
            with open(os.path.join(ldir, name)) as f:
                rows.append(json.load(f))
    return rows


def done_buckets(out_dir: str) -> set[int]:
    return {r["bucket"] for r in read_lineage(out_dir)
            if r.get("status") == "done"}


def _write_lineage_row(out_dir: str, row: dict) -> None:
    ldir = _lineage_dir(out_dir)
    os.makedirs(ldir, exist_ok=True)
    path = os.path.join(ldir, f"bucket={row['bucket']:05d}.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(row, f)
    os.replace(tmp, path)  # atomic publish


def run_with_lineage(spark: SparkSession, pages: DataFrame,
                     lexicon: list[dict], out_dir: str,
                     n_buckets: int = 8, group_size: int = 2,
                     max_groups: int | None = None,
                     run_id: str | None = None) -> dict:
    """Process the corpus bucket-group by bucket-group, resumably.

    ``max_groups`` limits processed groups (used by tests to simulate a
    mid-run kill).  Returns a summary dict.
    """
    run_id = run_id or f"run-{int(time.time() * 1000)}"
    os.makedirs(out_dir, exist_ok=True)
    bucketed_path = os.path.join(out_dir, "pages_bucketed")
    if not os.path.isdir(bucketed_path):
        materialize_buckets(pages, out_dir, n_buckets)
    bucketed = spark.read.parquet(bucketed_path)

    done = done_buckets(out_dir)
    todo = [b for b in range(n_buckets) if b not in done]
    groups = [todo[i:i + group_size]
              for i in range(0, len(todo), group_size)]
    if max_groups is not None:
        groups = groups[:max_groups]

    triples_dir = os.path.join(out_dir, "triples")
    link = mention_linker(spark, lexicon)

    processed = []
    for group in groups:
        gid = min(group)
        # partition pruning: the bucket filter hits the directory layout
        part = bucketed.filter(F.col("bucket").isin([int(b) for b in group]))
        linked = link(part).persist()

        page_tri = emit.page_triples(part, linked)
        # bucket of a page triple = bucket of its subject page
        piri = part.select(
            emit.page_iri_col().alias("subj_piri"),
            F.col("bucket").alias("bucket")).distinct()
        page_tri = (page_tri
                    .join(piri, page_tri.subj == piri.subj_piri, "inner")
                    .drop("subj_piri"))
        (page_tri.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("bucket").parquet(triples_dir))

        ent_tri = emit.entity_triples(spark, lexicon, linked)
        ent_dir = os.path.join(out_dir, "entity_triples", f"group={gid}")
        ent_tri.write.mode("overwrite").parquet(ent_dir)

        stats = {r["bucket"]: r for r in
                 commutative_checksum(page_tri, "bucket").collect()}
        n_pages_by_bucket = {r["bucket"]: r["n"] for r in
                             part.groupBy("bucket")
                             .agg(F.count("*").alias("n")).collect()}
        n_mentions = linked.count()
        for b in group:
            srow = stats.get(b)
            _write_lineage_row(out_dir, {
                "bucket": int(b),
                "pages_in": int(n_pages_by_bucket.get(b, 0)),
                "mentions_group": int(n_mentions),
                "triples_out": int(srow["n_triples"]) if srow else 0,
                "checksum_sum": int(srow["checksum_sum"]) if srow else 0,
                "entity_group": int(gid),
                "run_id": run_id,
                "status": "done",
            })
        linked.unpersist()
        processed.append(group)

    return {
        "run_id": run_id,
        "groups_processed": processed,
        "buckets_done": sorted(done_buckets(out_dir)),
        "out_dir": out_dir,
    }


PROV_NS = "http://www.w3.org/ns/prov#"
PROV_WAS_DERIVED_FROM = PROV_NS + "wasDerivedFrom"
PROV_WAS_GENERATED_BY = PROV_NS + "wasGeneratedBy"
PROV_ACTIVITY = PROV_NS + "Activity"
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_TEMP_NS = "http://uri.interlex.org/temp/uris/"


def prov_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    """PROV provenance triples per bucket/run, derived from the lineage
    rows — the reference's per-source provenance mapping
    (``pyontutils/core.py:1373-1377``: ``wasDerivedFrom`` = direct
    source, ``wasGeneratedBy`` = the generating run).

    Each done bucket's graph partition gets
    ``<bucketGraph> prov:wasDerivedFrom <sourcePartition>``,
    ``<bucketGraph> prov:wasGeneratedBy <run>``, and each run is typed
    ``prov:Activity``.  Rows come from the (n_buckets-sized) lineage
    JSON, so resume-stability is inherited: a bucket keeps the run_id
    that actually produced it."""
    from ..operators import vocab

    recs = []
    for r in read_lineage(out_dir):
        if r.get("status") != "done":
            continue
        b_iri = f"{_TEMP_NS}graph/bucket/{r['bucket']}"
        run_iri = f"{_TEMP_NS}run/{r['run_id']}"
        src_iri = f"{_TEMP_NS}source/pages_bucketed/bucket/{r['bucket']}"
        recs += [
            (b_iri, PROV_WAS_DERIVED_FROM, src_iri, False, None, None),
            (b_iri, PROV_WAS_GENERATED_BY, run_iri, False, None, None),
            (run_iri, _RDF_TYPE, PROV_ACTIVITY, False, None, None),
        ]
    return spark.createDataFrame(recs, vocab.TRIPLE_SCHEMA).distinct()


def read_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    """Final triple set (set semantics: entity triples emitted by
    multiple groups collapse under distinct)."""
    cols = ["subj", "pred", "obj", "obj_is_literal", "obj_datatype",
            "obj_lang"]
    page_tri = spark.read.parquet(os.path.join(out_dir, "triples")) \
        .select(*cols)
    ent_root = os.path.join(out_dir, "entity_triples")
    if os.path.isdir(ent_root):
        ent = spark.read.option("recursiveFileLookup", "true") \
            .parquet(ent_root).select(*cols)
        return page_tri.unionByName(ent).distinct()
    return page_tri.distinct()
