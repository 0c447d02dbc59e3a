"""Structured Streaming variant of the triple factory.

The reference is batch-only (SURVEY.md §2.10), but a web-scale triple
factory ingests crawl data continuously; this module runs it as
streaming queries:

- ``stream_triples``: file-source stream of pages -> foreachBatch
  through the batch factory's own stage (``plans.pipeline.
  mention_linker``: hybrid mentions -> broadcast link) and
  ``emit.page_triples``, emitting page-level triples with per-batch
  dedup; exactly-once via the streaming checkpoint (committed batch
  ids) + idempotent parquet writes keyed by batch id.
- ``mention_rate``: watermarked tumbling-window aggregation of mention
  counts by entity over ``warc_ts`` (late data handled by watermark) —
  the canonical streaming-agg shape.  It keeps the fused mention
  stage, the one that carries ``warc_ts`` through as a passthrough.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import emit, linking, mentions as mention_ops
from ..plans.pipeline import mention_linker
from ..synth.spark_gen import PAGES_SCHEMA


def read_pages_stream(spark: SparkSession, input_path: str,
                      max_files_per_trigger: int = 4) -> DataFrame:
    return (spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_path))


def stream_triples(spark: SparkSession, input_path: str,
                   lexicon: list[dict], out_dir: str,
                   checkpoint_dir: str):
    """Start the streaming triple factory; returns the StreamingQuery.

    Page-level triples only (entity triples are lexicon-derived statics,
    emitted once by the batch path).  foreachBatch gives exactly-once:
    a replayed batch overwrites its own ``batch=<id>`` directory.
    """
    pages = read_pages_stream(spark, input_path)
    link = mention_linker(spark, lexicon)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        tri = emit.page_triples(batch_df, link(batch_df)).distinct()
        (tri.write.mode("overwrite")
         .parquet(os.path.join(out_dir, f"batch={batch_id}")))

    return (pages.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_stream_triples(spark: SparkSession, out_dir: str) -> DataFrame:
    return (spark.read.option("recursiveFileLookup", "true")
            .parquet(out_dir).distinct())


def stream_first_seen(pages: DataFrame, text_col: str = "text",
                      id_col: str = "url") -> DataFrame:
    """Custom stateful streaming operator: cross-batch exact dedup.

    Emits one row per content digest the FIRST time that digest is seen
    anywhere in the stream; later occurrences (same batch or any later
    micro-batch) are dropped.  State = one boolean per digest key via
    ``applyInPandasWithState`` — the engine's streaming analog of
    ``exact_dedup_groups``, and the pattern slot for any custom
    stateful operator Spark lacks built-in.

    Scale: state is hash-partitioned by digest across executors and
    checkpointed with the query; memory per executor is O(distinct
    digests / partitions) booleans."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    keyed = (pages
             .withColumn("digest", F.md5(F.col(text_col)))
             .select("digest", id_col)
             .groupBy("digest"))

    def first_seen(key, pdfs, state):
        first_id = None
        for pdf in pdfs:
            if first_id is None and len(pdf):
                first_id = pdf[id_col].iloc[0]
        if state.exists or first_id is None:
            return  # digest already emitted in an earlier batch
        state.update((True,))
        yield pd.DataFrame({"digest": [key[0]], id_col: [first_id]})

    return keyed.applyInPandasWithState(
        first_seen,
        outputStructType=f"digest string, {id_col} string",
        stateStructType="seen boolean",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)


def stream_curate_head(spark: SparkSession, input_path: str,
                       out_dir: str, checkpoint_dir: str, schema,
                       id_col: str = "doc_id", url_col: str = "url",
                       text_col: str = "text",
                       max_files_per_trigger: int = 1):
    """Incremental (streaming) head of the curation funnel: the
    canonical-URL collapse + exact-content dedup stages of
    ``plans.curate.curate_corpus``, run continuously over a document
    stream.  Returns the StreamingQuery.

    Semantics: first-seen wins across micro-batches; within a batch
    the batch stages keep the min id per key (identical helpers to the
    batch funnel, so one corpus streamed in id order yields EXACTLY
    the batch funnel's exact_dedup-stage survivors — asserted in
    tests).  Keep-decisions are pure functions of (id, content):
    growing the corpus never flips an old decision, which is what
    makes the incremental form correct.

    State = the emitted output itself: each survivor row carries its
    canonical-url key, content digest and batch id; each batch
    anti-joins against the keys of STRICTLY EARLIER batches, so a
    replayed batch (exactly-once via checkpoint + idempotent
    ``batch=<id>`` overwrite) recomputes against the same prior state.
    At scale this is the standard 'dedup against the served corpus'
    shape — the anti-join is a hash join on (key) columns read from
    the accumulated parquet, no driver state."""
    from ..plans.curate import (_keep_exact_representatives,
                                _keep_url_representatives)
    from ..operators.filters import normalize_url_col

    docs = (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_path))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        cur = _keep_url_representatives(batch_df, id_col, url_col)
        cur = _keep_exact_representatives(cur, id_col, text_col)
        cu = normalize_url_col(F.col(url_col))
        cur = (cur
               .withColumn("url_key",
                           F.coalesce(cu, F.concat(
                               F.lit("\x00nourl\x00"),
                               F.col(id_col).cast("string"))))
               .withColumn("digest", F.md5(F.col(text_col)))
               .withColumn("batch_id", F.lit(batch_id)))
        try:
            seen = (spark.read
                    .option("recursiveFileLookup", "true")
                    .parquet(out_dir)
                    .filter(F.col("batch_id") < batch_id))
        except Exception:  # first batch: no output yet
            seen = None
        if seen is not None:
            cur = (cur.join(seen.select("url_key").distinct(),
                            "url_key", "left_anti")
                   .join(seen.select("digest").distinct(),
                         "digest", "left_anti"))
        (cur.write.mode("overwrite")
         .parquet(os.path.join(out_dir, f"batch={batch_id}")))

    return (docs.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start())


def read_stream_curated(spark: SparkSession, out_dir: str) -> DataFrame:
    """Accumulated survivors of :func:`stream_curate_head` (the
    url_key/digest/batch_id state columns dropped)."""
    return (spark.read.option("recursiveFileLookup", "true")
            .parquet(out_dir)
            .drop("url_key", "digest", "batch_id"))


def mention_rate(spark: SparkSession, input_path: str,
                 lexicon: list[dict], window: str = "1 hour",
                 watermark: str = "2 hours") -> DataFrame:
    """Streaming DataFrame: mentions per (window, entity iri), tolerant
    of late pages up to the watermark."""
    pages = read_pages_stream(spark, input_path)
    ac_bc = mention_ops.broadcast_automaton(spark, lexicon)
    cands = linking.candidates_df(spark, lexicon)
    # warc_ts rides through the fused Python stage as a passthrough column
    ments = mention_ops.detect_mentions_fused(pages, ac_bc,
                                              passthrough=("warc_ts",))
    linked = linking.link_mentions(ments, cands)
    return (linked
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"), "iri")
            .agg(F.count("*").alias("n_mentions"))
            .select(F.col("w.start").alias("window_start"), "iri",
                    "n_mentions"))
