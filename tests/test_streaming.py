"""Structured Streaming triple factory: streamed output must equal the
batch pipeline and the resumable run on the same input; windowed
mention-rate agg with watermark must run and produce per-entity
counts."""

import os

import pytest

from pyontutils_spark.kernel.ids import PAGE_NS
from pyontutils_spark.plans.lineage import read_triples, run_with_lineage
from pyontutils_spark.plans.pipeline import run_triple_factory
from pyontutils_spark.streaming.stream import (
    mention_rate, read_stream_triples, stream_triples)
from pyontutils_spark.synth.lexicon import make_lexicon
from pyontutils_spark.synth.pages import make_pages
from pyontutils_spark.synth.spark_gen import pages_df_local

N = 80
LEX = make_lexicon()
PAGES = make_pages(N, LEX)


def _triple_set(df):
    return {(r.subj, r.pred, r.obj, r.obj_is_literal)
            for r in df.select("subj", "pred", "obj", "obj_is_literal")
            .collect()}


@pytest.fixture(scope="module")
def input_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages_stream"))
    # several files so maxFilesPerTrigger yields multiple micro-batches
    pages_df_local(spark, PAGES).repartition(6).write.mode("overwrite") \
        .parquet(d)
    return d


def test_stream_equals_batch(spark, input_dir, tmp_path):
    """batch == resume == streaming on the real factory over one page
    set: the resumable run's final triples equal the batch triples, and
    the stream's page-level triples equal the batch triples about
    pages."""
    pages = spark.read.parquet(input_dir)
    batch = _triple_set(run_triple_factory(spark, pages, LEX).triples)

    lineage_dir = str(tmp_path / "lineage")
    run_with_lineage(spark, pages, LEX, lineage_dir, n_buckets=4,
                     max_groups=1)
    run_with_lineage(spark, pages, LEX, lineage_dir, n_buckets=4)
    assert _triple_set(read_triples(spark, lineage_dir)) == batch

    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_triples(spark, input_dir, LEX, out_dir, ckpt)
    q.awaitTermination(120)
    got = _triple_set(read_stream_triples(spark, out_dir))
    assert got == {t for t in batch if t[0].startswith(PAGE_NS)}


def test_stream_restart_is_exactly_once(spark, input_dir, tmp_path):
    out_dir = str(tmp_path / "out2")
    ckpt = str(tmp_path / "ckpt2")
    q = stream_triples(spark, input_dir, LEX, out_dir, ckpt)
    q.awaitTermination(120)
    first = _triple_set(read_stream_triples(spark, out_dir))
    # restart with same checkpoint: no new input -> no change
    q2 = stream_triples(spark, input_dir, LEX, out_dir, ckpt)
    q2.awaitTermination(120)
    assert _triple_set(read_stream_triples(spark, out_dir)) == first


def test_mention_rate_windowed(spark, input_dir, tmp_path):
    agg = mention_rate(spark, input_dir, LEX, window="24 hours",
                       watermark="48 hours")
    q = (agg.writeStream.outputMode("complete")
         .format("memory").queryName("mention_rate_out")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from mention_rate_out").collect()
    assert rows
    total = sum(r.n_mentions for r in rows)
    # every linked mention lands in exactly one window
    from pyontutils_spark.synth.golden import build_link_index, link_pattern
    idx = build_link_index(LEX)
    want = sum(1 for p_ in PAGES if p_["lang"] == "en"
               for s, e, _, pat in p_["mentions"]
               if link_pattern(pat, idx) is not None)
    assert total == want


def test_stream_first_seen_stateful_dedup(spark, tmp_path):
    """applyInPandasWithState cross-batch dedup: duplicated texts
    across micro-batches emit exactly one row per digest, equal to the
    batch-distinct set."""
    import pyspark.sql.functions as SF
    from pyontutils_spark.streaming.stream import (
        read_pages_stream, stream_first_seen)

    d = str(tmp_path / "dup_pages")
    base = pages_df_local(spark, PAGES[:30])
    dup = base.withColumn("url", SF.concat(SF.col("url"), SF.lit("?dup")))
    # two files with identical text payloads -> >=2 micro-batches at
    # maxFilesPerTrigger=1, duplicates across batches
    base.coalesce(1).write.mode("overwrite").parquet(d)
    dup.coalesce(1).write.mode("append").parquet(d)

    stream = read_pages_stream(spark, d, max_files_per_trigger=1)
    out = stream_first_seen(stream)
    q = (out.writeStream.outputMode("update")
         .format("memory").queryName("first_seen_out")
         .option("checkpointLocation", str(tmp_path / "ckpt_fs"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("select * from first_seen_out").collect()
    digests = [r.digest for r in rows]
    assert len(digests) == len(set(digests))  # one row per digest, ever
    n_batch_distinct = (pages_df_local(spark, PAGES[:30])
                        .select(SF.md5("text")).distinct().count())
    assert len(digests) == n_batch_distinct


def test_stream_curate_head_equals_batch_funnel(spark, tmp_path):
    """Streaming url-collapse + exact-dedup (stream_curate_head) over
    an id-ordered stream must emit EXACTLY the batch funnel's
    exact_dedup-stage survivors, across micro-batch boundaries and a
    restart (exactly-once)."""
    from pyontutils_spark.plans.curate import curate_corpus
    from pyontutils_spark.streaming.stream import (
        read_stream_curated, stream_curate_head)

    def doc(i):
        return " ".join(f"w{i}x{j}" for j in range(12))

    schema = "doc_id long, url string, text string"
    # file 0: base docs; file 1: url variant of 0, exact dup of 1 at a
    # new url, null-url doc, fresh doc; file 2: dup of the null-url
    # doc's text, another fresh doc
    chunks = [
        [(0, "http://s.example/p0", doc(0)),
         (1, "http://s.example/p1", doc(1)),
         (2, None, doc(2))],
        [(10, "http://s.example/p0?utm_source=x", doc(0)),
         (11, "http://mirror.example/m1", doc(1)),
         (12, None, doc(12)),
         (13, "http://s.example/p13", doc(13))],
        [(20, "http://other.example/o", doc(2)),
         (21, "http://s.example/p21", doc(21))],
    ]
    in_dir = tmp_path / "docs_stream"
    in_dir.mkdir()
    for i, rows in enumerate(chunks):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("overwrite").parquet(str(in_dir / f"{i:02d}"))
    out_dir = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt_curate")

    q = stream_curate_head(spark, str(in_dir) + "/*", out_dir, ckpt,
                           schema)
    q.awaitTermination(300)
    got = {r.doc_id for r in read_stream_curated(spark, out_dir)
           .select("doc_id").collect()}

    batch = spark.createDataFrame(
        [r for rows in chunks for r in rows], schema)
    res = curate_corpus(batch, url_col="url", text_col="text",
                        lang_col=None, report=False)
    want = {r.doc_id for r in dict(res.stages)["exact_dedup"]
            .select("doc_id").collect()}
    assert got == want
    # expected shape: 10 (url variant), 11 (exact dup), 20 (dup of
    # null-url doc 2) are dropped; null-url docs 2 and 12 survive
    assert got == {0, 1, 2, 12, 13, 21}

    # restart with the same checkpoint: no new batches, output unchanged
    q2 = stream_curate_head(spark, str(in_dir) + "/*", out_dir, ckpt,
                            schema)
    q2.awaitTermination(300)
    again = {r.doc_id for r in read_stream_curated(spark, out_dir)
             .select("doc_id").collect()}
    assert again == got
