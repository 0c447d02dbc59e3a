"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "triples_per_sec": ..., ...}.
Without $SPARK_GRAFT_CPUS it takes the cores this process may run on;
the driver heap is get_spark's default (a quarter of MemTotal, 1g-16g).

The KG pipeline (the engine's raison d'etre) is benched end-to-end:
synthesized pages (BASELINE input shape) are materialized to a cached
parquet once (generation excluded from timing), then the timed run is
extract -> mention -> link -> emit -> noop sink.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) \
    or len(os.sched_getaffinity(0))
CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         ".bench_cache")

# pages scale tracks the sf (sf0.1 ~ 600k lineitem -> 20k pages)
_SF_PAGES = {"sf0.001": 400, "sf0.01": 2_000, "sf0.1": 20_000}


def _sf_name() -> str:
    return os.path.basename(SF_DIR.rstrip("/"))


def _n_pages() -> int:
    return _SF_PAGES.get(_sf_name(), 20_000)


def _ensure_pages(spark, n: int) -> str:
    path = os.path.join(CACHE_DIR, f"pages_{n}.parquet")
    if not os.path.exists(path):
        from pyontutils_spark.synth.spark_gen import pages_df
        pages_df(spark, n).write.mode("overwrite").parquet(path)
    return path


def _force(df) -> int:
    """Execute the full plan without sink cost; return row count."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entrymod
    from pyontutils_spark.plans.pipeline import run_triple_factory
    from pyontutils_spark.session import get_spark
    from pyontutils_spark.synth.lexicon import make_lexicon

    spark = get_spark("bench", cores=CPUS, shuffle_partitions=CPUS)

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    # --- KG pipeline end-to-end -----------------------------------------
    n_pages = _n_pages()
    pages_path = _ensure_pages(spark, n_pages)
    lex = make_lexicon()
    pages = spark.read.parquet(pages_path)

    # warmup: spin up python workers / codegen on the real pipeline shape
    warm_res = run_triple_factory(spark, pages, lex)
    warm_res.triples.count()
    warm_res.linked.unpersist()

    t0 = time.perf_counter()
    res = run_triple_factory(spark, pages, lex)
    n_triples = res.triples.count()
    dt = time.perf_counter() - t0
    res.linked.unpersist()
    timings["kg_pipeline"] = round(dt, 3)
    extras["pages_per_sec"] = round(n_pages / dt, 1)
    extras["triples_per_sec"] = round(n_triples / dt, 1)
    extras["n_triples"] = n_triples
    extras["n_pages"] = n_pages

    # --- entity canonicalization end-to-end (duplicate-label sameAs
    # candidates -> hub-safe CC -> rewrite join + owl:sameAs prov; the
    # mapping is broadcast only when its observed size fits the
    # broadcast threshold) -----------------------------------------------
    from pyontutils_spark.plans.pipeline import canonicalize_triples

    trip_path = os.path.join(CACHE_DIR, f"triples_{n_pages}.parquet")
    if not os.path.exists(trip_path):
        res.triples.write.parquet(trip_path)
    trips = spark.read.parquet(trip_path)
    _force(canonicalize_triples(trips.limit(2_000)))  # warm CC shape
    canon_runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        _force(canonicalize_triples(trips))
        canon_runs.append(round(time.perf_counter() - t0, 3))
    timings["canonicalize_triples"] = min(canon_runs)
    extras["canonicalize_runs_sec"] = canon_runs
    extras["canonicalize_triples_per_sec"] = round(
        n_triples / timings["canonicalize_triples"], 1)

    # --- curation funnel end-to-end (url collapse -> exact dedup ->
    # LSH near-dup CC -> Gopher gate -> hash sample) on a 100k-doc
    # synthetic corpus with a realistic dup mix (70% distinct /
    # 10% exact / 10% near / 10% url-variant) -----------------------
    from pyontutils_spark.plans.curate import curate_corpus
    from pyontutils_spark.synth.spark_gen import documents_df

    n_docs_cur = 100_000
    docs_path = os.path.join(CACHE_DIR, f"docs_{n_docs_cur}.parquet")
    if not os.path.exists(os.path.join(docs_path, "_SUCCESS")):
        documents_df(spark, n_docs_cur).write.mode("overwrite") \
            .parquet(docs_path)
    cur_docs = spark.read.parquet(docs_path)
    _force(curate_corpus(cur_docs.limit(5_000), report=False).docs)  # warm
    cur_runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        _force(curate_corpus(cur_docs, sample_num=50,
                             report=False).docs)
        cur_runs.append(round(time.perf_counter() - t0, 3))
    timings["curate_funnel_100k"] = min(cur_runs)
    extras["curate_docs_per_sec"] = round(
        n_docs_cur / timings["curate_funnel_100k"], 1)
    extras["curate_runs_sec"] = cur_runs

    # --- substring-level duplicate spans (Lee-et-al-style) on the same
    # 100k-doc corpus: hash-only first shuffle, broadcast hot-fp verify
    from pyontutils_spark.operators.spandedup import duplicate_spans

    _force(duplicate_spans(cur_docs.limit(5_000), k=20, stride=10))
    sp_runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        _force(duplicate_spans(cur_docs, k=20, stride=10))
        sp_runs.append(round(time.perf_counter() - t0, 3))
    timings["span_dedup_100k"] = min(sp_runs)
    extras["span_dedup_runs_sec"] = sp_runs

    # --- BPE: distributed histogram train + Arrow encode throughput ----
    from pyontutils_spark.operators.tokenize import bpe_encode, train_bpe

    t0 = time.perf_counter()
    trained = train_bpe(cur_docs, n_merges=512, min_count=5)
    timings["bpe_train_100k"] = round(time.perf_counter() - t0, 3)
    _force(bpe_encode(cur_docs.limit(5_000), trained.tokenizer))  # warm
    enc_runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        _force(bpe_encode(cur_docs, trained.tokenizer))
        enc_runs.append(round(time.perf_counter() - t0, 3))
    timings["bpe_encode_100k"] = min(enc_runs)
    extras["bpe_encode_runs_sec"] = enc_runs
    extras["bpe_vocab_size"] = len(trained.tokenizer.vocab)

    # --- warmup: exercise codegen/broadcast/pandas-udf machinery once so
    # per-query timings measure the operator, not JVM warmup ------------
    warm = spark.range(1000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("h"))
    small = spark.range(10).select(F.col("id"))
    _force(warm.join(F.broadcast(small), "id", "left")
           .groupBy((F.col("id") % 10).alias("g")).count())

    # --- headline operator queries ---------------------------------------
    # Interleaved best-of-2: the shared host's throughput drifts ~2x over
    # tens of minutes, so each query runs in TWO passes over the whole
    # list (samples spread across throttling windows); the min is
    # reported, raw runs retained — same discipline as the graph benches.
    qs = entrymod.queries()
    bench_queries = [
        "q1_pricing_summary", "top_orders_by_revenue", "top_events_per_user",
        "events_hourly", "mention_tokens", "triples_emit", "exact_dedup",
        "minhash", "simhash", "token_quality", "lang_id", "jaccard_pairs",
        "embedding_topk", "sameas_components", "transitive_closure",
        "asof_enrich", "sessionize", "token_freq_score", "pack_sequences",
    ]
    q_runs: dict[str, list[float]] = {n: [] for n in bench_queries}
    for _ in range(2):
        for name in bench_queries:
            t0 = time.perf_counter()
            _force(qs[name](spark, SF_DIR))
            q_runs[name].append(round(time.perf_counter() - t0, 3))
    for name in bench_queries:
        timings[name] = min(q_runs[name])
    extras["query_runs_sec"] = q_runs

    # --- distributed nifttl writer at corpus scale (5k documents) --------
    from pyontutils_spark.sources.rdf import nifttl_per_graph
    from pyontutils_spark.synth.graphs import ontology_graphs

    n_docs = 5_000
    og_path = os.path.join(CACHE_DIR, f"ontgraphs_{n_docs}.parquet")
    if not os.path.exists(og_path):
        ontology_graphs(spark, n_docs).write.parquet(og_path)
    og = spark.read.parquet(og_path)
    _force(nifttl_per_graph(og.limit(500), {}))  # warm the kernel path
    nif_runs = []
    for _ in range(2):
        t0 = time.perf_counter()
        _force(nifttl_per_graph(og, {}))
        nif_runs.append(round(time.perf_counter() - t0, 3))
    timings["nifttl_5k_graphs"] = min(nif_runs)
    extras["nifttl_docs_per_sec"] = round(
        n_docs / timings["nifttl_5k_graphs"], 1)
    extras["nifttl_runs_sec"] = nif_runs

    # --- graph operators at benchmark scale (>=10^6 edges; the driver
    # fixtures measure only per-round JVM overhead) ----------------------
    from pyontutils_spark.operators.components import canonical_mapping
    from pyontutils_spark.operators.hierarchy import (
        reachability_closure, transitive_closure)
    from pyontutils_spark.synth.graphs import (
        sameas_chain_edges, star_edges, tree_edges)

    n_graph = int(os.environ.get("SPARK_GRAFT_GRAPH_EDGES", "1000000"))
    sa_path = os.path.join(CACHE_DIR, f"sameas_{n_graph}.parquet")
    if not os.path.exists(sa_path):
        sameas_chain_edges(spark, n_graph).write.parquet(sa_path)
    tr_path = os.path.join(CACHE_DIR, f"tree_{n_graph}.parquet")
    if not os.path.exists(tr_path):
        tree_edges(spark, n_graph).write.parquet(tr_path)
    hub_path = os.path.join(CACHE_DIR, f"hubstar_{n_graph}.parquet")
    if not os.path.exists(hub_path):
        star_edges(spark, n_graph).write.parquet(hub_path)

    sa = spark.read.parquet(sa_path)
    tr = spark.read.parquet(tr_path)
    hub = spark.read.parquet(hub_path)
    # warm the iterated-join + ArrowEvalPython shapes first
    _force(canonical_mapping(sa.limit(1000)))
    _force(transitive_closure(tr.limit(1000), max_depth=30))
    _force(reachability_closure(tr.limit(1000)))

    # INTERLEAVED best-of-3: the long iterated graph jobs are the most
    # exposed to the shared host's sporadic throttling (same job
    # measured 18.7s and 93s within 15 minutes) — alternating cc/tc
    # spreads each job's samples across throttling windows so the min
    # is a real measurement, not whichever job dodged the slow window.
    graph_jobs = {
        "sameas_components_1m": lambda: _force(canonical_mapping(sa)),
        "transitive_closure_1m": lambda: _force(
            transitive_closure(tr, max_depth=30)),
        # hub-degree worst case: one node with 10^6 neighbors — exercises
        # the hub-safe star round (algebraic min + join, no collect_set)
        "hub_star_cc_1m": lambda: _force(canonical_mapping(
            hub.selectExpr("a", "b"))),
        # path-doubling reachability: same (node, ancestor) set as the
        # BFS closure (equality tested) in log2(diameter) rounds; par
        # with transitive_closure_1m on this shallow tree, 3.0x faster
        # at diameter 100 (BASELINE.md round 5)
        "reachability_1m_doubling": lambda: _force(
            reachability_closure(tr)),
    }
    raw_runs: dict[str, list[float]] = {k: [] for k in graph_jobs}
    for _ in range(3):
        for name, fn in graph_jobs.items():
            t0 = time.perf_counter()
            fn()
            raw_runs[name].append(round(time.perf_counter() - t0, 3))
    for name in graph_jobs:
        timings[name] = min(raw_runs[name])
    extras["cc_edges_per_sec"] = round(
        n_graph / timings["sameas_components_1m"], 1)
    extras["tc_edges_per_sec"] = round(
        n_graph / timings["transitive_closure_1m"], 1)
    extras["hub_cc_edges_per_sec"] = round(
        n_graph / timings["hub_star_cc_1m"], 1)
    extras["cc_runs_sec"] = raw_runs["sameas_components_1m"]
    extras["tc_runs_sec"] = raw_runs["transitive_closure_1m"]
    extras["hub_cc_runs_sec"] = raw_runs["hub_star_cc_1m"]
    extras["reach_runs_sec"] = raw_runs["reachability_1m_doubling"]

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "kg_triple_factory+operator_suite_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_name(),
        "cpus": CPUS,
        **extras,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
