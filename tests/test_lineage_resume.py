"""Resume oracle (FIXTURES.md §9): after a simulated mid-run kill, a
re-run must produce exactly the same final triple set as an
uninterrupted run, with one lineage row per bucket and no duplicates."""

import os

import pytest

from pyontutils_spark.plans.lineage import (
    done_buckets, read_lineage, read_triples, run_with_lineage)
from pyontutils_spark.plans.pipeline import run_triple_factory
from pyontutils_spark.synth.lexicon import make_lexicon
from pyontutils_spark.synth.pages import make_pages
from pyontutils_spark.synth.spark_gen import pages_df_local

N = 120
N_BUCKETS = 6

LEX = make_lexicon()
PAGES = make_pages(N, LEX)


def _triple_set(df):
    return {(r.subj, r.pred, r.obj, r.obj_is_literal)
            for r in df.select("subj", "pred", "obj", "obj_is_literal")
            .collect()}


@pytest.fixture()
def out_dir(tmp_path):
    return str(tmp_path / "kg_out")


def test_kill_and_resume_exact(spark, out_dir):
    df = pages_df_local(spark, PAGES)

    # uninterrupted reference run (plain pipeline)
    want = _triple_set(run_triple_factory(spark, df, LEX).triples)

    # simulated kill: process only 1 group (2 buckets), then "die"
    s1 = run_with_lineage(spark, df, LEX, out_dir,
                          n_buckets=N_BUCKETS, group_size=2, max_groups=1)
    assert len(done_buckets(out_dir)) == 2

    # resume: processes the remaining buckets only
    s2 = run_with_lineage(spark, df, LEX, out_dir,
                          n_buckets=N_BUCKETS, group_size=2)
    assert sorted(done_buckets(out_dir)) == list(range(N_BUCKETS))
    # the resumed run did not re-process the done buckets
    done_first = {b for g in s1["groups_processed"] for b in g}
    done_second = {b for g in s2["groups_processed"] for b in g}
    assert done_first.isdisjoint(done_second)

    got = _triple_set(read_triples(spark, out_dir))
    assert got == want


def test_lineage_rows_complete_and_unique(spark, out_dir):
    df = pages_df_local(spark, PAGES)
    run_with_lineage(spark, df, LEX, out_dir,
                     n_buckets=N_BUCKETS, group_size=3)
    rows = read_lineage(out_dir)
    assert len(rows) == N_BUCKETS
    assert sorted(r["bucket"] for r in rows) == list(range(N_BUCKETS))
    assert sum(r["pages_in"] for r in rows) == N
    for r in rows:
        assert r["status"] == "done"
        assert r["checksum_sum"] >= 0 or r["triples_out"] == 0


def test_run_leaves_session_conf_unchanged(spark, out_dir):
    """The dynamic partition overwrite is a per-write option: the
    session's partitionOverwriteMode is the same after a run."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")  # the default, whatever ran before
    run_with_lineage(spark, pages_df_local(spark, PAGES), LEX, out_dir,
                     n_buckets=N_BUCKETS)
    assert spark.conf.get(key) == "static"


def test_rerun_after_completion_is_noop(spark, out_dir):
    df = pages_df_local(spark, PAGES)
    run_with_lineage(spark, df, LEX, out_dir, n_buckets=N_BUCKETS)
    before = _triple_set(read_triples(spark, out_dir))
    s = run_with_lineage(spark, df, LEX, out_dir, n_buckets=N_BUCKETS)
    assert s["groups_processed"] == []
    assert _triple_set(read_triples(spark, out_dir)) == before


def test_prov_triples_present_and_resume_stable(spark, tmp_path):
    """PROV provenance triples (core.py:1373-1377 mapping) exist per
    done bucket and are identical between a kill+resume run and what
    the completed lineage records."""
    from pyontutils_spark.plans.lineage import (
        PROV_WAS_DERIVED_FROM, PROV_WAS_GENERATED_BY, prov_triples,
        run_with_lineage)
    from pyontutils_spark.synth.lexicon import make_lexicon
    from pyontutils_spark.synth.spark_gen import pages_df

    lex = make_lexicon()
    pages = pages_df(spark, 60)
    out = str(tmp_path / "prov_run")
    # killed run: only 1 group processed
    run_with_lineage(spark, pages, lex, out, n_buckets=4, group_size=2,
                     max_groups=1, run_id="run-A")
    partial = {tuple(r) for r in prov_triples(spark, out).collect()}
    assert len(partial) > 0
    # resume with a different run id completes the rest
    run_with_lineage(spark, pages, lex, out, n_buckets=4, group_size=2,
                     run_id="run-B")
    full = {(r.subj, r.pred, r.obj)
            for r in prov_triples(spark, out).collect()}
    # earlier buckets keep run-A provenance (resume did not rewrite)
    assert {t for t in partial if (t[0], t[1], t[2]) not in full} == set()
    gen = {o for s, p, o in full if p == PROV_WAS_GENERATED_BY}
    assert gen == {"http://uri.interlex.org/temp/uris/run/run-A",
                   "http://uri.interlex.org/temp/uris/run/run-B"}
    der = [t for t in full if t[1] == PROV_WAS_DERIVED_FROM]
    assert len(der) == 4  # one per bucket
