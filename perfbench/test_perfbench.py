"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

Run from the repository root.  The Spark test starts a small local
session and takes about two minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

import procstat
import run
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


def test_benchmark_json_lists_every_metric_the_runner_prints():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} \
        == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} \
        == run.per_layer_units()
    assert {w["name"] for w in bench["workloads"]} \
        == set(workloads.WORKLOADS)


def test_every_input_has_a_recorded_signature():
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    for name in workloads.WORKLOADS:
        assert set(expected[name]) == {
            str(s) for s in range(workloads.SEED_CYCLE)}, name


def test_cpu_of_a_reaped_child_is_counted():
    before = procstat.cpu_seconds(os.getpid())
    burn = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.3: pass")
    subprocess.run([sys.executable, "-c", burn], check=True)
    assert procstat.cpu_seconds(os.getpid()) - before >= 0.25


def test_tree_closure_size_matches_brute_force():
    n, fanout = 40, 2
    parent = {i: (i - 1) // fanout for i in range(1, n + 1)}
    pairs = 0
    for node in parent:
        while node in parent:
            node = parent[node]
            pairs += 1
    assert workloads.tree_closure_size(n, fanout) == pairs


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    """A local session configured as tests/conftest.py configures the
    repository's, and left running: those tests may share this process,
    and ``run.Session`` (which redirects the environment and ends the
    JVM) is for a benchmark process only."""
    from pyontutils_spark.session import get_spark
    spark = get_spark("pyontutils_spark_tests", cores=4,
                      shuffle_partitions=4, driver_memory="4g")
    return SimpleNamespace(spark=spark,
                           work=str(tmp_path_factory.mktemp("perfbench")))


def test_python_worker_cpu_is_seen_where_udfs_run(session, monkeypatch):
    """``py_cpu_s`` is non-zero for the layers that run pandas/Arrow
    UDFs (the fused extract+match pass and the nifttl serializer)."""
    monkeypatch.setattr(workloads.Factory, "N_PAGES", 300)
    monkeypatch.setattr(workloads.Serialize, "SMALL_GRAPHS", 300)
    monkeypatch.setattr(workloads.Serialize, "BIG_CLASSES", 300)
    monkeypatch.setattr(workloads, "TREE_EDGES", 30)
    monkeypatch.setattr(workloads, "CHAIN_EDGES", 50)
    monkeypatch.setattr(workloads, "STAR_LEAVES", 50)
    spark, work = session.spark, session.work
    tr = run.Tracer(spark)
    for cls in (workloads.Factory, workloads.Serialize):
        wl = cls(spark, os.path.join(work, cls.name), 5)
        wl.generate()
        assert wl.layers(tr, os.path.join(wl.work, "layers")) == []
    assert set(tr.values) == set(run.LAYER_EXTRAS) | {"sink"}
    for layer in ("mentions_fused", "extract", "nifttl"):
        assert tr.values[layer]["py_cpu_s"] > 0, layer
        assert tr.values[layer]["rows_out"] > 0, layer
    assert tr.values["mentions_jvm"]["rows_out"] > 0
    assert 0 < tr.values["linking"]["hit_ratio"] <= 1
    assert tr.values["sink"]["bytes_out"] > 0


def test_each_workload_passes_its_own_check(session, monkeypatch):
    monkeypatch.setattr(workloads.Factory, "N_PAGES", 200)
    monkeypatch.setattr(workloads.Serialize, "SMALL_GRAPHS", 50)
    monkeypatch.setattr(workloads.Serialize, "BIG_CLASSES", 100)
    for cls in workloads.WORKLOADS.values():
        wl = cls(session.spark, os.path.join(session.work, "c" + cls.name),
                 7)
        wl.generate()
        sig = wl.rep(keep=True)
        assert wl.verify(sig) == [], cls.name
        assert wl.rep() == sig, cls.name
