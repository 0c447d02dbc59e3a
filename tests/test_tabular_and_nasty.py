"""Tabular source (byCol header normalization), catalog XML sink,
class-records JSON export, and the 'ordering_nasty' determinism fixture
(FIXTURES.md §8): mixed-type literals + natsort traps + skolemized
structural nodes -> identical canonical output + checksum across >= 5
shuffled runs (ttlser/test/test_ttlser.py:56-74, 129-173 pattern)."""

import json
import os

import pytest

from pyontutils_spark.kernel.norm import XSD
from pyontutils_spark.operators import vocab
from pyontutils_spark.operators.ordering import (
    canonically_ordered, order_invariant_checksum)
from pyontutils_spark.sources.tabular import (
    class_records_json, make_catalog_xml, read_table)


def test_read_table_header_normalization(spark, tmp_path):
    p = tmp_path / "t.csv"
    # 'My Column (mm)' and 'my column MM?' collide after normalization
    p.write_text("My Column (mm),2nd col,class,my column MM?\n"
                 "a,b,c,d\n")
    df = read_table(spark, str(p))
    assert df.columns == ["my_column_mm", "n_2nd_col", "class_",
                          "my_column_mm_1"]
    assert df.collect()[0].my_column_mm == "a"


def test_make_catalog_xml(spark):
    t = spark.createDataFrame(
        [("http://e/b", vocab.OWL_SAMEAS, "http://e/a", False, None, None),
         ("http://e/c", vocab.RDFS_LABEL, "x", True, None, None)],
        vocab.TRIPLE_SCHEMA)
    xml = make_catalog_xml(t)
    assert '<uri id="local" name="http://e/b" uri="http://e/a"/>' in xml
    assert "http://e/c" not in xml


def test_class_records_json(spark, tmp_path):
    t = spark.createDataFrame(
        [("http://e/a", vocab.RDF_TYPE, vocab.OWL_CLASS, False, None, None),
         ("http://e/a", vocab.RDFS_LABEL, "thing", True, None, None)],
        vocab.TRIPLE_SCHEMA)
    out = str(tmp_path / "j")
    class_records_json(t, out)
    recs = []
    for f in os.listdir(out):
        if f.endswith(".json"):
            with open(os.path.join(out, f)) as fh:
                recs += [json.loads(line) for line in fh]
    assert recs == [{"iri": "http://e/a", "labels": ["thing"],
                     "synonyms": [], "parents": []}]


NASTY = [
    # natsort traps: a9 < a10; case ties
    ("http://e/n", "http://p/p", "a10", True, None, None),
    ("http://e/n", "http://p/p", "a9", True, None, None),
    ("http://e/n", "http://p/p", "A9", True, None, None),
    # mixed literal types: bool < int < float < datetime < string
    ("http://e/n", "http://p/q", "true", True, XSD + "boolean", None),
    ("http://e/n", "http://p/q", "10", True, XSD + "integer", None),
    ("http://e/n", "http://p/q", "2", True, XSD + "integer", None),
    ("http://e/n", "http://p/q", "2.5", True, XSD + "double", None),
    ("http://e/n", "http://p/q", "2020-01-01T00:00:00", True,
     XSD + "dateTime", None),
    ("http://e/n", "http://p/q", "word", True, None, None),
    ("http://e/n", "http://p/q", "chat", True, None, "en"),
    ("http://e/n", "http://p/q", "chat", True, None, "fr"),
    # multiple subjects with numeric tails
    ("http://e/x2", "http://p/p", "v", True, None, None),
    ("http://e/x10", "http://p/p", "v", True, None, None),
]


def test_nasty_ordering_deterministic(spark):
    df = spark.createDataFrame(NASTY, vocab.TRIPLE_SCHEMA)
    outs, sums = [], []
    for parts in (1, 2, 3, 5, 8):
        shuffled = df.repartition(parts)
        with canonically_ordered(shuffled) as ordered:
            outs.append([tuple(r) for r in ordered.collect()])
        sums.append(order_invariant_checksum(shuffled).collect()[0].checksum)
    assert all(o == outs[0] for o in outs[1:])
    assert all(s == sums[0] for s in sums[1:])
    # litsort bucket order within pred q: bool < ints(2<10) < 2.5? no —
    # numeric bucket sorts by value: 2 < 2.5 < 10; then datetime, then
    # strings (natsorted; lang tiebreak en < fr)
    q_objs = [r[2] for r in outs[0] if r[1] == "http://p/q"]
    assert q_objs == ["true", "2", "2.5", "10", "2020-01-01T00:00:00",
                      "chat", "chat", "word"]
    # natsort: a9/A9 tie groups before a10; x2 before x10
    p_objs = [r[2] for r in outs[0] if r[1] == "http://p/p"
              and r[0] == "http://e/n"]
    assert p_objs[-1] == "a10" and set(p_objs[:2]) == {"a9", "A9"}
    subs = [r[0] for r in outs[0]]
    assert subs.index("http://e/x2") < subs.index("http://e/x10")


def test_read_sql_table_env_gated(spark):
    """JDBC wrapper: without a driver jar the load fails with the JVM's
    driver error (env-gated — no JDBC driver ships in this sandbox);
    the dedup post-pass is group_to_first, oracle-verified elsewhere."""
    import pytest
    from pyontutils_spark.sources.tabular import read_sql_table
    with pytest.raises(Exception) as ei:
        read_sql_table(spark, "jdbc:sqlite:/tmp/nope.db", "t",
                       dedup_key="id").collect()
    assert "driver" in str(ei.value).lower() or \
        "jdbc" in str(ei.value).lower()
