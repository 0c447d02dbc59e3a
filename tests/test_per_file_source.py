"""The shared per-file source stage (``sources._per_file``): file
identity reaches the parser, and a file that parses to nothing yields
an empty DataFrame with the reader's declared schema."""

import datetime as dt

from pyspark.sql.types import StructType

from pyontutils_spark.kernel.warc import write_warc_bytes
from pyontutils_spark.operators import vocab

DOC = """@prefix ex: <http://example.org/> .
_:b0 ex:p "v" .
"""


def test_blank_nodes_are_per_file(spark, tmp_path):
    from pyontutils_spark.sources.rdf import read_turtle, read_turtle_with_src
    for name in ("a.ttl", "b.ttl"):
        (tmp_path / name).write_text(DOC)
    rows = read_turtle(spark, str(tmp_path)).collect()
    assert len(rows) == 2
    assert len({r.subj for r in rows}) == 2  # same `_:b0`, two files
    with_src = read_turtle_with_src(spark, str(tmp_path)).collect()
    assert {r.src_file for r in with_src} == {
        str(tmp_path / "a.ttl"), str(tmp_path / "b.ttl")}
    assert {r.subj for r in with_src} == {r.subj for r in rows}


def test_zero_row_text_file_keeps_schema(spark, tmp_path):
    from pyontutils_spark.sources.rdf import read_turtle
    p = tmp_path / "prefixes.ttl"
    p.write_text("@prefix ex: <http://example.org/> .\n")
    df = read_turtle(spark, str(p))
    assert df.schema == StructType.fromDDL(vocab.TRIPLE_SCHEMA)
    assert df.collect() == []


def test_zero_row_binary_file_keeps_schema(spark, tmp_path):
    from pyontutils_spark.sources.warc import read_warc
    from pyontutils_spark.synth.spark_gen import PAGES_SCHEMA
    p = tmp_path / "gone.warc"
    p.write_bytes(write_warc_bytes([
        {"url": "http://a.example/gone", "ts": dt.datetime(2024, 3, 1),
         "status": 404, "html": b"<html>not found</html>"}]))
    df = read_warc(spark, str(p))
    assert df.schema == StructType.fromDDL(PAGES_SCHEMA)
    assert df.collect() == []
