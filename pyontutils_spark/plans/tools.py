"""Tool-level entry points mirroring the reference CLIs (SURVEY §3).

- ``ttlfmt``: any-format read -> canonical serialization
  (``ttlser/ttlser/ttlfmt.py``: parse with format fallback, re-serialize
  deterministically).  The defining property is idempotency:
  ``ttlfmt(ttlfmt(f)) == ttlfmt(f)`` byte-for-byte.
- ``qnamefix``: re-serialize with prefixes re-culled against the
  default curie table (``pyontutils/qnamefix.py`` semantics — the
  canonical writer computes the culled prefix block from the triples,
  so a read->write pass IS the fix).
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..kernel.curies import DEFAULT as DEFAULT_PREFIXES
from ..sources.rdf import (_cull, _rows, read_rdf, write_ntriples,
                           write_turtle_string)


def ttlfmt(spark: SparkSession, in_path: str, out_path: str | None = None,
           out_format: str = "nifttl", prefix_map=None,
           cull: bool = False) -> str:
    """Canonicalize an RDF file.  Returns the canonical text for
    turtle output (and writes it when ``out_path`` is given); for
    ``nt`` output writes the (distributed, deterministic) N-Triples
    directory and returns its path.

    ``out_format='nifttl'`` (the default, matching the reference tool)
    emits the reference-byte-compatible ``CustomTurtleSerializer``
    layout — for a single local turtle file the document's own @prefix
    block is preserved, exactly like the reference ttlfmt.
    ``'turtle'`` keeps the engine's flat canonical layout."""
    if out_format == "nifttl":
        import os
        from ..kernel.nifttl import serialize_nifttl
        from ..kernel.ttl import parse_turtle_document
        if os.path.isfile(in_path) and not cull:
            with open(in_path) as f:
                src = f.read()
            rows, prefixes, _base = parse_turtle_document(src, in_path)
        else:
            rows = _rows(read_rdf(spark, in_path))
            prefixes = _cull(prefix_map or DEFAULT_PREFIXES, rows)
        text = serialize_nifttl(rows, prefixes)
        if out_path is not None:
            with open(out_path, "w") as f:
                f.write(text)
        return text
    triples = read_rdf(spark, in_path)
    if out_format in ("nt", "ntriples"):
        if out_path is None:
            raise ValueError("nt output requires out_path")
        write_ntriples(triples, out_path)
        return out_path
    if out_format in ("xml", "rdfxml", "rdf-xml", "pretty-xml"):
        from ..sources.rdf import write_rdfxml_string
        text = write_rdfxml_string(triples, prefix_map or DEFAULT_PREFIXES)
    elif out_format in ("json-ld", "jsonld"):
        from ..sources.rdf import write_jsonld_string
        text = write_jsonld_string(triples)
    elif out_format == "trig":
        from ..sources.rdf import write_trig_string
        text = write_trig_string(triples, prefix_map or DEFAULT_PREFIXES)
    elif out_format == "turtle":
        text = write_turtle_string(triples, prefix_map or DEFAULT_PREFIXES)
    else:
        raise ValueError(
            f"ttlfmt: unknown out_format {out_format!r} (accepted: "
            "nifttl, turtle, nt/ntriples, xml/rdfxml, json-ld, trig)")
    if out_path is not None:
        with open(out_path, "w") as f:
            f.write(text)
    return text


class ontology_section:
    """Per-section file rewrite (``ontologySection``,
    ``pyontutils/ontutils.py:93-113``): split a nifttl file at the
    first ``###`` (everything before it is the Ontology section), parse
    ONLY that section, let the caller edit the triple rows, and on exit
    write the re-serialized section back with the rest of the file
    byte-untouched.

    Usage::

        with ontology_section(path) as sec:
            sec.rows.append((iri, pred, obj, False, None, None))

    ``sec.rows`` are engine triple rows; ``sec.prefixes`` the document
    prefix block (rewritten culled to the section's needs, like the
    reference's nifttl re-serialization of the section graph)."""

    def __init__(self, filename: str):
        from ..kernel.ttl import parse_turtle_document
        self.filename = filename
        with open(filename) as f:
            raw = f.read()
        if "###" not in raw:
            raise ValueError(
                f"{filename}: no '###' section separator found — "
                "ontology_section rewrites only nifttl files with a "
                "'### Annotations'-style section comment after the "
                "Ontology section (ontutils.py ontologySection shape)")
        ontraw, self.rest = raw.split("###", 1)
        self.rows, self.prefixes, _base = parse_turtle_document(
            ontraw, filename)

    def write(self) -> None:
        from ..kernel.nifttl import serialize_nifttl
        out = serialize_nifttl(self.rows, self.prefixes)
        ontraw, _comment = out.split("###", 1)
        with open(self.filename, "w") as f:
            f.write(ontraw)
            f.write("###")
            f.write(self.rest)

    def __enter__(self):
        return self

    def __exit__(self, exc_type, exc_value, traceback):
        if exc_type is None:
            self.write()


def qnamefix(spark: SparkSession, in_path: str,
             out_path: str | None = None, prefix_map=None) -> str:
    """Cull/normalize the prefix block of a Turtle file: prefixes in
    the output are exactly those used by the triples (culled against
    the curie table), nifttl layout — qnamefix.py semantics."""
    return ttlfmt(spark, in_path, out_path, "nifttl", prefix_map,
                  cull=True)
