"""Deterministic nifttl serializer — byte-compatible with the reference
ttlser ``CustomTurtleSerializer`` output.

Semantics reimplemented from the reference's observable behavior
(``ttlser/ttlser/serializers.py:148-778``) and its golden files
(``ttlser/test/good.ttl``, ``ttlser/test/list-good.ttl``): parse
``nasty.ttl`` with this engine's turtle parser, serialize with this
module, and the bytes (minus the trailing version comment, the same
comparison the reference test does at ``ttlser/test/test_ttlser.py:126``)
equal the golden file.

Core algorithm pieces (all pure Python, driver-side per graph — ontology
files are driver-scale; bulk triple output uses the distributed
N-Triples/catalog paths):

- ``natsort_tuple`` digit-run natural sort (``serializers.py:25-26``).
- rdflib-equivalent literal *normalization* at graph build (the golden
  file shows ``1e0`` -> ``1e+00``, ``-00`` zone -> ``+00:00`` isoformat,
  ``Decimal`` lexical preserved) and *litsort* typed literal ordering
  (bool < numeric < datetime < everything, ``serializers.py:28-52``).
- qname computation with rdflib's ``split_uri`` walk-back + bound-
  namespace trie (longest bound namespace wins, empty local names OK).
- global object rank: double-sorted literals then double-sorted
  URIRefs (``serializers.py:446-458``).
- predicate rank: curated ``predicateOrder`` first, natsorted remainder
  (``serializers.py:433-444``).
- list rankers + fixed-point bnode ranking over per-predicate rank
  vectors (``serializers.py:90-143,312-431``).
- section-major subject ordering (``serializers.py:492-544``) and the
  recursive writer with the reference's exact whitespace behavior —
  including the always-1 ``depthmod`` quirk in ``objectList``
  (``(count == 1) and 0 or 1`` evaluates to 1) that shapes the golden
  indentation.

Terms are tuples: ``('u', iri)``, ``('b', id)``,
``('l', lexical, datatype|None, lang|None)``.
"""

from __future__ import annotations

from decimal import Decimal, InvalidOperation
from datetime import datetime, timedelta, timezone
from unicodedata import category
import re

from .norm import natsort_tuple

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
OWL_NS = "http://www.w3.org/2002/07/owl#"
XSD_NS = "http://www.w3.org/2001/XMLSchema#"
SKOS_NS = "http://www.w3.org/2004/02/skos/core#"
DC_NS = "http://purl.org/dc/elements/1.1/"
XML_NS = "http://www.w3.org/XML/1998/namespace"
_NIFRID = "http://uri.neuinfo.org/nif/nifstd/readable/"
_OBOANN = "http://ontology.neuinfo.org/NIF/Backend/OBO_annotation_properties.owl#"
_OIO = "http://www.geneontology.org/formats/oboInOwl#"

RDF_TYPE = RDF_NS + "type"
RDF_FIRST = RDF_NS + "first"
RDF_REST = RDF_NS + "rest"
RDF_NIL = RDF_NS + "nil"
RDF_LIST = RDF_NS + "List"

#: prefixes rdflib always has bound (its NamespaceManager defaults);
#: they appear in the golden prefix blocks even when unused.
CORE_PREFIXES = {
    "xml": XML_NS,
    "rdf": RDF_NS,
    "rdfs": RDFS_NS,
    "xsd": XSD_NS,
}

#: serializers.py:162-172
TOP_CLASSES = [
    OWL_NS + "Ontology",
    RDF_NS + "Property",
    RDFS_NS + "Class",
    OWL_NS + "ObjectProperty",
    RDFS_NS + "Datatype",
    OWL_NS + "AnnotationProperty",
    OWL_NS + "DatatypeProperty",
    OWL_NS + "Class",
    OWL_NS + "NamedIndividual",
    OWL_NS + "AllDifferent",
]

#: serializers.py:174-185 (header text per topClass + trailing group)
SECTIONS = (
    "",
    "rdf Properties",
    "rdfs Classes",
    "Object Properties",
    "Datatypes",
    "Annotation Properties",
    "Data Properties",
    "Classes",
    "Individuals",
    "Axioms",
    "Annotations",
)

#: serializers.py:187-233
PREDICATE_ORDER = [
    RDF_TYPE,
    OWL_NS + "onProperty",
    OWL_NS + "allValuesFrom",
    OWL_NS + "someValuesFrom",
    OWL_NS + "versionIRI",
    OWL_NS + "imports",
    OWL_NS + "deprecated",
    OWL_NS + "annotatedSource",
    OWL_NS + "annotatedProperty",
    OWL_NS + "annotatedTarget",
    "http://purl.obolibrary.org/obo/IAO_0100001",
    _OIO + "hasDbXref",
    OWL_NS + "equivalentClass",
    RDFS_NS + "label",
    SKOS_NS + "prefLabel",
    SKOS_NS + "altLabel",
    _NIFRID + "synonym",
    _OBOANN + "synonym",
    _NIFRID + "abbrev",
    _OBOANN + "abbrev",
    DC_NS + "title",
    "http://purl.obolibrary.org/obo/IAO_0000115",
    SKOS_NS + "definition",
    SKOS_NS + "related",
    DC_NS + "description",
    RDFS_NS + "subClassOf",
    RDFS_NS + "subPropertyOf",
    RDFS_NS + "domain",
    RDFS_NS + "range",
    OWL_NS + "propertyChainAxiom",
    OWL_NS + "intersectionOf",
    OWL_NS + "unionOf",
    OWL_NS + "disjointWith",
    OWL_NS + "disjointUnionOf",
    OWL_NS + "distinctMembers",
    OWL_NS + "inverseOf",
    RDFS_NS + "comment",
    SKOS_NS + "note",
    SKOS_NS + "editorialNote",
    SKOS_NS + "changeNote",
    OWL_NS + "versionInfo",
    _NIFRID + "createdDate",
    _OBOANN + "createdDate",
    _NIFRID + "modifiedDate",
    _OBOANN + "modifiedDate",
    RDFS_NS + "isDefinedBy",
]

NO_REORDER_PREDICATES = (OWL_NS + "propertyChainAxiom",)
SYMMETRIC_PREDICATES = (OWL_NS + "disjointWith",)

VERSION_COMMENT = ("### Serialized using the pyontutils_spark "
                   "deterministic serializer v1.2.0")

# ---------------------------------------------------------------------------
# literal normalization + ordering
# ---------------------------------------------------------------------------

_INT_TYPES = {XSD_NS + s for s in (
    "integer", "int", "long", "short", "byte", "nonNegativeInteger",
    "positiveInteger", "negativeInteger", "nonPositiveInteger",
    "unsignedInt", "unsignedLong", "unsignedShort", "unsignedByte")}
_DT_RE = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})T(\d{2}):(\d{2}):(\d{2})(\.\d+)?"
    r"(Z|[+-]\d{2}(?::?\d{2})?)?$")


def _float_lexical(v: float) -> str:
    """rdflib's xsd:double canonical form (seen in golden: 1e0 ->
    '1e+00', 1e10 -> '1e+10'): mantissa-stripped '{:e}'."""
    m, e = "{:e}".format(v).split("e")
    return m.rstrip("0").rstrip(".") + "e" + e


def _parse_datetime(lex: str):
    m = _DT_RE.match(lex)
    if not m:
        return None
    y, mo, d, h, mi, s = (int(m.group(i)) for i in range(1, 7))
    frac = m.group(7)
    us = int(round(float(frac) * 1e6)) if frac else 0
    zone = m.group(8)
    tz = None
    if zone == "Z":
        tz = timezone.utc
    elif zone:
        sign = -1 if zone[0] == "-" else 1
        hh = int(zone[1:3])
        mm = int(zone[-2:]) if len(zone) > 3 else 0
        tz = timezone(sign * timedelta(hours=hh, minutes=mm))
    try:
        return datetime(y, mo, d, h, mi, s, us, tz)
    except ValueError:
        return None


def literal_value(lex: str, dt):
    """Typed python value, or None for 'other' literals (strings,
    lang-tagged, XMLLiteral, ill-formed)."""
    try:
        if dt == XSD_NS + "boolean":
            if lex in ("true", "1"):
                return True
            if lex in ("false", "0"):
                return False
            return None
        if dt in _INT_TYPES:
            return int(lex)
        if dt == XSD_NS + "decimal":
            return Decimal(lex)
        if dt in (XSD_NS + "double", XSD_NS + "float"):
            return float(lex)
        if dt == XSD_NS + "dateTime":
            return _parse_datetime(lex)
    except (ValueError, InvalidOperation):
        return None
    return None


def normalize_literal(lex: str, dt, lang):
    """rdflib NORMALIZE_LITERALS behavior: recompute the lexical form
    from the parsed value for the plain-able datatypes (golden shows
    1e0 -> 1e+00 and '-00' zone -> '+00:00')."""
    v = literal_value(lex, dt)
    if v is None:
        return lex, dt, lang
    if isinstance(v, bool):
        return ("true" if v else "false"), dt, lang
    if isinstance(v, int):
        return str(v), dt, lang
    if isinstance(v, Decimal):
        return str(v), dt, lang
    if isinstance(v, float):
        return _float_lexical(v), dt, lang
    if isinstance(v, datetime):
        return v.isoformat(), dt, lang
    return lex, dt, lang


def litsort_key(term, sortkey=natsort_tuple):
    """serializers.py:28-52 make_litsort: (0 bool) < (1 numeric) <
    (2 datetime, naive first) < (3 sortkey/datatype/lang)."""
    _, lex, dt, lang = term
    v = literal_value(lex, dt)
    if isinstance(v, bool):
        return (0, v)
    if isinstance(v, (int, Decimal)) and not isinstance(v, bool):
        return (1, v, lex)
    if isinstance(v, float):
        return (1, v, _float_lexical(v))
    if isinstance(v, datetime):
        return (2, v.tzinfo is not None,
                v if v.tzinfo is not None else v.replace(tzinfo=None))
    return (3, sortkey(lex), dt or "", lang or "")


# ---------------------------------------------------------------------------
# qname computation (rdflib split_uri + bound-namespace trie semantics)
# ---------------------------------------------------------------------------

_NAME_START_CATEGORIES = frozenset(["Ll", "Lu", "Lo", "Lt", "Nl"])
_SPLIT_START_CATEGORIES = _NAME_START_CATEGORIES | {"Nd"}
_NAME_CATEGORIES = _NAME_START_CATEGORIES | {"Mc", "Me", "Mn", "Lm", "Nd"}
_ALLOWED_NAME_CHARS = frozenset(["\u00B7", "\u0387", "-", ".", "_", "%"])


def split_uri(uri: str):
    """Longest valid-local-name split (rdflib namespace.split_uri walk:
    back over name chars, then forward to the first name-start char or
    '_').  Raises ValueError when unsplittable (e.g. trailing '/')."""
    if uri.startswith(XML_NS):
        return XML_NS, uri[len(XML_NS):]
    length = len(uri)
    for i in range(length):
        c = uri[-i - 1]
        if category(c) not in _NAME_CATEGORIES:
            if c in _ALLOWED_NAME_CHARS:
                continue
            for j in range(-1 - i, length):
                if category(uri[j]) in _SPLIT_START_CATEGORIES \
                        or uri[j] == "_":
                    ns = uri[:j] if j >= 0 else uri[:length + j]
                    if not ns:
                        break
                    return ns, uri[j:] if j >= 0 else uri[length + j:]
            break
    raise ValueError(f"Can't split {uri!r}")


class QNamer:
    """prefix->namespace bindings + rdflib-equivalent qname logic."""

    def __init__(self, namespaces: dict[str, str]):
        self.namespaces = dict(namespaces)
        # last-bound prefix wins per namespace (rdflib store.prefix);
        # our dicts are insertion-ordered so iterate and overwrite
        self.ns_to_prefix: dict[str, str] = {}
        for p, n in self.namespaces.items():
            self.ns_to_prefix[n] = p
        self._bound = sorted(self.ns_to_prefix, key=len, reverse=True)
        self._cache: dict[str, tuple | None] = {}

    def compute(self, uri: str):
        """(prefix, namespace, local) or None (unbound/unsplittable)."""
        if uri in self._cache:
            return self._cache[uri]
        out = self._compute(uri)
        self._cache[uri] = out
        return out

    def _compute(self, uri: str):
        try:
            namespace, name = split_uri(uri)
        except ValueError:
            # uri may itself be a bound namespace (empty local name)
            pfx = self.ns_to_prefix.get(uri)
            return (pfx, uri, "") if pfx is not None else None
        # trie: a longer bound namespace extending the split namespace
        # wins (rdflib get_longest_namespace) — 'base/blx_123' shortens
        # via 'base/blx_' even though split said 'base/'
        for ns in self._bound:
            if len(ns) >= len(namespace) and uri.startswith(ns) \
                    and ns.startswith(namespace):
                # a bound namespace equal to the full uri yields an
                # empty local name ('requestedBy:' in good.ttl)
                return self.ns_to_prefix[ns], ns, uri[len(ns):]
        pfx = self.ns_to_prefix.get(namespace)
        if pfx is None:
            return None
        return pfx, namespace, name

    def sort_qname(self, uri: str) -> str:
        """store.qname monkeypatch semantics (serializers.py:54-63):
        qname string, or the full uri when unbound."""
        parts = self.compute(uri)
        if parts is None:
            return uri
        prefix, _, name = parts
        return name if prefix == "" else f"{prefix}:{name}"

    def out_qname(self, uri: str):
        """TurtleSerializer.getQName output form: escaped parens,
        trailing-dot locals rejected, None -> <uri> rendering."""
        parts = self.compute(uri)
        if parts is None:
            return None
        prefix, _, local = parts
        local = local.replace("(", "\\(").replace(")", "\\)")
        if local.endswith("."):
            return None
        return f"{prefix}:{local}"


# ---------------------------------------------------------------------------
# graph model over engine triple rows
# ---------------------------------------------------------------------------

def _quote_encode(lex: str) -> str:
    """rdflib Literal._quote_encode."""
    if "\n" in lex:
        encoded = lex.replace("\\", "\\\\")
        if '"""' in encoded:
            encoded = encoded.replace('"""', '\\"\\"\\"')
        if encoded.endswith('"') and not encoded.endswith('\\"'):
            encoded = encoded[:-1] + '\\"'
        return '"""%s"""' % encoded.replace("\r", "\\r")
    return '"%s"' % (lex.replace("\\", "\\\\").replace("\n", "\\n")
                     .replace('"', '\\"').replace("\r", "\\r"))


_PLAIN_TYPES = _INT_TYPES | {XSD_NS + "decimal", XSD_NS + "double",
                             XSD_NS + "float", XSD_NS + "boolean"}


class _Graph:
    """Deduped term-level triple store with the few access paths the
    serializer needs."""

    def __init__(self, triples):
        self.triples: set = set()
        self.spo: dict = {}          # s -> [(p, o)] insertion-ordered
        self.refs: dict = {}         # object -> count
        self.subjects: list = []     # first-appearance order
        for s, p, o in triples:
            self.add(s, p, o)

    def add(self, s, p, o):
        if (s, p, o) in self.triples:
            return
        self.triples.add((s, p, o))
        if s not in self.spo:
            self.spo[s] = []
            self.subjects.append(s)
        self.spo[s].append((p, o))
        self.refs[o] = self.refs.get(o, 0) + 1

    def remove(self, s, p, o):
        if (s, p, o) not in self.triples:
            return
        self.triples.discard((s, p, o))
        self.spo[s].remove((p, o))
        if not self.spo[s]:
            del self.spo[s]
            self.subjects.remove(s)
        self.refs[o] -= 1

    def predicate_objects(self, s):
        return list(self.spo.get(s, ()))

    def value(self, s, p):
        for pp, o in self.spo.get(s, ()):
            if pp == p:
                return o
        return None

    def subjects_of_type(self, cls):
        t = ("u", RDF_TYPE)
        return [s for s in self.subjects
                if (s, t, cls) in self.triples]


def _term_str(t) -> str:
    """Deterministic total tiebreak string for any term."""
    if t[0] == "l":
        return "\x00".join(x or "" for x in t[1:])
    return t[1]


# ---------------------------------------------------------------------------
# the serializer
# ---------------------------------------------------------------------------

class _ListInfo:
    """ListRanker semantics (serializers.py:90-142)."""

    def __init__(self, node, graph, nosort_linkers):
        self.node = node
        self.reorder = self._test_reorder(node, graph, nosort_linkers)
        self.vals = []
        self.nodes = []  # helper chain nodes (excluding the head)
        seen = set()
        l = node
        while l is not None and l != ("u", RDF_NIL) and l not in seen:
            seen.add(l)
            item = graph.value(l, ("u", RDF_FIRST))
            if item is not None:
                self.vals.append(item)
                if l != node:
                    self.nodes.append(l)
            elif l != node:
                self.nodes.append(l)
            l = graph.value(l, ("u", RDF_REST))
        self.vis_vals = [v for v in self.vals if v[0] != "b"]
        self.bvals = [v for v in self.vals if v[0] == "b"]

    @staticmethod
    def _test_reorder(node, graph, nosort_linkers):
        for s, p, o in graph.triples:
            if o == node:
                return p[1] not in nosort_linkers
        return True


def make_symbol_prefixes(n: int):
    """The compact serializer's base-66 symbol-prefix sequence
    (``serializers.py:65-88`` semantics): digits from
    ``A-Za-z0-9_-%`` with a letter-only most-significant digit and
    zero (index multiple of the base) skipped."""
    symbols = ("AABCDEFGHIJKLMNOPQRSTUVWXYZ"
               "abcdefghijklmnopqrstuvwxyz0123456789_-%")
    most_significant = 26 * 2
    base = len(symbols)
    index = -1
    count = 0
    while count < n:
        index += 1
        _, br = divmod(index, base)
        if br == 0:
            continue
        i = index
        out = []
        while i:
            i, r = divmod(i, base)
            out.insert(0, r)
        if out and out[0] >= most_significant:
            continue
        yield "".join(symbols[d] for d in out)
        count += 1


class NifTtlSerializer:
    #: newline mode: True = the nifttl layout; False = the compact
    #: one-statement-per-line layout (CompactTurtleSerializer)
    _newline = True
    #: structural newline / space — every layout newline and
    #: token-separating space goes through these (reference
    #: serializers.py:156-157); the HTML subclass swaps them for
    #: ``<br>\n`` / NBSP exactly like HtmlTurtleSerializer
    #: (serializers.py:784-785)
    _nl = "\n"
    _space = " "
    VERSION_COMMENT = VERSION_COMMENT
    #: curated predicate priority + the natural-sort key — the two
    #: knobs the reference's serializer family overrides
    #: (DeterministicTurtleSerializer sets [] and identity)
    PRED_ORDER = PREDICATE_ORDER
    sortkey = staticmethod(natsort_tuple)

    def __init__(self, rows, namespaces: dict[str, str],
                 is_bnode=None):
        if is_bnode is None:
            from .ids import SKOLEM_NS
            is_bnode = lambda iri: iri.startswith(SKOLEM_NS)  # noqa: E731
        self._is_bnode_iri = is_bnode
        ns = dict(namespaces)
        for p, n in CORE_PREFIXES.items():
            ns.setdefault(p, n)
        ns = self._extend_namespaces(rows, ns)
        self.qnamer = QNamer(ns)
        self.graph = self._build_graph(rows)
        self._flip_symmetric_uri_cases()
        self._rank_all()
        self._flip_symmetric_bnode_cases()
        # writer state
        self._serialized: set = set()
        self._refs = dict(self.graph.refs)
        self.depth = 0
        self.indent_str = self._space * 4
        self._parts: list[str] = []

    def _extend_namespaces(self, rows, ns):
        """Hook: the compact subclass binds symbol prefixes here."""
        return ns

    # -- construction ---------------------------------------------------
    def _term(self, value, is_literal, dt, lang):
        if is_literal:
            lex, dt, lang = normalize_literal(
                value, dt or None, lang or None)
            return ("l", lex, dt, lang)
        if self._is_bnode_iri(value):
            return ("b", value)
        return ("u", value)

    def _build_graph(self, rows):
        triples = []
        for s, p, o, is_lit, dt, lang in sorted(
                rows, key=lambda r: tuple(x or "" for x in r[:3])):
            st = self._term(s, False, None, None)
            pt = ("u", p)
            ot = self._term(o, bool(is_lit), dt, lang)
            triples.append((st, pt, ot))
        return _Graph(triples)

    def _flip_symmetric_uri_cases(self):
        """serializers.py:246-263: canonical orientation for symmetric
        predicates — URIRef pairs keep s < o (IRI string compare),
        bnode/URIRef pairs put the URIRef first; bnode/bnode pairs wait
        for node ranks."""
        g = self.graph
        self._sym_bnode_cases = []
        for p_iri in SYMMETRIC_PREDICATES:
            pt = ("u", p_iri)
            hits = [(s, o) for (s, pp, o) in list(g.triples) if pp == pt]
            for s, o in hits:
                if s[0] == "u" and o[0] == "u":
                    if o[1] < s[1]:
                        g.remove(s, pt, o)
                        g.add(o, pt, s)
                elif s[0] == "u":
                    pass
                elif o[0] == "u":
                    g.remove(s, pt, o)
                    g.add(o, pt, s)
                else:
                    self._sym_bnode_cases.append((s, pt, o))

    def _flip_symmetric_bnode_cases(self):
        for s, pt, o in self._sym_bnode_cases:
            if self._global_sort_key(s) > self._global_sort_key(o):
                self.graph.remove(s, pt, o)
                self.graph.add(o, pt, s)

    # -- ranking ----------------------------------------------------------
    def _rank_all(self):
        g = self.graph
        q = self.qnamer
        # predicate rank (serializers.py:433-444)
        preds = sorted(sorted({p[1] for (_, p, _) in g.triples}),
                       key=lambda u: (q.sort_qname(u),))
        preds.sort(key=lambda u: self.sortkey(q.sort_qname(u)))
        order = [u for u in self.PRED_ORDER if u in set(preds)]
        order += [u for u in preds if u not in set(self.PRED_ORDER)]
        self.pred_rank = {("u", u): i for i, u in enumerate(order)}
        self.npreds = len(order)
        # object rank (serializers.py:446-458): literal objects double-
        # sorted, then all URIRefs anywhere double-sorted by qname
        lits = sorted({o for (_, _, o) in g.triples if o[0] == "l"},
                      key=_term_str)
        lits.sort(key=lambda t: litsort_key(t, self.sortkey))
        uris = sorted({t for tr in g.triples for t in tr if t[0] == "u"},
                      key=lambda t: q.sort_qname(t[1]))
        uris.sort(key=lambda t: self.sortkey(q.sort_qname(t[1])))
        self.object_rank = {t: i for i, t in enumerate(lits + uris)}
        self.max_or = (max(self.object_rank.values()) + 1
                       if self.object_rank else 1)
        # list rankers (serializers.py:460-466): typed rdf:List subjects
        # + true chain heads (subjects of rdf:first never target of rest)
        rest_targets = {o for (_, p, o) in g.triples
                        if p == ("u", RDF_REST)}
        heads = [s for s in g.subjects
                 if g.value(s, ("u", RDF_FIRST)) is not None
                 and s not in rest_targets]
        typed = g.subjects_of_type(("u", RDF_LIST))
        self.list_rankers: dict = {}
        self.nosort: set = set()
        for s in (*typed, *heads):
            li = _ListInfo(s, g, set(NO_REORDER_PREDICATES))
            self.list_rankers[s] = li
            if not li.reorder:
                self.nosort.add(s)
        self.max_lr = len(self.list_rankers)
        self._list_helpers = {n: p for p, lr in self.list_rankers.items()
                              for n in lr.nodes}
        self.node_rank = self._bnode_rank()

    def _list_rank_vec(self, li: _ListInfo):
        out = tuple(self.object_rank[v] for v in li.vis_vals)
        if li.reorder:
            out = tuple(sorted(out))
        if not out:
            return (self.max_or + self.max_lr + 1,)
        return out

    def _bnode_rank(self):
        """Fixed-point structural ranking (serializers.py:312-431):
        per-bnode [visible per-pred rank lists, invisible per-pred rank
        lists, [list-visible vec, list-invisible vec]]; empty slots
        normalize to the max-worst-case sentinel; iterate bnode-object
        ranks until the normalized structures stabilize."""
        g = self.graph
        bnodes = {t for tr in g.triples for t in tr if t[0] == "b"}
        mwc = len(bnodes) + self.max_or + 2
        sym = set(SYMMETRIC_PREDICATES)
        skip_preds = {("u", RDF_FIRST), ("u", RDF_REST)} | {
            ("u", s) for s in sym}
        vis = {n: [None] * self.npreds for n in bnodes}
        inv = {n: [None] * self.npreds for n in bnodes}
        lvis = {n: None for n in bnodes}
        linv = {n: None for n in bnodes}

        # one-time visible pass (serializers.py:374-393)
        for n in bnodes:
            if n in self._list_helpers:
                continue
            li = self.list_rankers.get(n)
            if li is not None and li.vis_vals:
                lvis[n] = list(self._list_rank_vec(li))
            for p, o in g.predicate_objects(n):
                if p in skip_preds:
                    continue
                pr = self.pred_rank[p]
                slot = vis[n][pr]
                if o[0] != "b" and o in self.object_rank:
                    if slot is None:
                        slot = vis[n][pr] = []
                    slot.append(self.object_rank[o])
                else:
                    # bnode object: its presence counts at this slot
                    if slot is None or not slot:
                        vis[n][pr] = [mwc - 1]
                    else:
                        slot.append(mwc - 1)

        def normalize():
            out = {}
            for n in bnodes:
                def smwc(slots):
                    res = []
                    for s in slots:
                        if s is None or not s:
                            res.append([mwc])
                        elif n in self.nosort:
                            res.append(list(s))
                        else:
                            res.append(sorted(s))
                    return res
                ll = []
                for s in (lvis[n], linv[n]):
                    if s is None or not s:
                        ll.append([mwc])
                    elif n in self.nosort:
                        ll.append(list(s))
                    else:
                        ll.append(sorted(s))
                out[n] = [smwc(vis[n]), smwc(inv[n]), ll]
            return out

        def rank(norm):
            out = {}
            old = None
            i = 0
            for n, structure in sorted(
                    norm.items(), key=lambda t: (t[1], _term_str(t[0]))):
                if structure != old:
                    i += 1
                old = structure
                out[n] = i
            return out

        def fixedpoint(ranks):
            for n in bnodes:
                if n in self._list_helpers:
                    continue
                inv[n] = [None] * self.npreds
                li = self.list_rankers.get(n)
                linv[n] = (sorted(ranks[v] for v in li.bvals)
                           if li is not None and li.bvals else [])
                for p, o in g.predicate_objects(n):
                    if o[0] == "b" and o not in self.object_rank:
                        if p in skip_preds:
                            continue
                        pr = self.pred_rank[p]
                        if inv[n][pr] is None:
                            inv[n][pr] = []
                        inv[n][pr].append(ranks[o])

        irank = rank(normalize())
        fixedpoint(irank)
        old_norm = None
        while True:
            norm = normalize()
            if norm == old_norm:
                break
            old_norm = norm
            irank = rank(norm)
            fixedpoint(irank)
        return {n: i + self.max_or for n, i in irank.items()}

    def _global_sort_key(self, term):
        if term[0] == "b":
            return self.node_rank.get(term, -1)
        return self.object_rank[term]

    # -- subject ordering (serializers.py:492-544) ------------------------
    def _order_subjects(self):
        g = self.graph
        seen = set()
        sections = []
        for cls in TOP_CLASSES:
            members = g.subjects_of_type(("u", cls))
            members.sort(key=lambda m: (self._global_sort_key(m),
                                        _term_str(m)))
            subjects = []
            for m in members:
                if m[0] == "b":
                    if cls == RDFS_NS + "Datatype":
                        continue
                    if self._refs.get(m, 0) > 0:
                        continue
                subjects.append(m)
                seen.add(m)
            sections.append(subjects)
        rest = [s for s in g.subjects if s not in seen]
        rest.sort(key=lambda m: (self._global_sort_key(m), _term_str(m)))
        noref = [s for s in rest
                 if s[0] == "b" and self._refs.get(s, 0) == 0]
        sections[-1].extend(noref)
        sections.append([s for s in rest if s[0] != "b"])
        return sections

    # -- rendering ---------------------------------------------------------
    def _write(self, s):
        self._parts.append(s)

    def _indent(self, mod=0):
        return (self.depth + mod) * self.indent_str

    def _label(self, term, position):
        if term == ("u", RDF_NIL):
            return "()"
        if position == "verb" and term == ("u", RDF_TYPE):
            return "a"
        if term[0] == "l":
            return self._literal_n3(term)
        if term[0] == "b":
            # only reachable for multiply-referenced bnodes, which the
            # reference emits as raw labels; ours are deterministic
            return "_:b%d" % self.node_rank.get(term, 0)
        q = self.qnamer.out_qname(term[1])
        return q if q is not None else "<%s>" % term[1]

    def _literal_n3(self, term):
        _, lex, dt, lang = term
        if dt in _PLAIN_TYPES and literal_value(lex, dt) is not None:
            return lex
        enc = _quote_encode(lex)
        if lang:
            return f"{enc}@{lang}"
        if dt:
            q = self.qnamer.out_qname(dt)
            return f"{enc}^^{q}" if q is not None else f"{enc}^^<{dt}>"
        return enc

    def _is_valid_list(self, l):
        """serializers.py:621-638."""
        g = self.graph
        if g.value(l, ("u", RDF_FIRST)) is None:
            return False
        seen = set()
        while l is not None and l != ("u", RDF_NIL):
            if l in seen:
                return False
            seen.add(l)
            po = g.predicate_objects(l)
            if (("u", RDF_TYPE), ("u", RDF_LIST)) in po and len(po) == 3:
                pass
            elif len(po) != 2:
                return False
            l = g.value(l, ("u", RDF_REST))
        return True

    def _do_list(self, l):
        """serializers.py:640-659."""
        g = self.graph
        reorder = _ListInfo._test_reorder(
            l, g, set(NO_REORDER_PREDICATES))
        to_sort = []
        seen = set()
        while l is not None and l not in seen:
            seen.add(l)
            item = g.value(l, ("u", RDF_FIRST))
            if item is not None:
                to_sort.append(item)
            self._serialized.add(l)
            l = g.value(l, ("u", RDF_REST))
        if reorder:
            to_sort.sort(key=lambda t: (self._global_sort_key(t),
                                        _term_str(t)))
        ws = self._nl + self._indent(1) if self._newline else ""
        for item in to_sort:
            self._write(ws)
            self._path(item, "object", newline=self._newline)

    def _p_squared(self, term, position, newline):
        if (term[0] != "b" or term in self._serialized
                or self._refs.get(term, 0) > 1 or position == "subject"):
            return False
        if not newline:
            self._write(self._space)
        if self._is_valid_list(term):
            self._write("(")
            self.depth += 1
            self._do_list(term)
            self.depth -= 1
            self._write(self._space + ")")
        else:
            self._serialized.add(term)
            self.depth += 2
            self._write("[")
            self.depth -= 1
            if self._predicate_list(term, newline=False):
                self._write(self._space)
            self._write("]")
            self.depth -= 1
        return True

    def _path(self, term, position, newline=False):
        if not self._p_squared(term, position, newline):
            if position != "subject" and not newline:
                self._write(self._space)
            self._write(self._label(term, position))

    def _object_list(self, objects):
        """serializers.py:723-733 — note depthmod is ALWAYS 1: the
        reference's `(count == 1) and 0 or 1` evaluates to 1 (the and
        yields falsy 0), and the golden indentation depends on it."""
        if not objects:
            return
        self.depth += 1
        self._path(objects[0], "object")
        sep = "," + self._nl + self._indent(1) if self._newline else ","
        for obj in objects[1:]:
            self._write(sep)
            self._path(obj, "object", newline=self._newline)
        self.depth -= 1

    def _predicate_list(self, subject, newline=False):
        """serializers.py:546-570."""
        props: dict = {}
        for p, o in self.graph.predicate_objects(subject):
            props.setdefault(p, []).append(o)
        if not props:
            return None
        for objs in props.values():
            objs.sort(key=lambda t: (self._global_sort_key(t),
                                     _term_str(t)))
        plist = sorted(props, key=lambda p: self.pred_rank[p])
        self._path(plist[0], "verb", newline)
        self._object_list(props[plist[0]])
        ws = (self._space + ";" + self._nl + self._indent(1)
              if self._newline else ";")
        for p in plist[1:]:
            self._write(ws)
            self._path(p, "verb", newline=self._newline)
            self._object_list(props[p])
        return True

    def _statement(self, subject):
        self._serialized.add(subject)
        lead = self._nl + self._indent() if self._newline else ""
        if subject[0] == "b" and self._refs.get(subject, 0) == 0:
            self._write(lead + "[]")
            self._predicate_list(subject)
            self._write(self._space + ".")
            return True
        self._write(lead)
        self._path(subject, "subject")
        self._predicate_list(subject)
        self._write(self._space + ".")
        return True

    def _prefix_line(self, prefix: str, uri: str) -> str:
        """One prefix-block line; the literal space before the dot is a
        REAL space in every mode (reference startDocument format
        string, serializers.py:488,797)."""
        return f"@prefix {prefix}: <{uri}> ." + self._nl

    def serialize(self) -> str:
        self._parts = []
        self._serialized = set()
        self.depth = 0
        # prefix block: double-sorted (plain, then (sortkey(prefix), ns))
        ns_list = sorted(sorted(self.qnamer.namespaces.items()),
                         key=lambda kv: (self.sortkey(kv[0]), kv[1]))
        for prefix, uri in ns_list:
            self._write(self._prefix_line(prefix, uri))
        sections = self._order_subjects()
        headers = ["###" + self._space + s + self._nl if s else ""
                   for s in SECTIONS]
        for header, subjects in zip(headers, sections):
            if subjects and header:
                self._write(self._nl + header)
            for subject in subjects:
                if subject in self._serialized:
                    continue
                if self._statement(subject):
                    self._write(self._nl)
        self._write(self._nl + self.VERSION_COMMENT + self._nl)
        return "".join(self._parts)


def serialize_nifttl(rows, namespaces: dict[str, str],
                     is_bnode=None) -> str:
    """Engine triple rows + prefix bindings -> deterministic nifttl
    text (ttlser CustomTurtleSerializer-compatible).  ``rows`` are
    ``(subj, pred, obj, is_literal, datatype, lang)``; bnodes are
    skolem IRIs recognized by ``is_bnode`` (default: kernel/ids
    SKOLEM_NS prefix)."""
    return NifTtlSerializer(rows, namespaces, is_bnode).serialize()


class CompactTtlSerializer(NifTtlSerializer):
    """The compact deterministic layout (``CompactTurtleSerializer``,
    ``serializers.py:833-882``): every IRI appearing more than twice
    (and longer than 10 chars) across subjects/predicates/objects/
    literal datatypes gets a base-66 symbol prefix bound to the FULL
    IRI (so it renders as ``A:`` — an empty local name), and every
    statement is a single line with no indentation whitespace."""

    _newline = False
    VERSION_COMMENT = ("### Serialized using the pyontutils_spark "
                       "compact deterministic serializer v1.2.0")

    def _extend_namespaces(self, rows, ns):
        counts: dict[str, int] = {}

        def bump(iri):
            counts[iri] = counts.get(iri, 0) + 1

        for s, p, o, is_lit, dt, _lang in rows:
            if not self._is_bnode_iri(s):
                bump(s)
            bump(p)
            if is_lit:
                if dt:
                    bump(dt)
            elif not self._is_bnode_iri(o):
                bump(o)
        compactable = sorted(sorted(
            v for v, c in counts.items() if c > 2 and len(v) > 10),
            key=self.sortkey)
        bound_ns = set(ns.values())
        taken = set(ns)
        symbols = sorted(sorted(make_symbol_prefixes(len(compactable))),
                         key=self.sortkey)
        for sym, iri in zip(symbols, compactable):
            # bind(q, p, override=False): keep existing bindings
            if sym in taken or iri in bound_ns:
                continue
            ns[sym] = iri
            taken.add(sym)
            bound_ns.add(iri)
        return ns


def serialize_compact(rows, namespaces: dict[str, str],
                      is_bnode=None) -> str:
    """Compact deterministic turtle: symbol prefixes for frequent IRIs,
    one statement per line.  Round-trips through parse_turtle to the
    same triple set (tested) and is deterministic under shuffled
    input."""
    return CompactTtlSerializer(rows, namespaces, is_bnode).serialize()


class UncompactTtlSerializer(NifTtlSerializer):
    """One-statement-per-line layout WITHOUT symbol prefixes
    (``UncompactTurtleSerializer``, ``serializers.py:885-890``)."""
    _newline = False
    VERSION_COMMENT = ("### Serialized using the pyontutils_spark "
                       "uncompact deterministic serializer v1.2.0")


class DeterministicTtlSerializer(UncompactTtlSerializer):
    """The graph-hashing layout (``DeterministicTurtleSerializer``,
    ``serializers.py:893-897``): no curated predicate order (pure
    qname sort) and an identity sortkey — used for ranking triples
    when computing hashes of graphs."""
    VERSION_COMMENT = ("### Serialized using the pyontutils_spark "
                       "hashing deterministic serializer v1.2.0")
    PRED_ORDER: list = []
    sortkey = staticmethod(lambda v: v)


class SubClassOfTtlSerializer(NifTtlSerializer):
    """scottl (``SubClassOfTurtleSerializer``,
    ``serializers.py:900-985``): within each topClass section, a
    superclass/superproperty/imported ontology sorts BEFORE any of its
    subs (longest-chain layer over the union of rdfs:subClassOf,
    rdfs:subPropertyOf and owl:imports among URIRefs), ties broken by
    the usual natsort-qname global rank.  The reference's own test
    suite runs this serializer for determinism only (its byte-golden
    comparison is marked 'not ready yet'), so the contract here is the
    clean layering semantics + determinism, not byte parity with
    scogood.ttl."""
    VERSION_COMMENT = ("### Serialized using the pyontutils_spark "
                       "subClassOf deterministic serializer v1.2.0")

    _SUPER_PREDS = (RDFS_NS + "subClassOf", RDFS_NS + "subPropertyOf",
                    OWL_NS + "imports")

    def _rank_all(self):
        super()._rank_all()
        supers: dict = {}
        for s, p, o in self.graph.triples:
            if (p[1] in self._SUPER_PREDS and s[0] == "u"
                    and o[0] == "u"):
                supers.setdefault(s, set()).add(o)
        layer: dict = {}

        def depth(n, stack=()):
            if n in layer:
                return layer[n]
            if n in stack:   # cycle: treat as layer 0, like sco:6
                return 0
            d = 1 + max((depth(p, stack + (n,))
                         for p in supers.get(n, ())), default=-1)
            layer[n] = d
            return d

        self._tc_layer = {n: depth(n) for n in supers}

    def _top_class_sort_key(self, term):
        if term[0] == "b":
            return (0, self._global_sort_key(term), _term_str(term))
        return (self._tc_layer.get(term, 0),
                self._global_sort_key(term), _term_str(term))

    def _order_subjects(self):
        # identical to the base ordering but with the layer-aware key
        # for topClass members (the reference overrides only
        # _topClassSortKey, serializers.py:909-912)
        g = self.graph
        seen = set()
        sections = []
        for cls in TOP_CLASSES:
            members = g.subjects_of_type(("u", cls))
            members.sort(key=self._top_class_sort_key)
            subjects = []
            for m in members:
                if m[0] == "b":
                    if cls == RDFS_NS + "Datatype":
                        continue
                    if self._refs.get(m, 0) > 0:
                        continue
                subjects.append(m)
                seen.add(m)
            sections.append(subjects)
        rest = [s for s in g.subjects if s not in seen]
        rest.sort(key=lambda m: (self._global_sort_key(m), _term_str(m)))
        noref = [s for s in rest
                 if s[0] == "b" and self._refs.get(s, 0) == 0]
        sections[-1].extend(noref)
        sections.append([s for s in rest if s[0] != "b"])
        return sections


def serialize_scottl(rows, namespaces: dict[str, str],
                     is_bnode=None) -> str:
    """SubClassOf-ordered deterministic turtle (scottl)."""
    return SubClassOfTtlSerializer(rows, namespaces, is_bnode).serialize()


def serialize_uncompact(rows, namespaces: dict[str, str],
                        is_bnode=None) -> str:
    """One-line statements, full prefixes (uncmpttl)."""
    return UncompactTtlSerializer(rows, namespaces, is_bnode).serialize()


def serialize_det(rows, namespaces: dict[str, str],
                  is_bnode=None) -> str:
    """Graph-hashing layout: qname-only predicate order, raw sortkey."""
    return DeterministicTtlSerializer(rows, namespaces,
                                      is_bnode).serialize()


class RacketTtlSerializer(NifTtlSerializer):
    """Racket-embedded turtle (``RacketTurtleSerializer``,
    ``serializers.py:827-831``): the standard nifttl document preceded
    by a ``#lang rdf/turtle`` line, so the file is directly loadable as
    a Racket module — nothing else differs from the base layout."""

    def serialize(self) -> str:
        return "#lang rdf/turtle\n" + super().serialize()


def serialize_racket(rows, namespaces: dict[str, str],
                     is_bnode=None) -> str:
    """nifttl with the ``#lang rdf/turtle`` header (rktttl)."""
    return RacketTtlSerializer(rows, namespaces, is_bnode).serialize()


def html_atag(href: str, value: str | None = None, new_tab: bool = False,
              title: str | None = None) -> str:
    """The reference's ``htmlfn.atag`` format, verbatim semantics
    (``htmlfn/htmlfn/__init__.py:47-60``): no attribute escaping, the
    value falls back to the href, and a title grows the tooltip-div
    wrapper."""
    target = ' target="_blank"' if new_tab else ""
    title_tip = ("" if title is None else
                 f'<div class="cont"> <div class="tooltip">{title}'
                 "</div></div></div>")
    tstart = "" if title is None else '<div class="tip">'
    title_attr = "" if title is None else f' title="{title}"'
    if value is None:
        value = href
    return (f'{tstart}<a href="{href}"{target}{title_attr}>'
            f"{value}</a>{title_tip}")


class HtmlTtlSerializer(NifTtlSerializer):
    """Hyperlinked ttl (``HtmlTurtleSerializer``,
    ``serializers.py:781-824``): the nifttl layout with ``<br>\n``
    newlines and NBSP structural spaces/indentation
    (``_nl``/``_space``, :784-785), a plain prefix block with
    ``&lt;``-escaped IRIs (startDocument, :793-799), and label-time
    linkification (label(), :801-817): every IRI/qname — subject,
    verb, object, literal datatype — renders as an ``htmlfn.atag``
    whose title is the node's rdfs:label when known; literals
    otherwise render EXACTLY as in plain mode (the reference never
    html-escapes literal content).  ``labels`` merges external labels
    like the serialize(labels=...) kwarg (:819-824)."""

    _nl = "<br>\n"
    _space = "\u00A0"

    def __init__(self, rows, namespaces, is_bnode=None,
                 labels: dict | None = None):
        super().__init__(rows, namespaces, is_bnode)
        # {s: str(o) for s, o in store[:RDFS.label:]} (reference :791)
        self._labels = {s: o for s, p, o, il, _dt, _lg in rows
                        if p == RDFS_NS + "label" and il}
        if labels:
            self._labels.update(labels)

    def _prefix_line(self, prefix: str, uri: str) -> str:
        # startDocument, serializers.py:797: escaped brackets, no atag
        return f"@prefix {prefix}: &lt;{uri}&gt; ." + self._nl

    def _label(self, term, position):
        if term == ("u", RDF_NIL):
            return "()"
        if position == "verb" and term == ("u", RDF_TYPE):
            return "a"
        if term[0] == "l":
            return self._literal_n3(term)
        if term[0] == "b":
            return super()._label(term, position)
        iri = term[1]
        q = self.qnamer.out_qname(iri)
        out = q if q is not None else "<%s>" % iri
        out = out.replace("<", "&lt;").replace(">", "&gt;")
        return html_atag(iri, out, new_tab=True,
                         title=self._labels.get(iri))

    def _literal_n3(self, term):
        # label() Literal branch: _literal_n3(use_plain=True,
        # qname_callback=atag-wrapped qname) — only the DATATYPE is
        # linkified, the lexical form is untouched
        _, lex, dt, lang = term
        if dt in _PLAIN_TYPES and literal_value(lex, dt) is not None:
            return lex
        enc = _quote_encode(lex)
        if lang:
            return f"{enc}@{lang}"
        if dt:
            q = self.qnamer.out_qname(dt)
            return enc + "^^" + html_atag(dt, q, new_tab=True)
        return enc


def serialize_html(rows, namespaces: dict[str, str], is_bnode=None,
                   labels: dict | None = None) -> str:
    """Hyperlinked deterministic turtle (HtmlTurtleSerializer shape)."""
    return HtmlTtlSerializer(rows, namespaces, is_bnode,
                             labels).serialize()
