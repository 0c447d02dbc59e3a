"""String/scalar normalization and deterministic sort keys.

Reimplements (semantics only):
- ``local_degrade`` = ``lower().strip()`` — the label-normalization used
  for all label joins (reference ``ilxutils/ilxutils/interlex_sql.py:22``).
- ``natsort`` — digit-run-aware case-insensitive ordering key
  (``ttlser/ttlser/serializers.py:25-26``), with a *string-encoded* form
  whose plain lexicographic order equals the tuple order, so Spark can
  ``orderBy`` a computed column instead of running Python comparisons.
- ``litsort`` — the literal ordering of ``make_litsort``
  (``ttlser/ttlser/serializers.py:28-52``): bool < numeric < datetime <
  string(natsort, datatype, lang); spec at ``ttlser/docs/ttlser.md:47-52``.
- ``python_identifier`` header normalization (``pyontutils/utils.py:620-643``).
- ``tokstrip`` punctuation stripping (``pyontutils/ontutils.py:183-207``).
"""

from __future__ import annotations

import keyword
import re
from datetime import datetime
from decimal import Decimal

_DIGIT_RUN = re.compile(r"([0-9]+)")


def local_degrade(s: str) -> str:
    return s.lower().strip()


def natsort_tuple(s: str):
    """Tuple form, comparable within same-shape strings (reference form)."""
    return tuple(int(t) if t.isdigit() else t.lower()
                 for t in _DIGIT_RUN.split(s))


def natsort_key(s: str) -> str:
    """String encoding of the natsort order: each digit run becomes
    ``0<len:4><digits>`` and non-digit runs are lowercased with a ``1``
    type tag per segment, so lexicographic comparison of keys reproduces
    the (int < str per-position) tuple comparison.  Digit runs longer than
    9999 digits are unsupported (far beyond any IRI/label in scope)."""
    parts = []
    for i, t in enumerate(_DIGIT_RUN.split(s)):
        if i % 2 == 1:  # digit run
            d = t.lstrip("0") or "0"
            parts.append(f"0{len(d):04d}{d}")
        elif t:
            parts.append("1" + t.lower().replace("\x00", ""))
    return "\x01".join(parts)


def make_version_iri_from_iri(iri: str, epoch: int) -> str:
    """``{base}/{name}/version/{epoch}/{basename}`` (reference
    ``ontutils.py:315-321``, posix-dirname semantics)."""
    base, _, basename = iri.rpartition("/")
    name = basename.rsplit(".", 1)[0] if "." in basename else basename
    return f"{base}/{name}/version/{epoch}/{basename}"


def interlex_namespace(user: str) -> str:
    """``http://uri.interlex.org/ + user`` (reference
    ``namespaces.py:9-10``)."""
    return "http://uri.interlex.org/" + user


def token_set_ratio(a: str, b: str) -> float:
    """Public token-set similarity (fuzzywuzzy's token_set_ratio
    construction over stdlib SequenceMatcher): compare
    sorted-intersection vs intersection+remainder strings and take the
    max ratio.  The engine's stand-in for the reference's WordNet
    sentence similarity (``ilxutils/nltklib.py:36-70``) — deterministic
    and dependency-free."""
    from difflib import SequenceMatcher

    ta, tb = set(a.lower().split()), set(b.lower().split())
    if not ta or not tb:
        return 0.0
    inter = " ".join(sorted(ta & tb))
    sa = (inter + " " + " ".join(sorted(ta - tb))).strip()
    sb = (inter + " " + " ".join(sorted(tb - ta))).strip()

    def ratio(x: str, y: str) -> float:
        # SequenceMatcher.ratio() depends on argument order (the b2j
        # index is built on the second argument); max over both orders
        # makes the measure symmetric — property-tested.
        return max(SequenceMatcher(None, x, y).ratio(),
                   SequenceMatcher(None, y, x).ratio())

    return max(ratio(inter, sa), ratio(inter, sb), ratio(sa, sb))


# --- litsort ------------------------------------------------------------

XSD = "http://www.w3.org/2001/XMLSchema#"
_NUMERIC_DT = {XSD + "integer", XSD + "int", XSD + "long", XSD + "decimal",
               XSD + "double", XSD + "float", XSD + "short", XSD + "byte",
               XSD + "nonNegativeInteger", XSD + "positiveInteger"}
_BOOL_DT = {XSD + "boolean"}
_DT_DT = {XSD + "dateTime", XSD + "date"}

_NUM_OFFSET = 10 ** 14  # numeric encoding window: |value| < 1e14


def _num_key(lex: str) -> str:
    """Fixed-width string whose lexicographic order equals numeric order
    for |v| < 1e14 with 9 fractional digits.  The sum with the offset is
    done in Decimal: as a float it keeps only 2^-6 steps, which put 0.02
    before 1e-2.  Values outside the window keep the float form, which
    stays short for huge exponents."""
    v = Decimal(lex)
    if v.is_finite() and abs(v) < _NUM_OFFSET:
        return f"{v + _NUM_OFFSET:025.9f}"
    return f"{float(lex) + _NUM_OFFSET:025.9f}"


def litsort_tuple(lex: str, datatype: str | None = None,
                  lang: str | None = None):
    """Python-comparable tuple reproducing make_litsort buckets:
    0=bool, 1=numeric, 2=datetime, 3=string(natsort, datatype, lang)."""
    datatype = datatype or ""
    lang = lang or ""
    if datatype in _BOOL_DT:
        return (0, lex == "true" or lex == "1", "", "")
    if datatype in _NUMERIC_DT:
        try:
            return (1, float(lex), str(lex), "")
        except ValueError:
            pass
    if datatype in _DT_DT:
        try:
            has_tz = lex.endswith("Z") or ("+" in lex[10:]) or ("-" in lex[11:])
            return (2, has_tz, lex, "")
        except Exception:
            pass
    return (3, natsort_tuple(lex), datatype, lang)


def litsort_key(lex: str, datatype: str | None = None,
                lang: str | None = None) -> str:
    """String encoding of litsort order (bucket digit + payload)."""
    datatype = datatype or ""
    lang = lang or ""
    if datatype in _BOOL_DT:
        v = "1" if lex in ("true", "1") else "0"
        return "0" + v
    if datatype in _NUMERIC_DT:
        try:
            return "1" + _num_key(lex) + "\x01" + lex
        except (ValueError, ArithmeticError):
            pass
    if datatype in _DT_DT:
        has_tz = lex.endswith("Z") or ("+" in lex[10:]) or ("-" in lex[11:])
        return "2" + ("1" if has_tz else "0") + lex
    return "3" + natsort_key(lex) + "\x02" + datatype + "\x02" + lang


def object_sort_key(obj: str, is_literal: bool,
                    datatype: str | None = None, lang: str | None = None,
                    qname: str | None = None) -> str:
    """Global object rank key: all Literals before all URIRefs, literals by
    litsort, IRIs by natsort of their qname (_LitUriRank,
    ``ttlser/serializers.py:446-458``)."""
    if is_literal:
        return "0" + litsort_key(obj, datatype, lang)
    return "1" + natsort_key(qname if qname is not None else obj)


# --- identifiers ----------------------------------------------------------

_NONWORD = re.compile(r"[^A-Za-z0-9_]+")


def python_identifier(s: str) -> str:
    """Normalize a header/cell string to a usable python identifier
    (semantics of pyontutils/utils.py:620-643: strip, collapse non-word
    runs to underscore, prefix leading digits, suffix keywords)."""
    out = _NONWORD.sub("_", s.strip()).strip("_")
    out = re.sub(r"_+", "_", out).lower()
    if not out:
        out = "_"
    if out[0].isdigit():
        out = "n_" + out
    if keyword.iskeyword(out):
        out = out + "_"
    return out


_PUNCT = ",.;:'\"!?()[]{}<>"


def tokstrip(tok: str) -> str:
    """Strip punctuation from both ends (ontutils.py:183-207 semantics)."""
    return tok.strip(_PUNCT)


def isoformat_utc(dt: datetime) -> str:
    """Deterministic ISO-8601 (utils.py:42-87 semantics, UTC, no micros)."""
    return dt.replace(microsecond=0).isoformat() + ("" if dt.tzinfo else "Z")
