"""natsort / litsort key tests — string-key order must reproduce the
reference's tuple order (ttlser/serializers.py:25-52; spec
ttlser/docs/ttlser.md:37-52)."""

import random

from pyontutils_spark.kernel.norm import (
    litsort_key, litsort_tuple, local_degrade, natsort_key, natsort_tuple,
    object_sort_key, python_identifier, tokstrip, XSD)


def test_natsort_digit_runs():
    # a9 < a10 (ttlser.md:37)
    assert natsort_key("a9") < natsort_key("a10")
    assert natsort_key("a2b3") < natsort_key("a2b10")
    assert natsort_key("x") < natsort_key("x1")


def test_natsort_case_insensitive():
    assert natsort_key("ABC") == natsort_key("abc")


def test_natsort_string_key_matches_tuple_order():
    words = ["a1", "a10", "a9", "a09", "b", "B2", "abc10def2", "abc9def10",
             "z", "a", "a0", "a00x", "niflex_1", "niflex_10", "niflex_2"]
    # tuple comparison only valid between same-type positions; these all
    # start alpha so tuples align.
    by_tuple = sorted(words, key=natsort_tuple)
    by_key = sorted(words, key=natsort_key)
    assert by_tuple == by_key


def test_natsort_leading_zeros_numeric_equal():
    # 09 and 9 are numerically equal in a digit run
    assert natsort_key("a09")[:20] == natsort_key("a9")[:20]


def test_litsort_bucket_order():
    # bool < numeric < datetime < string (serializers.py:28-52)
    b = litsort_key("true", XSD + "boolean")
    i = litsort_key("5", XSD + "integer")
    f = litsort_key("5.5", XSD + "double")
    d = litsort_key("2020-01-01T00:00:00", XSD + "dateTime")
    s = litsort_key("aardvark")
    assert b < i < d < s
    assert i < f  # 5 < 5.5 numerically


def test_litsort_numeric_by_value():
    ks = [litsort_key(x, XSD + "integer") for x in ["10", "2", "-3", "100"]]
    assert sorted(ks) == [litsort_key(x, XSD + "integer")
                          for x in ["-3", "2", "10", "100"]]


def test_litsort_tz_naive_first():
    naive = litsort_key("2020-01-01T00:00:00", XSD + "dateTime")
    zoned = litsort_key("2020-01-01T00:00:00Z", XSD + "dateTime")
    assert naive < zoned


def test_litsort_lang_and_datatype_tiebreak():
    plain = litsort_key("chat")
    lang_en = litsort_key("chat", None, "en")
    lang_fr = litsort_key("chat", None, "fr")
    assert plain < lang_en < lang_fr


def test_object_sort_literals_before_iris():
    lit = object_sort_key("zzz", True)
    iri = object_sort_key("http://a.example/a", False, qname="a:a")
    assert lit < iri


def test_litsort_key_matches_tuple_order_random():
    rnd = random.Random(42)
    vals = [(str(rnd.randint(-999, 999)), XSD + "integer", None)
            for _ in range(50)]
    vals += [("word%d" % rnd.randint(0, 99), None, None) for _ in range(50)]
    # fractions closer than the 2^-6 steps of a float sum with 1e14
    vals += [(lex, XSD + "decimal", None)
             for lex in ("0.02", "1e-2", "-1.0", "-0.99451")]
    vals += [("%.*f" % (rnd.randint(1, 9), rnd.uniform(-2, 2)),
              XSD + "decimal", None) for _ in range(200)]
    by_tuple = sorted(vals, key=lambda v: litsort_tuple(*v))
    by_key = sorted(vals, key=lambda v: litsort_key(*v))
    assert by_tuple == by_key


def test_local_degrade():
    assert local_degrade("  Hippocampus ") == "hippocampus"


def test_python_identifier():
    assert python_identifier("My Column (mm)") == "my_column_mm"
    assert python_identifier("2nd col") == "n_2nd_col"
    assert python_identifier("class") == "class_"


def test_tokstrip():
    assert tokstrip("(hippocampus),") == "hippocampus"


def test_make_version_iri_from_iri():
    from pyontutils_spark.kernel.norm import make_version_iri_from_iri
    # reference shape (ontutils.py:315-321)
    assert make_version_iri_from_iri(
        "http://ontology.neuinfo.org/NIF/ttl/nif.ttl", 1524000000) == \
        "http://ontology.neuinfo.org/NIF/ttl/nif/version/1524000000/nif.ttl"
    assert make_version_iri_from_iri("http://e/x/noext", 7) == \
        "http://e/x/noext/version/7/noext"


def test_interlex_namespace():
    from pyontutils_spark.kernel.norm import interlex_namespace
    assert interlex_namespace("base") == "http://uri.interlex.org/base"
    assert interlex_namespace("tgbugs/uris/") == \
        "http://uri.interlex.org/tgbugs/uris/"


def test_token_set_ratio():
    from pyontutils_spark.kernel.norm import token_set_ratio
    assert token_set_ratio("cerebral cortex", "cerebral cortex") == 1.0
    # token order must not matter (set semantics)
    assert token_set_ratio("cortex cerebral", "cerebral cortex") == 1.0
    # subset probes score high (intersection-vs-intersection+rest)
    assert token_set_ratio("cortex", "cerebral cortex") > 0.6
    assert token_set_ratio("", "x") == 0.0
    assert token_set_ratio("aardvark", "zebra") < 0.5
