"""Exact JDK-collator sort keys (reference Collators.java:14-33 wraps
java.text.Collator.getInstance() at TERTIARY; the element table read
from the session JVM + key builder must reproduce its compare() order
exactly, under whatever default locale the JVM runs)."""

from __future__ import annotations

import random

import pytest

from blacklab_spark.search.collation import (
    collation_keys,
    jdk_collation_table,
    jdk_sort_key,
)


def test_known_orders(spark):
    """Hand-checked orders incl. the cases the former three-strength
    fallback got wrong (multi-accent secondary weights, ß tertiary
    expansion, ignorable space/dash, unmapped chars)."""
    key = jdk_sort_key
    # acute (secondary 19) before grave (20) — codepoint order says the
    # opposite (é=U+00E9 > è=U+00E8): the r4 divergence, now exact
    assert key("éa") < key("èa")
    assert key("ea") < key("éa") < key("èa") < key("êa") < key("ëa")
    # ß = two s-primaries with tertiary marks: strasse < straße < STRASSE
    assert key("strasse") < key("straße") < key("STRASSE")
    # lowercase before uppercase (tertiary), letters group by primary
    assert key("apple") < key("Apple") < key("ápple") < key("zebra")
    # space/dash are primary-ignorable in the JDK sensitive collator:
    # 'ab' groups with 'a b' / 'a-b' at primary, secondaries order them
    assert key("a b") < key("a-b")  # space sec 1 < dash sec 109
    assert key("ab") < key("a b")   # no ignorable < ignorable present
    # unpaired completely-ignorables are skipped, paired ones compare
    assert key("a​b") == key("ab")
    assert key("​ ") < key(" ")
    # unmapped chars (marker + code units) sort after mapped ones
    assert key("z") < key("一") < key("\U0001f600")


def test_order_identical_to_java_collator(spark):
    """Differential golden: sort 2.5k adversarial strings with the REAL
    java.text.Collator of the session JVM (the object the reference
    wraps) and with our key; orders must be identical. The words are
    pre-sorted in String.compareTo order (UTF-16 code units) and
    Collections.sort is stable, so the JVM side is compare() with a
    compareTo tie-break."""
    random.seed(20260821)
    bases = ["apple", "Apple", "APPLE", "ápple", "àpple", "âpple", "äpple",
             "zebra", "Zebra", "cote", "coté", "côte", "côté",
             "resume", "résumé", "résume", "resumé", "éa", "èa", "ea",
             "Ärger", "arger", "Aerger", "straße", "strasse", "STRASSE",
             "naïve", "naive", "Ναΐς", "ναις", "Москва", "москва",
             "a b", "a-b", "a_b", "ab", "a1", "A1", "a10", "a2",
             "ffi", "ﬃ", "①", "一二", "\U0001f600x", "x\U0001f600",
             "", " ", "-", "_", "e", "é", "è", "ê", "ë", "ē", "ĕ", "ė",
             "a​b", "ab​", "a\tb", "A-b", "a-B", "ä-b", "a‐b",
             "a\x01b", "\x07x", "​ ", " ́", "́ "]
    alpha = "aáàâäAÁeéèEßzZ -_​́̀¨œŒﬁ①ĳ\x01\x1f"
    words = bases + ["".join(random.choice(alpha)
                             for _ in range(random.randint(1, 6)))
                     for _ in range(2500)]
    words = sorted({w for w in words if "\n" not in w},
                   key=lambda w: w.encode("utf-16-be"))
    jvm = spark._jvm
    coll = jvm.java.text.Collator.getInstance()
    coll.setStrength(jvm.java.text.Collator.TERTIARY)
    lst = jvm.java.util.ArrayList(words)
    jvm.java.util.Collections.sort(lst, coll)
    java_sorted = jvm.java.lang.String.join("\n", lst).split("\n")
    table = jdk_collation_table()
    py_sorted = sorted(words, key=lambda w: (jdk_sort_key(w, table),
                                             w.encode("utf-16-be")))
    assert py_sorted == java_sorted


def test_table_follows_jvm_default_locale(spark):
    """The table is the live JVM's default-locale collator, not a frozen
    one: Swedish sorts 'ä' after 'z' (JVM compare("z", "ä") is -1 under
    sv_SE, +1 under en_US), and restoring the locale restores the order
    — for driver-side keys and for the sort column's UDF alike."""
    Locale = spark._jvm.java.util.Locale
    before = Locale.getDefault()
    df = spark.createDataFrame([("ä",), ("z",), ("a",)], "w string")

    def sorted_col():
        return [r.w for r in df.orderBy(*collation_keys("w")).collect()]

    try:
        Locale.setDefault(Locale("sv", "SE"))
        assert jdk_sort_key("z") < jdk_sort_key("ä")
        assert sorted_col() == ["a", "z", "ä"]
    finally:
        Locale.setDefault(before)
    assert jdk_sort_key("ä") < jdk_sort_key("z")
    assert sorted_col() == ["a", "ä", "z"]


def test_no_spark_context_names_the_cause(monkeypatch):
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    with pytest.raises(RuntimeError, match="active SparkContext"):
        jdk_sort_key("a")
