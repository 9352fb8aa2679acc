"""Per-annotation / per-sensitivity postings fields.

The reference indexes every annotation×sensitivity as its own Lucene
postings field (reference AnnotatedFieldNameUtil.java:47 naming
`contents%word@i`, AnnotationSensitivities.java:8-13); a sensitive or
annotation-leaf query reads that field's postings — never a scan over
the stored token arrays. These tests pin both the ANSWERS (vs a brute
token scan of the same corpus) and the PLANS (explain must show a
postings read with no tokenized-table scan for routed leaves).
"""

import pytest
from pyspark.sql import functions as F

from blacklab_spark.config import EngineConfig
from blacklab_spark.corpus import Corpus
from blacklab_spark.search import spans as S

ROWS = [
    ("c0", 0, "user", "The Quick brown Fox jumps over the fox", "t"),
    ("c1", 0, "agent", "the quick Brown fox sleeps", "t"),
    ("c2", 0, "user", "Tàble of the fox and the TABLE", "t"),
    ("c3", 0, "agent", "quick brown foxes everywhere", "t"),
]

_POS = (
    "transform(regexp_extract_all(text, '[\\\\p{L}\\\\p{N}]+', 0), "
    "t -> case when length(t) > 4 then 'long' else 'short' end)"
)


@pytest.fixture(scope="module")
def fcorpus(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fields") / "idx")
    df = (
        spark.createDataFrame(
            ROWS,
            "conv_id string, turn_idx int, role string, text string, tool string",
        )
        .withColumn("ts", F.lit("2025-01-01").cast("timestamp"))
        .withColumn("ann_pos", F.expr(_POS))
    )
    cfg = EngineConfig(
        segment_size=2,  # force multi-segment
        block_size=4,
        index_fields=("word@i", "word@s", "pos@i"),
    )
    return Corpus.build(spark, df, d, cfg)


def hits(df):
    return sorted(
        (r["doc_id"], r["start"]) for r in df.select("doc_id", "start").collect()
    )


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_postings_plan(df):
    """The leaf resolves from postings: no tokenized-table scan."""
    plan = plan_of(df)
    assert "postings" in plan
    assert "tokenized" not in plan


def test_meta_records_fields(fcorpus):
    assert fcorpus.meta["index_fields"] == ["word@i", "word@s", "pos@i"]
    assert fcorpus.index_fields == ("word@i", "word@s", "pos@i")
    # ann_pos is single-valued: the _extra column exists (always-split)
    # but meta says no multivalue anns, so readers skip the secondary scan
    assert fcorpus.meta["multivalue_anns"] == []
    assert S._extra_col(fcorpus, "pos") is None


def test_sensitive_term_from_postings(fcorpus):
    df = fcorpus.find('"(?c)Fox"').df
    assert hits(df) == [(0, 3)]
    assert_postings_plan(df)
    # plain insensitive still sees every case variant
    assert len(hits(fcorpus.find('"fox"').df)) == 4


def test_ci_di_from_sensitive_field(fcorpus):
    # ci: case-insensitive, diacritics-sensitive
    assert hits(S.term_hits(fcorpus, "tàble", sensitive="ci")) == [(2, 0)]
    assert hits(S.term_hits(fcorpus, "table", sensitive="ci")) == [(2, 6)]
    # di: diacritics-insensitive, case-sensitive
    assert hits(S.term_hits(fcorpus, "Table", sensitive="di")) == [(2, 0)]
    assert hits(S.term_hits(fcorpus, "table", sensitive="di")) == []
    assert_postings_plan(S.term_hits(fcorpus, "tàble", sensitive="ci"))


def test_sensitive_regex_from_postings(fcorpus):
    df = fcorpus.find('"(?c)T.*"').df  # The, Tàble, TABLE
    assert hits(df) == [(0, 0), (2, 0), (2, 6)]
    assert_postings_plan(df)


def test_annotation_leaf_from_postings(fcorpus):
    df = fcorpus.find('[pos="long"]').df
    # tokens with length > 4 per doc
    expect = [(0, 1), (0, 2), (0, 4), (1, 1), (1, 2), (1, 4), (2, 0),
              (2, 6), (3, 0), (3, 1), (3, 2), (3, 3)]
    assert hits(df) == expect
    assert_postings_plan(df)


def test_annotation_regex_from_postings(fcorpus):
    df = fcorpus.find('[pos="lo.*"]').df
    assert len(hits(df)) == 12
    assert_postings_plan(df)


def test_annotation_cost_model_uses_field_dfs(fcorpus):
    from blacklab_spark.cql import engine as E
    from blacklab_spark.cql import parser as P

    parts = P.parse('[pos="long"] "fox"').parts
    dfs = E._seq_part_dfs(fcorpus, list(parts))
    assert dfs[0] == 4  # real doc-freq from the pos@i terms dict, not inf
    assert dfs[1] == 3  # docs containing 'fox'


def test_scan_fallback_matches_postings_answers(fcorpus, spark, tmp_path_factory):
    """Same corpus WITHOUT the extra fields: every query above answers
    identically through the token-scan fallback."""
    d = str(tmp_path_factory.mktemp("fields_min") / "idx")
    df = (
        spark.createDataFrame(
            ROWS,
            "conv_id string, turn_idx int, role string, text string, tool string",
        )
        .withColumn("ts", F.lit("2025-01-01").cast("timestamp"))
        .withColumn("ann_pos", F.expr(_POS))
    )
    mini = Corpus.build(
        spark, df, d, EngineConfig(segment_size=2, block_size=4)
    )
    for q in ['"(?c)Fox"', '"(?c)T.*"', '[pos="long"]', '[pos="lo.*"]', '"fox"']:
        assert hits(mini.find(q).df) == hits(fcorpus.find(q).df), q
    for term, sens in [("tàble", "ci"), ("Table", "di"), ("table", "di")]:
        assert hits(S.term_hits(mini, term, sensitive=sens)) == hits(
            S.term_hits(fcorpus, term, sensitive=sens)
        ), (term, sens)


def test_collated_sort_diverges_from_codepoint(spark, tmp_path_factory):
    """Golden collation test (reference Collators.java:14-82 /
    Terms.java:69-95 RuleBasedCollator orders): sorting hits by text
    groups case/accent variants together — 'apple' family before
    'Zebra' — where raw codepoint order would put every capital first.
    The key scheme (search.collation.jdk_sort_key_col, the session
    JVM's collation-element table — exact, no native deps; differential
    golden in tests/test_collation.py) must produce the JDK tertiary
    order on this Latin corpus: accentless before accented inside a
    letter group, lowercase before uppercase inside an accent group."""
    rows = [
        ("d0", 0, "u", "Zebra ápple apple Apple zebra Ärger anger", "t"),
    ]
    d = str(tmp_path_factory.mktemp("coll") / "idx")
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.lit("2025-01-01").cast("timestamp"))
    c = Corpus.build(spark, df, d, EngineConfig(segment_size=4, block_size=4))
    toks = "Zebra ápple apple Apple zebra Ärger anger".split()
    rows = c.find('".*"').sort_by(["hit"]).df.collect()
    texts = [toks[r["start"]] for r in rows]
    # JDK en_US tertiary order (reference Collators.java sensitive
    # collator): letter groups first (anger < apple* < arger < zebra*),
    # accentless before accented inside a group (secondary), lowercase
    # before uppercase at equal accents (tertiary)
    assert [t.lower().replace("á", "a").replace("ä", "a") for t in texts] == [
        "anger", "apple", "apple", "apple", "arger", "zebra", "zebra",
    ], texts
    assert texts.index("apple") < texts.index("Apple") < texts.index("ápple")
    assert texts.index("zebra") < texts.index("Zebra")
    # raw codepoint order would differ (capitals/accents regrouped)
    assert sorted(texts) != texts
