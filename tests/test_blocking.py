"""LSH blocking channel (north star: alias keys PLUS MinHash-LSH on
mention n-grams): typo'd surfaces that miss the exact dictionary join are
recovered through a shared MinHash band and Jaccard verification."""

import pytest
from pyspark.sql import functions as F

from refined_spark.operators import blocking
from refined_spark.operators.pem import candidate_join


@pytest.fixture(scope="module")
def dict_df(spark):
    return spark.createDataFrame(
        [
            ("angela merkel", [{"qcode": "Q1", "prior": 0.9}]),
            ("boris johnson", [{"qcode": "Q2", "prior": 0.8}]),
            ("acme corp", [{"qcode": "Q3", "prior": 1.0}]),
        ],
        "surface_form string, candidates array<struct<qcode string, prior double>>",
    )


@pytest.fixture(scope="module")
def mentions_df(spark):
    return spark.createDataFrame(
        [
            # exact hit
            ("d1", "d1#0", "angela merkel", 0),
            # typo: one transposition — exact join misses, LSH recovers
            ("d1", "d1#20", "angela merkle", 20),
            # garbage: no band overlap with any surface
            ("d2", "d2#0", "zzqqvv xx", 0),
        ],
        "doc_id string, mention_id string, block_key string, offset int",
    )


def test_lsh_recovers_typo(spark, dict_df, mentions_df):
    out = blocking.candidate_join_with_lsh_fallback(mentions_df, dict_df)
    rows = {r["mention_id"]: r for r in out.collect()}
    assert rows["d1#0"]["qcode"] == "Q1"          # exact channel
    assert rows["d1#20"]["qcode"] == "Q1"         # fuzzy channel
    assert rows["d1#20"]["prior"] == 0.9          # dictionary prior preserved
    assert rows["d2#0"]["qcode"] is None          # still NIL
    assert out.count() == 3


def test_exact_channel_unchanged(spark, dict_df, mentions_df):
    exact = candidate_join(mentions_df, dict_df)
    both = blocking.candidate_join_with_lsh_fallback(mentions_df, dict_df)
    exact_hits = exact.where(F.col("qcode").isNotNull())
    both_for_exact = both.join(
        exact_hits.select("mention_id").distinct(), "mention_id", "left_semi"
    )
    assert sorted(r["qcode"] for r in both_for_exact.collect()) == sorted(
        r["qcode"] for r in exact_hits.collect()
    )


def test_jaccard_threshold_blocks_weak_pairs(spark, dict_df):
    m = spark.createDataFrame(
        [("d3", "d3#0", "angela xqz", 0)],
        "doc_id string, mention_id string, block_key string, offset int",
    )
    # shares the "angela " shingles (possible band collision) but the exact
    # jaccard is 5/(8+11-5) ~= 0.36 < 0.5 -> verification drops the pair
    out = blocking.lsh_candidate_join(m, dict_df, jaccard_threshold=0.5)
    assert out.count() == 0


def test_pipeline_lsh_blocking_invariant_on_clean_corpus(spark, fixture_paths):
    """On a corpus whose surfaces all hit the dictionary exactly, the
    two-channel pipeline must resolve identically to the exact-only one
    (the fuzzy channel only receives the exact-miss tail)."""
    from refined_spark.plans import pipeline

    load = lambda k: spark.read.parquet(fixture_paths[k])
    args = (load("documents"), load("pem"), load("entity_meta"),
            load("entity_embeddings"), load("human_qcodes"))
    base = pipeline.run(spark, *args).select("mention_id", "qcode")
    fuzzy = pipeline.run(spark, *args, lsh_blocking=True).select("mention_id", "qcode")
    assert base.exceptAll(fuzzy).isEmpty() and fuzzy.exceptAll(base).isEmpty()


def test_lsh_empty_and_null_keys(spark):
    """An empty block key is one shingle ("") and bands like any other
    key; a null block key bands to null hashes and pairs with nothing,
    not even a null surface. Rows as the JVM signature chain gave them."""
    d = spark.createDataFrame(
        [
            ("angela merkel", [{"qcode": "Q1", "prior": 0.9}]),
            ("", [{"qcode": "Q9", "prior": 0.5}]),
            (None, [{"qcode": "Q8", "prior": 0.4}]),
        ],
        "surface_form string, candidates array<struct<qcode string, prior double>>",
    )
    m = spark.createDataFrame(
        [
            ("d4", "d4#0", "", 0),
            ("d4", "d4#1", None, 1),
            ("d4", "d4#2", "angela merkle", 2),
            ("d4", "d4#3", "an", 3),
        ],
        "doc_id string, mention_id string, block_key string, offset int",
    )
    got = sorted(tuple(r) for r in blocking.lsh_candidate_join(m, d).collect())
    assert got == [
        ("d4", "d4#0", "", 0, "Q9", 0.5, 1),
        ("d4", "d4#2", "angela merkle", 2, "Q1", 0.9, 1),
    ]
