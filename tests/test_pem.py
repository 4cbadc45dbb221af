"""PEM build (A1/A2/A3) and blocking join (J1) semantics."""

import math

import pyspark.sql.functions as F

from refined_spark.operators.pem import build_pem, candidate_join, candidate_join_salted, pem_flat


def test_build_pem_normalizes_and_ranks(spark):
    ev = spark.createDataFrame(
        [
            ("england", "Q1", 8.0),
            ("england", "Q2", 2.0),
            ("england", "Q1", 2.0),  # second evidence source for Q1
            ("paris", "Q3", 1.0),
        ],
        "surface_form string, qcode string, cnt double",
    )
    pem = {r.surface_form: r.candidates for r in build_pem(ev).collect()}
    eng = [(c.qcode, c.prior) for c in pem["england"]]
    assert eng[0][0] == "Q1" and math.isclose(eng[0][1], 10 / 12)
    assert eng[1][0] == "Q2" and math.isclose(eng[1][1], 2 / 12)
    assert math.isclose(sum(p for _, p in eng), 1.0)
    assert [(c.qcode, c.prior) for c in pem["paris"]] == [("Q3", 1.0)]


def test_build_pem_truncates_and_tiebreaks(spark):
    ev = spark.createDataFrame(
        [("x", f"Q{i}", 1.0) for i in range(1, 41)],
        "surface_form string, qcode string, cnt double",
    )
    cands = build_pem(ev, max_candidates=30).collect()[0].candidates
    assert len(cands) == 30
    # equal priors -> ascending lexicographic qcode (generic keys)
    assert [c.qcode for c in cands][:5] == sorted(f"Q{i}" for i in range(1, 41))[:5]


def test_candidate_join_keeps_misses(spark, tables):
    mentions = spark.createDataFrame(
        [("d1", "d1#0", "trump", 0), ("d1", "d1#5", "zzz-no-such-alias", 5)],
        "doc_id string, mention_id string, surface string, offset int",
    ).withColumn("block_key", F.col("surface"))
    out = candidate_join(mentions, tables["pem"])
    miss = [r for r in out.collect() if r.mention_id == "d1#5"]
    assert len(miss) == 1 and miss[0].qcode is None


def test_salted_join_equals_broadcast_join(spark, tables):
    from refined_spark.plans.pipeline import build_mentions

    mentions = build_mentions(tables["documents"])
    a = candidate_join(mentions, tables["pem"])
    b = candidate_join_salted(mentions, tables["pem"], salt=4)
    cols = ["mention_id", "qcode", "prior"]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_pem_flat_rank(spark, tables):
    flat = pem_flat(tables["pem"])
    r = flat.groupBy("surface_form").agg(
        F.min("rank").alias("lo"), F.count("*").alias("n"), F.max("rank").alias("hi")
    )
    bad = r.where((F.col("lo") != 1) | (F.col("hi") != F.col("n"))).count()
    assert bad == 0


def test_dictionary_index_builds_once_under_concurrent_callers(spark, tables):
    """Concurrent runs over one dictionary (e.g. a streaming micro-batch
    thread next to a batch run) share one build of each index part."""
    import sys
    import threading

    from refined_spark.operators import pem

    pem.drop_index()
    got, errors = [], []

    def call():
        try:
            got.append(pem.normalized_labels(tables["entity_meta"]))
        except Exception as e:  # surfaced by the assertion below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=call) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors and len(got) == 8
    assert all(g is got[0] for g in got)
    assert pem._INDEX["labels"][1] is got[0]
