"""J4 person-coref propagation: cap 0.80, floor 0.05, order-free, max-merge."""

import math
import random
import re
from collections import defaultdict

from refined_spark import oracle
from refined_spark.config import COREF_CAP, COREF_FLOOR
from refined_spark.functions.normalize import normalize_surface_py
from refined_spark.functions.similarity import jaro_winkler_py, lev_sim_py
from refined_spark.operators.coref import propagate_person_coref


def _run(spark, cand_rows, humans):
    cands = spark.createDataFrame(
        cand_rows,
        "doc_id string, mention_id string, block_key string, offset int, qcode string, prior double",
    )
    hq = spark.createDataFrame([(h,) for h in humans], "qcode string")
    out = propagate_person_coref(cands, hq)
    return {(r.mention_id, r.qcode): r.prior for r in out.collect()}


def test_donation_with_cap(spark):
    got = _run(
        spark,
        [
            ("d1", "m1", "donald trump", 0, "Q1", 0.95),
            ("d1", "m2", "trump", 10, "Q7", 0.30),
        ],
        humans=["Q1"],
    )
    assert math.isclose(got[("m2", "Q1")], 0.80)  # capped
    assert math.isclose(got[("m2", "Q7")], 0.30)  # direct kept
    assert math.isclose(got[("m1", "Q1")], 0.95)  # donor unchanged


def test_floor_blocks_weak_donor(spark):
    got = _run(
        spark,
        [
            ("d1", "m1", "donald trump", 0, "Q1", 0.04),
            ("d1", "m2", "trump", 10, "Q7", 0.30),
        ],
        humans=["Q1"],
    )
    assert ("m2", "Q1") not in got


def test_nonhuman_never_donates(spark):
    got = _run(
        spark,
        [
            ("d1", "m1", "acme corp", 0, "Q9", 0.95),
            ("d1", "m2", "acme", 10, "Q7", 0.30),
        ],
        humans=[],
    )
    assert ("m2", "Q9") not in got


def test_backward_order_free(spark):
    # surname BEFORE full name in offset order still receives the donation
    got = _run(
        spark,
        [
            ("d1", "m1", "trump", 0, "Q7", 0.30),
            ("d1", "m2", "donald trump", 50, "Q1", 0.60),
        ],
        humans=["Q1"],
    )
    assert math.isclose(got[("m1", "Q1")], 0.60)


def test_doc_boundary(spark):
    got = _run(
        spark,
        [
            ("d1", "m1", "donald trump", 0, "Q1", 0.9),
            ("d2", "m2", "trump", 0, "Q7", 0.3),
        ],
        humans=["Q1"],
    )
    assert ("m2", "Q1") not in got


def test_max_merge_direct_beats_donation(spark):
    got = _run(
        spark,
        [
            ("d1", "m1", "donald trump", 0, "Q1", 0.5),
            ("d1", "m2", "trump", 10, "Q1", 0.9),  # direct prior higher than donated 0.5
        ],
        humans=["Q1"],
    )
    assert math.isclose(got[("m2", "Q1")], 0.9)


def test_dictionary_miss_row_dropped_when_donated(spark):
    # m2 has no direct candidates (null qcode) but receives a donation:
    # the null row must disappear
    got = _run(
        spark,
        [
            ("d1", "m1", "donald trump", 0, "Q1", 0.9),
            ("d1", "m2", "trump", 10, None, None),
        ],
        humans=["Q1"],
    )
    assert ("m2", None) not in got
    assert math.isclose(got[("m2", "Q1")], 0.80)


def test_new_pair_scored_raised_pair_keeps_features(spark):
    # m2 and m3 get Q1 and Q5 as new pairs; m3's direct Q2 row is raised
    # and keeps its own jw/lev. Q5 has no entity_meta row: empty label.
    cands = spark.createDataFrame(
        [
            ("d1", "m1", "donald trump", 0, "Q1", 0.95, 0.5, 0.4),
            ("d1", "m1", "donald trump", 0, "Q2", 0.60, 0.3, 0.2),
            ("d1", "m1", "donald trump", 0, "Q5", 0.20, 0.1, 0.1),
            ("d1", "m2", "trump", 10, "Q7", 0.30, 0.9, 0.8),
            ("d1", "m3", "trump", 20, "Q2", 0.10, 0.123, 0.456),
        ],
        "doc_id string, mention_id string, block_key string, offset int, "
        "qcode string, prior double, jw double, lev double",
    )
    meta = spark.createDataFrame(
        [("Q1", "Donald Trump"), ("Q2", "Melania Trump"), ("Q7", "Trump Tower")],
        "qcode string, label string",
    )
    hq = spark.createDataFrame([("Q1",), ("Q2",), ("Q5",)], "qcode string")
    out = propagate_person_coref(cands, hq, entity_meta=meta)
    got = {(r.mention_id, r.qcode): r for r in out.collect()}
    assert len(got) == 10
    for m in ("m2", "m3"):
        for q, label in (("Q1", "Donald Trump"), ("Q5", "")):
            row = got[(m, q)]
            norm = normalize_surface_py(label)
            assert row.jw == jaro_winkler_py("trump", norm)
            assert row.lev == lev_sim_py("trump", norm)
        assert got[(m, "Q1")].prior == 0.80
        assert got[(m, "Q5")].prior == 0.20
    assert got[("m2", "Q2")].jw == jaro_winkler_py("trump", "melania trump")
    raised = got[("m3", "Q2")]
    assert (raised.prior, raised.jw, raised.lev) == (0.60, 0.123, 0.456)
    assert (got[("m2", "Q7")].jw, got[("m2", "Q7")].lev) == (0.9, 0.8)


def _random_candidates(seed: int, n_docs: int = 100) -> list[tuple]:
    """Docs over a five-name vocabulary: repeated tokens ("john john"),
    donors sharing tokens, tokens reused across docs, dictionary misses,
    and priors at COREF_FLOOR and above COREF_CAP."""
    rng = random.Random(seed)
    vocab = ["john", "smith", "mary", "jones", "lee"]
    priors = [COREF_FLOOR, COREF_CAP, 0.95, 1.0, 0.01, 0.3, 0.5, 0.7]
    rows = []
    for d in range(n_docs):
        for k in range(rng.randint(2, 8)):
            key = " ".join(rng.choice(vocab) for _ in range(rng.choice([1, 1, 2, 2, 3])))
            qs = rng.sample([f"Q{i}" for i in range(1, 13)], rng.randint(0, 4))
            for q in qs or [None]:
                prior = rng.choice(priors) if q else None
                rows.append((f"d{d}", f"d{d}m{k}", key, k * 10, q, prior))
    rng.shuffle(rows)
    return rows


def test_equals_oracle_on_random_docs(spark):
    rows = _random_candidates(seed=11)
    humans = {f"Q{i}" for i in range(1, 8)}
    ms: dict[str, dict] = {}
    for d, m, key, _, q, p in rows:
        mm = ms.setdefault(m, {"doc_id": d, "mention_id": m, "block_key": key, "cands": []})
        if q is not None:
            mm["cands"].append((q, p))
    by_doc = defaultdict(list)
    for mm in ms.values():
        by_doc[mm["doc_id"]].append(mm)
    want = set()
    for doc_ms in by_doc.values():
        for m, merged in oracle.person_coref(doc_ms, humans).items():
            want |= {(m, q, p) for q, p in merged.items()} or {(m, None, None)}
    # the table exercises what it claims to: new pairs, raised priors,
    # dropped dictionary misses
    direct = {(m, q): p for _, m, _, _, q, p in rows}
    assert sum((m, q) not in direct for m, q, _ in want) > 10
    assert sum(direct.get((m, q), p) < p for m, q, p in want if q) > 10
    assert sum((m, None) in direct and q is not None for m, q, _ in want) > 5

    cands = spark.createDataFrame(
        rows,
        "doc_id string, mention_id string, block_key string, offset int, qcode string, prior double",
    )
    hq = spark.createDataFrame([(h,) for h in sorted(humans)], "qcode string")
    # Arrow batches far smaller than a partition: documents span batches
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        out = propagate_person_coref(cands, hq).collect()
    finally:
        spark.conf.set(key, prev)
    got = [(r.mention_id, r.qcode, r.prior) for r in out]
    assert len(got) == len(set(got))
    assert set(got) == want


def test_plan_is_one_exchange_on_doc_id(spark, tmp_path):
    path = str(tmp_path / "candidates")
    spark.createDataFrame(
        [("d1", "m1", "donald trump", 0, "Q1", 0.9, 0.5, 0.5)],
        "doc_id string, mention_id string, block_key string, offset int, "
        "qcode string, prior double, jw double, lev double",
    ).write.parquet(path)
    meta = spark.createDataFrame([("Q1", "Donald Trump")], "qcode string, label string")
    hq = spark.createDataFrame([("Q1",)], "qcode string")
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = propagate_person_coref(spark.read.parquet(path), hq, entity_meta=meta)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    exchanges = re.findall(r"(?<!Broadcast)(?<!Reused)Exchange (\w+\([^)]*\))", plan)
    assert len(exchanges) == 1 and exchanges[0].startswith("hashpartitioning(doc_id"), plan
    assert plan.count("FileScan parquet") == 1, plan
