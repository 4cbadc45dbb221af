"""The golden-cluster gate: distributed pipeline vs pure-Python oracle.

Pairwise F1 >= 0.99 at matched blocking keys (north rule); per-mention
winners must agree exactly on the fixture corpus, and the span-sequence
invariant must hold across the pipeline (documents are never rewritten,
so identity holds trivially — the check still runs distributed).
"""

from collections import defaultdict

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from refined_spark.operators import spans
from refined_spark.oracle import pairs_from_assignment, pairwise_f1, resolve_mentions
from refined_spark.plans import pipeline


def _oracle_inputs(fixture_paths):
    g = pq.read_table(fixture_paths["gold_mentions"]).to_pylist()
    p = pq.read_table(fixture_paths["pem"]).to_pylist()
    pem_d = {
        r["surface_form"]: [(c["qcode"], c["prior"]) for c in r["candidates"]]
        for r in p
    }
    meta_d = {r["qcode"]: r for r in pq.read_table(fixture_paths["entity_meta"]).to_pylist()}
    emb_d = {
        r["qcode"]: r["emb"]
        for r in pq.read_table(fixture_paths["entity_embeddings"]).to_pylist()
    }
    hq = {r["qcode"] for r in pq.read_table(fixture_paths["human_qcodes"]).to_pylist()}
    docs = pq.read_table(fixture_paths["documents"]).to_pylist()
    doc_spans = {
        r["doc_id"]: [
            (s["offset"], s["text"])
            for s in sorted(r["spans"], key=lambda x: x["offset"])
            if s["kind"] == "text" and s["text"]
        ]
        for r in docs
    }
    mentions = [
        {"doc_id": r["doc_id"], "mention_id": r["mention_id"],
         "surface": r["surface"], "offset": r["offset"]}
        for r in g
    ]
    return g, pem_d, meta_d, emb_d, hq, doc_spans, mentions


def test_golden_clusters(spark, tables, fixture_paths):
    out = pipeline.run(
        spark,
        tables["documents"],
        tables["pem"],
        tables["entity_meta"],
        tables["entity_embeddings"],
        tables["human_qcodes"],
    ).collect()

    g, pem_d, meta_d, emb_d, hq, doc_spans, mentions = _oracle_inputs(fixture_paths)
    assign = resolve_mentions(mentions, pem_d, meta_d, emb_d, hq, doc_spans)
    bk = {r["mention_id"]: r["block_key"] for r in g}

    eng = {r.mention_id: (r.qcode, r.cluster_id) for r in out}
    mismatches = [
        (mid, q, eng.get(mid, (None, None))[0])
        for mid, q in assign.items()
        if eng.get(mid, (None, None))[0] != q
    ]
    assert not mismatches, f"winner mismatches: {mismatches[:10]}"

    oracle_pairs = pairs_from_assignment(assign, bk)
    groups = defaultdict(list)
    for mid in assign:
        q, cid = eng.get(mid, (None, None))
        if q is not None:
            groups[(cid, bk[mid])].append(mid)
    eng_pairs = set()
    for ms in groups.values():
        ms.sort()
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                eng_pairs.add((ms[i], ms[j]))
    m = pairwise_f1(eng_pairs, oracle_pairs)
    assert m["f1"] >= 0.99, m


def test_golden_clusters_without_broadcast(spark, tables, fixture_paths):
    """The non-broadcast path (functions/joins.py policy): with
    autoBroadcastJoinThreshold=-1 every join without an F.broadcast hint
    takes its shuffle form — the 100x-scale physical plan. Winners must be identical
    to the oracle either way (join strategy must never change results)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = pipeline.run(
            spark,
            tables["documents"],
            tables["pem"],
            tables["entity_meta"],
            tables["entity_embeddings"],
            tables["human_qcodes"],
        ).collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    g, pem_d, meta_d, emb_d, hq, doc_spans, mentions = _oracle_inputs(fixture_paths)
    assign = resolve_mentions(mentions, pem_d, meta_d, emb_d, hq, doc_spans)
    eng = {r.mention_id: r.qcode for r in out}
    mismatches = [
        (mid, q, eng.get(mid)) for mid, q in assign.items() if eng.get(mid) != q
    ]
    assert not mismatches, f"winner mismatches (shuffle-join plan): {mismatches[:10]}"


def test_span_invariant_through_pipeline(spark, tables):
    # the pipeline never rewrites documents; assert the distributed checker
    # agrees (and that a perturbed frame fails)
    spans.assert_span_invariant(tables["documents"], tables["documents"])


def test_distributed_eval_matches_local(spark, tables, fixture_paths):
    out = pipeline.run(
        spark,
        tables["documents"],
        tables["pem"],
        tables["entity_meta"],
        tables["entity_embeddings"],
        tables["human_qcodes"],
    )
    gold = tables["gold_mentions"]
    m = pipeline.evaluate(
        out.join(gold.select("mention_id"), "mention_id", "left_semi"), gold
    )
    # engine vs generator-truth: high but far from 1.0 by design — the
    # fixture shares surnames across entities, and a dictionary+prior rule
    # (like the reference without its transformer) resolves ambiguous
    # surname-only mentions to the popular entity. The hard gate is vs the
    # oracle above (exact semantic parity), not vs generator truth.
    assert m["f1"] >= 0.85, m


import pytest


@pytest.mark.parametrize("pass_mentions", [False, True])
def test_fused_scoring_matches_rowjoin_path(spark, fixture_paths, pass_mentions):
    """score_resolve_fused must equal resolve(score_candidates(...)) row
    for row — same winners, same scores to the last ulp — on BOTH attrs
    sources (the per-mention first() fallback with mentions=None, and the
    pipeline's mentions-stage rejoin) and BOTH ctx shapes (doc-level
    frame, per-mention C1 windows)."""
    from refined_spark.operators import coref, pem, scoring, spans
    from refined_spark.plans import pipeline

    load = lambda k: spark.read.parquet(fixture_paths[k])
    docs = load("documents")
    mentions = pipeline.build_mentions(docs)
    cands = pem.candidate_join(mentions, load("pem"), entity_meta=load("entity_meta"))
    merged = coref.propagate_person_coref(
        cands, load("human_qcodes"), entity_meta=load("entity_meta")
    )
    if pass_mentions:  # production shape: per-mention windowed ctx
        ctx = scoring.mention_window_embeddings(docs)
    else:  # legacy doc-level ctx frame must keep working
        ctx = scoring.mention_context_embeddings(spans.doc_text(docs))
    classic = scoring.resolve(
        scoring.score_candidates(merged, load("entity_meta"),
                                 load("entity_embeddings"), ctx)
    )
    fused = scoring.score_resolve_fused(
        merged, load("entity_embeddings"), ctx,
        mentions=mentions if pass_mentions else None,
    )

    cols = ["doc_id", "mention_id", "block_key", "offset", "qcode", "score"]
    a = sorted(tuple(r[c] for c in cols) for r in classic.select(cols).collect())
    b = sorted(tuple(r[c] for c in cols) for r in fused.select(cols).collect())
    assert len(a) == len(b) and a == b


def test_mention_windows_differ_within_doc(spark):
    """C1 golden: two mentions in ONE document must get DIFFERENT context
    embeddings (the pre-C1 doc-level BoW gave them identical vectors), and
    each must equal the oracle's hash of the same +/-k span window —
    including a media span occupying offset space inside one window."""
    from refined_spark.fixtures import hash_embed
    from refined_spark.operators import scoring
    from refined_spark.oracle import mention_window_text

    rows = [("d1", [
        {"kind": "text", "text": "Angela Merkel", "media_ref": "", "offset": 0},
        {"kind": "text", "text": "spoke in Berlin", "media_ref": "", "offset": 14},
        {"kind": "media", "text": "", "media_ref": "img://x", "offset": 30},
        {"kind": "text", "text": "while markets in", "media_ref": "", "offset": 150},
        {"kind": "text", "text": "Paris FC", "media_ref": "", "offset": 300},
    ])]
    docs = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = {
        r["mention_id"]: list(r["ctx_emb"])
        for r in scoring.mention_window_embeddings(docs, k=100).collect()
    }
    text_spans = [(s["offset"], s["text"]) for s in rows[0][1]
                  if s["kind"] == "text" and s["text"]]
    for off in (0, 300):
        expected = hash_embed(mention_window_text(text_spans, off, k=100))
        assert out[f"d1#{off}"] == expected
    assert out["d1#0"] != out["d1#300"]
    # d1#0's window holds the first three text spans; d1#300 only its own+neighbor
    assert mention_window_text(text_spans, 0, 100) == (
        "Angela Merkel spoke in Berlin"
    )
    assert mention_window_text(text_spans, 300, 100) == "Paris FC"


def test_fused_budget_fallback_to_rowjoin(spark, fixture_paths, tables, monkeypatch):
    """An entity table over the fused-path budget must take the row-join
    plan SILENTLY — score_resolve_fused returns None (no driver collect,
    no raise) and pipeline.run still produces correct winners. Exercises
    the 300-d-embeddings-over-budget scenario from a real incident class:
    the old policy estimated bytes with the FIXTURE dim (64), selected
    fused, collected ~1 GB, then crashed on the in-kernel guard."""
    from refined_spark.operators import scoring

    wide = tables["entity_embeddings"].select(
        "qcode", F.flatten(F.array_repeat(F.col("emb"), 5)).alias("emb")
    )  # 5x wider than the fixture dim the old policy assumed
    monkeypatch.setattr(scoring, "EMB_BROADCAST_MAX_BYTES", 1024)

    assert not scoring.fused_policy_ok(wide)
    assert scoring.score_resolve_fused(
        spark.createDataFrame(
            [], "doc_id string, mention_id string, qcode string, "
                "prior double, jw double, lev double, block_key string, "
                "offset int"),
        wide,
        spark.createDataFrame([], "doc_id string, ctx_emb array<double>"),
    ) is None

    out = pipeline.run(
        spark,
        tables["documents"],
        tables["pem"],
        tables["entity_meta"],
        tables["entity_embeddings"],  # original width; budget still 1 KiB
        tables["human_qcodes"],
    )
    assert out.where(F.col("qcode").isNotNull()).count() > 0


def _index_parts():
    from refined_spark.operators import pem

    return {name: value for name, (_, value) in pem._INDEX.items()}


def _lsh_run(spark, t):
    out = pipeline.run(spark, t["documents"], t["pem"], t["entity_meta"],
                       t["entity_embeddings"], t["human_qcodes"], lsh_blocking=True)
    rows = sorted(tuple(r) for r in out.select(
        "mention_id", "qcode", "score", "cluster_id").collect())
    pipeline.release_cache()
    return rows


def test_dictionary_index_built_once_per_dictionary(spark, tables):
    """A second run over the same dictionary reuses every index part (the
    same persisted frames and broadcast) and gives the same output."""
    first = _lsh_run(spark, tables)
    parts = _index_parts()
    assert {"labels", "dictionary"} <= parts.keys()
    assert any(n.startswith("banded") for n in parts)
    assert any(n.startswith("entity matrix") and v is not None for n, v in parts.items())
    assert _lsh_run(spark, tables) == first
    after = _index_parts()
    assert after.keys() == parts.keys()
    assert all(after[n] is parts[n] for n in parts)


def test_dictionary_index_follows_its_inputs(spark, tables, fixture_paths, tmp_path):
    """A dictionary with different rows, and a pem parquet rewritten at the
    same path, each rebuild the index: the run matches one from a fresh
    index, and differs from the run over the old dictionary."""
    import os
    import shutil

    import pyarrow.compute as pc

    from refined_spark.operators import pem

    base = _lsh_run(spark, tables)
    old = _index_parts()
    even = F.length("surface_form") % 2 == 0
    fewer = dict(tables, pem=tables["pem"].where(even))
    got = _lsh_run(spark, fewer)
    assert _index_parts()["dictionary"] is not old["dictionary"]
    assert got != base
    pem.drop_index()
    assert _lsh_run(spark, fewer) == got

    path = str(tmp_path / "pem.parquet")
    tables["pem"].write.parquet(path)
    before = dict(tables, pem=spark.read.parquet(path))
    assert _lsh_run(spark, before) == base
    # rewritten by another writer (a Spark overwrite would also refresh
    # Spark's own caches of the path): same path, so the same plan hash
    shutil.rmtree(path)
    os.makedirs(path)
    t = pq.read_table(fixture_paths["pem"])
    t = t.filter(pc.equal(pc.bit_wise_and(pc.utf8_length(t["surface_form"]), 1), 0))
    pq.write_table(t, os.path.join(path, "part-00000.parquet"))
    after = dict(tables, pem=spark.read.parquet(path))
    assert after["pem"].semanticHash() == before["pem"].semanticHash()
    rewritten = _lsh_run(spark, after)
    assert rewritten == got
    pem.drop_index()
    assert _lsh_run(spark, after) == rewritten


def test_dictionary_index_survives_a_new_spark_context(fixture_paths):
    """Stop the session and start a new one in the same process (a second
    SparkContext in the same JVM): the run must rebuild the index in the
    live context, not reuse frames bound to the stopped one."""
    import json
    import os
    import subprocess
    import sys

    script = """
import json, sys
from refined_spark.plans import pipeline
from refined_spark.session import get_spark

paths = json.loads(sys.argv[1])

def run():
    spark = get_spark(master="local[2]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    t = {k: spark.read.parquet(p) for k, p in paths.items()}
    out = pipeline.run(spark, t["documents"], t["pem"], t["entity_meta"],
                       t["entity_embeddings"], t["human_qcodes"], lsh_blocking=True)
    rows = sorted(tuple(r) for r in out.select("mention_id", "qcode", "score").collect())
    spark.stop()
    return rows

first, second = run(), run()
assert first and first == second, "runs in two contexts differ"
print("SAME", len(first))
"""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g",
               PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])))
    proc = subprocess.run(
        [sys.executable, "-c", script, json.dumps(fixture_paths)],
        cwd=root, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "SAME" in proc.stdout
