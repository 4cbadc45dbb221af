"""Dedup operators: exact, MinHash-LSH end-to-end, SimHash, n-gram Jaccard."""

import pyspark.sql.functions as F
import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy dog again and again tonight"
OTHER = "completely different content about spark shuffles and parquet files"


def test_exact_duplicates(spark):
    from refined_spark.operators.dedup import exact_duplicates

    d = _docs(spark, [("a", BASE), ("b", "  THE quick   brown fox jumps over the lazy dog again and again today "),
                      ("c", OTHER), ("d", BASE)])
    groups = exact_duplicates(d).collect()
    assert len(groups) == 1
    g = groups[0]
    assert g.n_dups == 3 and g.keeper == "a" and g.doc_ids == ["a", "b", "d"]


def test_minhash_lsh_finds_near_dups(spark):
    from refined_spark.operators.dedup import (
        jaccard_verify,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    d = _docs(spark, [("a", BASE), ("b", NEAR), ("c", OTHER)])
    sigs = minhash_signatures(d, k=5, num_hashes=32)
    pairs = lsh_candidate_pairs(sigs, bands=8)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert ("a", "b") in got
    verified = jaccard_verify(pairs, d, k=5, threshold=0.6).collect()
    assert {(r.doc_a, r.doc_b) for r in verified} == {("a", "b")}
    assert all(0.6 <= r.jaccard <= 1.0 for r in verified)


def test_minhash_signature_is_deterministic(spark):
    from refined_spark.operators.dedup import minhash_signatures

    d = _docs(spark, [("a", BASE)])
    s1 = minhash_signatures(d, num_hashes=8).collect()[0].sig
    s2 = minhash_signatures(d, num_hashes=8).collect()[0].sig
    assert s1 == s2 and len(s1) == 8


def test_near_dup_clusters(spark):
    from refined_spark.operators.dedup import near_dup_clusters

    d = _docs(
        spark,
        [("a", BASE), ("b", NEAR), ("c", OTHER),
         ("d", BASE + " extra"), ("e", "unrelated text about nothing at all here")],
    )
    cl = near_dup_clusters(d, threshold=0.6).collect()
    by_cluster = {}
    for r in cl:
        by_cluster.setdefault(r.cluster_id, set()).add(r.doc_id)
    clusters = sorted(sorted(v) for v in by_cluster.values())
    assert ["a", "b", "d"] in clusters
    flat = {x for v in by_cluster.values() for x in v}
    assert "c" not in flat and "e" not in flat


def test_simhash_matches_python_kernel(spark):
    """The Arrow kernel (simhash_table) is bit-exact with the pure-Python
    reference kernel at BOTH widths (16-bit low-bits subset and the full
    signed 64-bit value, including the bit-63 sign handling)."""
    from refined_spark.functions.hashing import simhash64_py
    from refined_spark.operators.dedup import simhash_table

    rows = [("a", BASE), ("b", NEAR), ("c", OTHER),
            ("d", "Zz " * 40 + "qq")]  # repeated tokens: vote magnitudes > 1
    d = _docs(spark, rows)
    h16 = {r.doc_id: r.simhash for r in simhash_table(d, num_bits=16).collect()}
    h64 = {r.doc_id: r.simhash for r in simhash_table(d, num_bits=64).collect()}
    got = {i: (h16[i], h64[i]) for i in h64}
    for doc_id, text in rows:
        toks = " ".join(text.lower().split()).split(" ")
        full = simhash64_py(toks)
        assert got[doc_id][1] == full
        assert got[doc_id][0] == full & ((1 << 16) - 1)


def test_simhash_64bit_resolves_16bit_collisions(spark):
    """At web scale a 16-bit simhash space (65,536 buckets) is
    collision-dominated: 100k distinct synthetic docs MUST collide
    (pigeonhole), turning 'same hash' into noise. The 64-bit default keeps
    every distinct doc distinct at the same corpus size — the reason
    num_bits=64 is the default for simhash_table/simhash_pairs."""
    from refined_spark.operators.dedup import simhash_table

    n = 100_000
    # deterministic diverse docs: 8 md5-derived pseudo-words per doc
    tok = lambda j: F.substring(F.md5(F.concat_ws("_", F.col("id").cast("string"), F.lit(str(j)))), 1, 10)
    d = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[tok(j) for j in range(8)]).alias("text"),
    )
    h16 = simhash_table(d, num_bits=16).select(F.col("simhash").alias("h16"))
    h64 = simhash_table(d, num_bits=64).select(F.col("simhash").alias("h64"))
    agg = (
        h16.agg(F.countDistinct("h16").alias("d16")).crossJoin(
            h64.agg(F.countDistinct("h64").alias("d64"))
        ).collect()[0]
    )
    assert agg.d16 <= 1 << 16  # pigeonhole: massively collided
    assert agg.d16 < n
    assert agg.d64 == n  # 2^64 space: zero collisions among 10^5 docs


def test_ngram_jaccard_pairs(spark):
    from refined_spark.operators.dedup import ngram_jaccard_pairs

    d = _docs(spark, [("a", BASE), ("b", NEAR), ("c", OTHER)])
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.5).collect()
    assert {(r.doc_a, r.doc_b) for r in pairs} == {("a", "b")}


def test_lsh_hot_bucket_cap_bounds_degenerate_corpus(spark):
    """A boilerplate corpus (every doc identical) puts all docs in one
    bucket per band: uncapped that is O(n^2) pairs; with bucket_cap the
    job completes with ZERO pairs and the dropped volume is reported via
    the Observation — no silent caps."""
    from pyspark.sql import Observation

    from refined_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    n = 50
    docs = spark.createDataFrame(
        [(f"d{i:03d}", "the same boilerplate footer text " * 4) for i in range(n)],
        "doc_id string, text string",
    )
    sigs = minhash_signatures(docs, k=5, num_hashes=8)
    obs = Observation("lsh_cap_test")
    pairs = lsh_candidate_pairs(sigs, bands=4, num_hashes=8,
                                bucket_cap=10, observation=obs)
    assert pairs.count() == 0  # every bucket is hotter than the cap
    # 4 bands x 50 docs = 200 doc-slots, all dropped
    assert obs.get["lsh_dropped_bucket_rows"] == 4 * n

    # a mixed corpus: hot boilerplate plus one true near-dup pair in a
    # calm bucket — the cap must keep the calm pair
    uniq = spark.createDataFrame(
        [("u1", "completely different unique text about regional summits"),
         ("u2", "completely different unique text about regional summit")],
        "doc_id string, text string",
    )
    sigs2 = minhash_signatures(docs.unionByName(uniq), k=5, num_hashes=8)
    pairs2 = lsh_candidate_pairs(sigs2, bands=4, num_hashes=8, bucket_cap=10)
    got = {(r.doc_a, r.doc_b) for r in pairs2.collect()}
    assert got == {("u1", "u2")}


def test_simhash_hot_bucket_cap_bounds_degenerate_corpus(spark):
    """n identical docs share every pigeonhole bucket: uncapped, all
    n(n-1)/2 pairs come back at hamming 0; with bucket_cap every bucket
    is hotter than the cap, no pair comes back, and the Observation
    reports all (radius+1)*n doc-slots as dropped."""
    from pyspark.sql import Observation

    from refined_spark.operators.dedup import simhash_pairs

    n, radius = 30, 3
    docs = spark.createDataFrame(
        [(f"d{i:03d}", "the same boilerplate footer text " * 4) for i in range(n)],
        "doc_id string, text string",
    )
    got = simhash_pairs(docs, radius=radius, bucket_cap=None).collect()
    assert sorted((r.doc_a, r.doc_b, r.hamming) for r in got) == [
        (f"d{a:03d}", f"d{b:03d}", 0) for a in range(n) for b in range(a + 1, n)
    ]

    obs = Observation("simhash_cap_test")
    capped = simhash_pairs(docs, radius=radius, bucket_cap=10, observation=obs)
    assert capped.count() == 0
    assert obs.get["simhash_dropped_bucket_rows"] == (radius + 1) * n


@pytest.mark.parametrize("n_blocks", range(2, 9))
def test_block_pair_ids_are_dense_and_decode(n_blocks):
    """Every block pair (i <= j) gets a distinct id in [0, B(B+1)/2), and
    the driver-side decode list maps the id back to (i, j)."""
    from refined_spark.operators.dedup import _block_pairs, _pair_id

    pairs = _block_pairs(n_blocks)
    n_pairs = n_blocks * (n_blocks + 1) // 2
    ids = {(i, j): _pair_id(i, j, n_blocks)
           for i in range(n_blocks) for j in range(i, n_blocks)}
    assert sorted(ids.values()) == list(range(n_pairs))
    assert all(pairs[p] == ij for ij, p in ids.items())


def test_block_pair_map_one_partition_per_pair(spark):
    """The exchange runs one task per block pair: B(B+1)/2 partitions,
    block pairs one-to-one onto partitions, none empty, and each task
    holds exactly the rows of its two blocks."""
    import pandas as pd
    from pyspark import TaskContext

    from refined_spark.operators.dedup import _block_pair_map, _n_blocks

    nb = _n_blocks(spark)
    rows = spark.range(200).select(F.col("id").alias("doc_id"))

    def process(g, i, j):
        return pd.DataFrame({
            "i": [i], "j": [j], "part": [TaskContext.get().partitionId()],
            "n": [len(g)], "foreign": [int((~g["blk"].isin([i, j])).sum())],
        })

    out = _block_pair_map(rows, process, "i int, j int, part int, n long, foreign long")
    n_pairs = nb * (nb + 1) // 2
    assert out.rdd.getNumPartitions() == n_pairs
    got = out.collect()
    per_block = dict(
        rows.groupBy(F.pmod(F.xxhash64("doc_id"), F.lit(nb)).cast("int"))
        .count().collect()
    )
    assert len(per_block) == nb  # every block holds docs
    assert sorted(r.part for r in got) == list(range(n_pairs))
    assert sorted((r.i, r.j) for r in got) == [
        (i, j) for i in range(nb) for j in range(i, nb)
    ]
    for r in got:
        assert r.foreign == 0
        assert r.n == per_block[r.i] + (per_block[r.j] if r.j != r.i else 0)


@pytest.mark.parametrize("op", ["lsh", "simhash"])
def test_keyed_pairs_evaluate_the_key_kernel_once(spark, op):
    """Bucket sizes come from the pass that computes the keys, so the
    signature (SimHash) Arrow kernel appears once in the physical plan."""
    from refined_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        simhash_pairs,
    )

    d = _docs(spark, [("a", BASE), ("b", NEAR), ("c", OTHER)])
    if op == "lsh":
        df, out_col = lsh_candidate_pairs(minhash_signatures(d)), "sig#"
    else:
        df, out_col = simhash_pairs(d), "simhash#"
    plan = df._jdf.queryExecution().executedPlan().toString()
    kernels = [ln for ln in plan.splitlines()
               if ("MapInArrow" in ln or "MapInPandas" in ln) and out_col in ln]
    assert len(kernels) == 1, plan
