"""Round-6 optimization kernels: every rewritten fast path must equal its
simple formulation row-for-row — the engine-vs-oracle parity test covers
the catalog queries, these cover the operator internals directly. The
block-pair pair operators are checked against brute-force pair sets
computed in Python from values Spark produces, for long and for string
doc ids (the catalog queries only use long ids)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

TEXTS = [
    "the quick brown fox jumps over the lazy dog",
    "the quick brown fox jumps over the lazy cat",
    "pack my box with five dozen liquor jugs",
    "pack my box with five dozen liquor mugs",
    "sphinx of black quartz judge my vow",
    "the quick brown fox jumps over the lazy dog",
    "completely unrelated text about regional trade summits",
    "a b",
    "",
]


def _docs_int(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "doc_id long, text string"
    )


def _docs_str(spark):
    # zero-padded so string sort order == numeric order
    return spark.createDataFrame(
        [(f"d{i:03d}", t) for i, t in enumerate(TEXTS)],
        "doc_id string, text string",
    )


def test_minhash_kernel_equals_sql_reference(spark, minhash_sql):
    """The shared MinHash kernel (run through minhash_signatures) gives
    the exact longs of minhash_sig_sql, the DuckDB reference, over the
    shingles of Spark's normalized text: empty text, text shorter than k,
    repeated shingles, multibyte UTF-8, null text, and a batch of nulls."""
    from refined_spark.operators.dedup import (
        minhash_signatures,
        normalized_text_col,
    )

    texts = TEXTS + ["abc", "zzzzzzzzzzzz", "Ĉé ﬁ 東京 ü 🙂 naïve café", None]
    d = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    norm = sorted(
        (r.doc_id, r.t)
        for r in d.select(
            "doc_id", normalized_text_col(F.col("text")).alias("t")
        ).collect()
    )
    want = dict(zip([i for i, _ in norm],
                    minhash_sql([t for _, t in norm], 5, 8)))
    got = {r.doc_id: r.sig for r in minhash_signatures(d, k=5, num_hashes=8).collect()}
    assert got == want and want[len(texts) - 1] is None

    nulls = spark.createDataFrame([(i, None) for i in range(3)],
                                  "doc_id long, text string")
    sigs = minhash_signatures(nulls, k=5, num_hashes=8).collect()
    assert [r.sig for r in sigs] == [None] * 3


def test_minhash_rejects_more_than_128_hashes_when_planned(spark):
    """num_hashes > 128 would overflow minhash_sig_sql's BIGINT i*h2; the
    kernel refuses it while the plan is built, before any job runs."""
    from refined_spark.operators.dedup import minhash_signatures

    d = _docs_int(spark)
    sc = spark.sparkContext
    sc.setJobGroup("minhash-129", "plan only")
    try:
        with pytest.raises(ValueError):
            minhash_signatures(d, num_hashes=129)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("minhash-129") == []
    minhash_signatures(d, num_hashes=128)  # the bound itself plans


def _pairs_sharing_a_key(keys_by_doc):
    """Brute force: every (a, b), a < b, whose key sets intersect."""
    return {
        (a, b)
        for a, ka in keys_by_doc.items()
        for b, kb in keys_by_doc.items()
        if a < b and ka & kb
    }


@pytest.mark.parametrize("corpus", [_docs_int, _docs_str],
                         ids=["long", "string"])
def test_lsh_pairs_equal_brute_force(spark, corpus):
    """lsh_candidate_pairs == all pairs sharing a (band_id, band_hash)
    bucket, computed in Python from the band hashes Spark produces —
    for long and for string doc ids."""
    from refined_spark.functions.hashing import band_hashes_col
    from refined_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(corpus(spark), k=5, num_hashes=8)
    keys = {
        r.doc_id: {(b, h) for b, h in enumerate(r.bh)}
        for r in sigs.select(
            "doc_id", band_hashes_col(F.col("sig"), 4, 8).alias("bh")
        ).collect()
    }
    want = _pairs_sharing_a_key(keys)
    got = [(r.doc_a, r.doc_b)
           for r in lsh_candidate_pairs(sigs, bands=4, num_hashes=8).collect()]
    assert len(got) == len(set(got))  # distinct, as documented
    assert set(got) == want and want  # non-vacuous: duplicate texts pair up


@pytest.mark.parametrize("df_cap", [None, 2])
@pytest.mark.parametrize("corpus", [_docs_int, _docs_str],
                         ids=["long", "string"])
def test_ngram_pairs_equal_brute_force(spark, corpus, df_cap):
    """ngram_jaccard_pairs == Jaccard over per-doc gram sets collected
    from Spark, after dropping every gram whose document frequency
    exceeds df_cap — for long and for string doc ids."""
    from collections import Counter

    from refined_spark.functions.hashing import (
        split_tokens_col,
        token_shingles_from_tokens_col,
    )
    from refined_spark.functions.similarity import round6_half_up
    from refined_spark.operators.dedup import (
        ngram_jaccard_pairs,
        normalized_text_col,
    )

    d = corpus(spark)
    gram_sets = {
        r.doc_id: set(r.grams)
        for r in d.select(
            "doc_id",
            token_shingles_from_tokens_col(
                split_tokens_col(normalized_text_col(F.col("text"))), 3
            ).alias("grams"),
        ).collect()
    }
    dfreq = Counter(g for gs in gram_sets.values() for g in gs)
    kept = {
        doc: {g for g in gs if df_cap is None or dfreq[g] <= df_cap}
        for doc, gs in gram_sets.items()
    }
    want = {}
    for a, b in _pairs_sharing_a_key(kept):
        jacc = len(kept[a] & kept[b]) / len(kept[a] | kept[b])
        if jacc >= 0.3:
            want[(a, b)] = round6_half_up(jacc)
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(d, n=3, threshold=0.3,
                                     df_cap=df_cap).collect()
    }
    assert got == want and want


def test_ngram_block_kernel_df_cap(spark):
    """df_cap semantics survive the block kernel: a gram above the cap
    drops out of every doc's set (numerator AND denominator)."""
    from refined_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, "shared boilerplate prefix unique%d tail" % i) for i in range(5)]
        + [(10, "shared boilerplate prefix unique0 tail")],
        "doc_id long, text string",
    )
    uncapped = {(r.doc_a, r.doc_b): r.jaccard
                for r in ngram_jaccard_pairs(docs, n=3, threshold=0.0,
                                             df_cap=None).collect()}
    capped = {(r.doc_a, r.doc_b): r.jaccard
              for r in ngram_jaccard_pairs(docs, n=3, threshold=0.0,
                                           df_cap=5).collect()}
    # the boilerplate gram shared by 6 docs exceeds cap 5 and disappears;
    # the (0, 10) exact-duplicate pair must survive on its unique grams
    assert (0, 10) in capped
    assert capped != uncapped


def test_pair_accumulator_chunked_equals_single_flush():
    """The bounded-memory consolidation path (chunk smaller than the
    emission volume -> several flush+merge rounds) must produce the exact
    unique pair set / counts of one big lexsort."""
    from refined_spark.operators.dedup import _PairAccumulator

    rng = np.random.RandomState(3)
    a = rng.randint(0, 50, size=20_000).astype(np.int64)
    b = rng.randint(0, 50, size=20_000).astype(np.int64)
    for counts in (False, True):
        one = _PairAccumulator(counts=counts, chunk=10**9)
        one.add(a, b)
        many = _PairAccumulator(counts=counts, chunk=1_000)
        for i in range(0, len(a), 777):
            many.add(a[i:i + 777], b[i:i + 777])
        r1, r2 = one.result(), many.result()
        assert all(np.array_equal(x, y) for x, y in zip(r1, r2)), counts


def test_round6_half_up_matches_spark_round(spark):
    from refined_spark.functions.similarity import round6_half_up

    vals = [0.3499995, 0.34999949999, 0.1234565, 0.1234575, 1.0000005,
            -0.3499995, 0.35, 0.9999999999, 1e-7, 5e-7, -5e-7,
            float("nan"), 123.45678949999999]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    want = [r.y for r in df.select(F.round("x", 6).alias("y")).collect()]
    got = [round6_half_up(v) for v in vals]
    for g, w in zip(got, want):
        assert (g == w) or (np.isnan(g) and np.isnan(w)), (g, w)


def test_neardup_kernel_equals_join_formulation(spark):
    """The bucketed GEMM kernel must reproduce the old join plan's pairs
    and cosines exactly (threshold low enough to emit many pairs)."""
    from refined_spark.functions.similarity import dot_col, l2_norm_col
    from refined_spark.operators.ann import (
        embedding_near_dups,
        lsh_signature_col,
        rotation_planes,
    )

    rng = np.random.RandomState(7)
    dim, n = 16, 200
    vecs = rng.randn(n, dim).astype(np.float32)
    vecs[17] = vecs[3] + 0.01 * rng.randn(dim).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    got = {(r.id_a, r.id_b): r.cos
           for r in embedding_near_dups(df, dim=dim, threshold=0.2,
                                        bits=3).collect()}

    v = df.select(
        F.col("vec_id"), F.col("embedding").alias("emb"),
        lsh_signature_col(F.col("embedding"),
                          rotation_planes(dim, 3, 0)).alias("bucket"),
    )
    a = v.select(F.col("vec_id").alias("id_a"), F.col("emb").alias("emb_a"), "bucket")
    b = v.select(F.col("vec_id").alias("id_b"), F.col("emb").alias("emb_b"), "bucket")
    cos = F.round(
        dot_col(F.col("emb_a"), F.col("emb_b"))
        / (l2_norm_col(F.col("emb_a")) * l2_norm_col(F.col("emb_b"))),
        6,
    ).alias("cos")
    want = {
        (r.id_a, r.id_b): r.cos
        for r in a.join(b, "bucket").where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos).where(F.col("cos") >= 0.2).collect()
    }
    assert got == want and len(got) > 20


def test_fingerprint_long_equals_decimal(spark):
    from refined_spark.functions.text import fingerprint_col, tokens_col

    d = _docs_int(spark).where(F.col("text") != "")

    def old_fingerprint(text):
        toks = tokens_col(text)
        idx = F.sequence(F.lit(0), F.size(toks) - 1)
        powers = F.array(*[F.lit(31**j).cast("decimal(38,0)") for j in range(8)])
        terms = F.zip_with(
            toks, idx,
            lambda t, i: (
                F.conv(F.substring(F.md5(t), 1, 14), 16, 10).cast("decimal(38,0)")
                * F.element_at(powers, (i % 8) + 1)
            ),
        )
        total = F.aggregate(terms, F.lit(0).cast("decimal(38,0)"),
                            lambda acc, v: acc + v)
        return (total % F.lit(1 << 60)).cast("long")

    got = {r.doc_id: r.fp
           for r in d.select("doc_id", fingerprint_col(F.col("text")).alias("fp")).collect()}
    want = {r.doc_id: r.fp
            for r in d.select("doc_id", old_fingerprint(F.col("text")).alias("fp")).collect()}
    assert got == want
