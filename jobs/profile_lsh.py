"""Split the er_pipeline_lsh premium (BENCH_r04: 14.0 s vs fused 8.6 s)
into its parts: band explode, band join + Jaccard verify, and the jw/lev
recompute tail (blocking.py lsh_candidate_join's final pandas-UDF pass).

Method: on the standard bench corpus, materialize successive prefixes of
the two-channel blocking plan (each prefix timed warm, min of `reps`),
so consecutive deltas charge one plan region:

  exact        pem.candidate_join alone (the shared channel)
  s_banded     banding the dictionary surfaces
  pairs        + banding missed mentions + band equi-join + distinct
  verified     + shingle-Jaccard filter
  dedup_nojw   lsh channel WITHOUT the jw/lev recompute (entity_meta=None
               on the attach side => no feature columns, no final UDF)
  full         candidate_join_with_lsh_fallback (everything)

Usage: python jobs/profile_lsh.py [reps] -> one JSON line +
jobs/profile_lsh_result.json.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("REFINED_SPARK_TMPFS_SHUFFLE", "1")

from bench import ensure_er_corpus, materialize, _unpersist_all  # noqa: E402
from refined_spark.session import get_spark  # noqa: E402

RESULT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "profile_lsh_result.json")


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 3

    from pyspark.sql import functions as F

    from refined_spark.functions.hashing import banded_rows, char_shingles_col
    from refined_spark.functions.joins import maybe_broadcast
    from refined_spark.operators import blocking, pem
    from refined_spark.plans import pipeline

    corpus = ensure_er_corpus()
    spark = get_spark(app_name="profile_lsh", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    load = lambda k: spark.read.parquet(f"{corpus}/{k}.parquet")

    docs = load("documents")
    if docs.rdd.getNumPartitions() < 32:
        docs = docs.repartition(32)
    pem_df, meta = load("pem"), load("entity_meta")

    # stable parquet inputs (not persist): _unpersist_all between reps
    # would otherwise drop them and bill their recompute to later bodies
    work = "/dev/shm/profile_lsh"
    import shutil
    shutil.rmtree(work, ignore_errors=True)
    pipeline.build_mentions(docs).write.parquet(f"{work}/mentions.parquet")
    mentions = spark.read.parquet(f"{work}/mentions.parquet")
    pem.candidate_join(mentions, pem_df, entity_meta=meta).write.parquet(
        f"{work}/exact.parquet")
    exact = spark.read.parquet(f"{work}/exact.parquet")

    k, num_hashes, bands = 3, 8, 4
    flat = pem.pem_flat(pem_df)
    missed = exact.where(F.col("qcode").isNull()).select(*mentions.columns)
    surfaces = flat.select("surface_form").distinct()
    s_banded = banded_rows(surfaces, "surface_form", k, num_hashes, bands)
    # round-6 plan shape: banding + verify run per DISTINCT block key
    # (functions of the key alone), then rejoin the mention set
    keys = missed.select("block_key").distinct().repartition(32)
    k_banded = banded_rows(keys, "block_key", k, num_hashes, bands)
    key_pairs = (k_banded.join(maybe_broadcast(s_banded),
                               ["band_id", "band_hash"])
                 .select("block_key", "surface_form").distinct())
    sh_m = F.array_distinct(char_shingles_col(F.col("block_key"), k))
    sh_s = F.array_distinct(char_shingles_col(F.col("surface_form"), k))
    inter = F.size(F.array_intersect(sh_m, sh_s)).cast("double")
    union = F.size(F.array_union(sh_m, sh_s)).cast("double")
    verified_keys = key_pairs.withColumn("_jac", inter / union).where(
        F.col("_jac") >= 0.5)
    pairs = key_pairs.join(missed, "block_key").select(
        *mentions.columns, "surface_form")
    verified = missed.join(verified_keys, "block_key")

    bodies = {
        "exact": lambda: materialize(
            pem.candidate_join(mentions, pem_df, entity_meta=meta)),
        "s_banded": lambda: materialize(s_banded),
        "pairs": lambda: materialize(pairs),
        "verified": lambda: materialize(verified),
        # the lsh channel with NO feature recompute: entity_meta=None means
        # flat carries no jw/lev and the final UDF pass never runs
        "dedup_nojw": lambda: materialize(
            blocking.lsh_candidate_join(missed, pem_df, entity_meta=None)),
        # the full lsh channel including the jw/lev recompute tail
        "lsh_full": lambda: materialize(
            blocking.lsh_candidate_join(missed, pem_df, entity_meta=meta)),
        "fallback_join_full": lambda: materialize(
            blocking.candidate_join_with_lsh_fallback(
                mentions, pem_df, entity_meta=meta, cache_registry=[])),
    }

    out = {}
    # counts give the tail-size context the timings need
    out["n_mentions"] = mentions.count()
    out["n_missed"] = missed.count()
    out["n_pairs"] = pairs.count()
    out["n_verified"] = verified.count()
    for name, body in bodies.items():
        body()  # warm
        _unpersist_all(spark)
        secs = []
        for _ in range(reps):
            t0 = time.time()
            body()
            secs.append(round(time.time() - t0, 2))
            _unpersist_all(spark)
        out[name] = min(secs)
        out[f"{name}_all"] = secs
        print(json.dumps({name: out[name]}), flush=True)

    with open(RESULT, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
