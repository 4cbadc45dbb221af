"""Similarity search over an embedding column (array<float>).

Paths:
  - brute-force cosine top-k: exact baseline. JVM-side dot products
    (zip_with/aggregate) after a broadcast of the query set; per-item top-k
    via window rank (Catalyst rewrites rank<=k into a group-limit, no full
    sort).
  - LSH-bucketed (random hyperplane signatures): the data-oblivious scale
    path. Each vector gets a b-bit signature from fixed seeded hyperplanes;
    candidates share a signature bucket (optionally multi-probe neighboring
    buckets), then exact cosine re-rank inside buckets. At 10^9+ vectors
    the bucket join replaces the O(N*Q) scan.
  - IVF (inverted-file) top-k: the data-ADAPTIVE scale path — coarse
    centroids sampled deterministically from the corpus, one cell per
    vector, queries probe their n_probe nearest cells. Cells follow the
    corpus density where hyperplane buckets are fixed a priori.
  - embedding near-dup: all pairs above a cosine threshold within buckets.

Deterministic: hyperplanes derive from the md5-based LCG (functions/hashing),
never numpy RNG state.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from refined_spark.functions.hashing import _lcg
from refined_spark.functions.similarity import dot_col, l2_norm_col, round6_half_up


def cosine_topk_bruteforce(
    vectors: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", emb_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query: (query_id, vec_id, cos, rank).
    queries: (query_id, embedding). The query side broadcasts; the corpus
    scan is embarrassingly parallel; rank<=k is a per-group limit."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(emb_col).alias("q_emb")
    )
    v = vectors.select(F.col(id_col).alias("vec_id"), F.col(emb_col).alias("v_emb"))
    # the query set is a user-provided small dim (bounded by the caller,
    # not the corpus) — a plan-time broadcast hint is safe by contract
    scored = v.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.round(
            dot_col(F.col("q_emb"), F.col("v_emb"))
            / (l2_norm_col(F.col("q_emb")) * l2_norm_col(F.col("v_emb"))),
            6,
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def hyperplanes(dim: int, bits: int, seed: int = 0xA11CE) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG-driven, unit entries)."""
    planes = []
    s = seed
    for _ in range(bits):
        row = []
        for _ in range(dim):
            s = _lcg(s)
            row.append(((s >> 16) % 2000 - 1000) / 1000.0 or 0.001)
        planes.append(row)
    return planes


def lsh_signature_col(emb: Column, planes: list[list[float]]) -> Column:
    """b-bit random-hyperplane signature as an int column (JVM-side)."""
    sig = F.lit(0)
    for i, p in enumerate(planes):
        d = dot_col(emb, F.array(*[F.lit(float(x)) for x in p]))
        sig = sig + F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return sig.cast("long")


def lsh_probe_buckets_col(emb: Column, planes: list[list[float]],
                          probes: int) -> Column:
    """Array of `probes` bucket ids for multi-probe LSH: the vector's own
    bucket first, then the buckets reached by flipping the signature bit
    whose hyperplane margin |dot| is smallest (the bits most likely to
    differ for a true neighbour — classic multi-probe ordering). Pure JVM:
    per-plane dots, one array_sort over (|margin|, bit) structs, flips by
    xor. Runs on the QUERY side only, which is small by contract.

    Margins are rounded to 6 dp BEFORE the sort (mirrored in the DuckDB
    oracle): the engine folds the dot product left-to-right while an
    oracle may use a different accumulation order, so a floating-point
    near-tie between two plane margins could order the flip bits
    differently on the two sides; after rounding, ties fall to the
    deterministic bit index that array_sort compares next."""
    ds = [
        dot_col(emb, F.array(*[F.lit(float(x)) for x in p])) for p in planes
    ]
    sig = F.lit(0)
    for i, d in enumerate(ds):
        sig = sig + F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0))
    sig = sig.cast("long")
    if probes <= 1:
        return F.array(sig)
    margins = F.array_sort(
        F.array(
            *[
                F.struct(F.round(F.abs(d), 6).alias("m"), F.lit(i).alias("i"))
                for i, d in enumerate(ds)
            ]
        )
    )
    # shiftleft needs a plan-time int for the shift amount; index a literal
    # power-of-two array instead (element_at is 1-based)
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(len(planes))])
    flips = F.transform(
        F.slice(margins, 1, probes - 1),
        lambda s: sig.bitwiseXOR(F.element_at(powers, s["i"] + 1)),
    )
    return F.concat(F.array(sig), flips)


def cosine_topk_lsh(
    vectors: DataFrame, queries: DataFrame, dim: int, k: int = 10, bits: int = 8,
    id_col: str = "vec_id", emb_col: str = "embedding",
    query_id_col: str = "query_id", probes: int = 1,
) -> DataFrame:
    """IVF/LSH-bucketed ANN: exact re-rank within the query's bucket(s).
    Recall < 1 by construction; bits trades recall vs bucket size, and
    probes > 1 (multi-probe) additionally searches the probes-1 buckets
    whose signature differs in one low-margin bit — recall approaches
    brute force at probes ~ bits without shrinking bucket granularity.
    Probed buckets are distinct and each corpus vector lives in exactly
    one bucket, so no (query, vec) pair is scored twice.

    `dim` is required: plan construction must never run a Spark job, and a
    first()/collect() probe to sniff the embedding width would compute the
    vector table in the driver before the real query starts."""
    planes = hyperplanes(dim, bits)
    v = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(emb_col).alias("v_emb"),
        lsh_signature_col(F.col(emb_col), planes).alias("bucket"),
    )
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        F.explode(
            lsh_probe_buckets_col(F.col(emb_col), planes, probes)
        ).alias("bucket"),
    )
    scored = v.join(F.broadcast(q), "bucket").select(
        "query_id",
        "vec_id",
        F.round(
            dot_col(F.col("q_emb"), F.col("v_emb"))
            / (l2_norm_col(F.col("q_emb")) * l2_norm_col(F.col("v_emb"))),
            6,
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_topk(
    vectors: DataFrame, queries: DataFrame, k: int = 10, n_cells: int = 16,
    n_probe: int = 2, id_col: str = "vec_id", emb_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF (inverted-file) ANN: data-adaptive coarse quantization, the
    classic alternative to the data-oblivious hyperplane LSH above. Cells
    follow the corpus distribution — dense regions get many cells, empty
    regions none — where fixed hyperplanes waste buckets on empty space.

      1. coarse centroids: the n_cells corpus vectors with the smallest
         md5(vec_id) — a deterministic uniform sample (md5 is the repo's
         cross-engine hash), sort-limited (TakeOrderedAndProject: no
         global sort materializes). A k-means refinement would drop in
         here; the sampled quantizer keeps the plan one job and is the
         standard bootstrap (it IS k-means iteration zero).
      2. assignment: every corpus vector joins the broadcast centroid dim
         (n_cells rows by contract) and keeps its max-cosine cell —
         rank<=1 window, which Catalyst executes as a group-limit.
      3. probing: each query keeps its n_probe highest-cosine cells, then
         equi-joins the corpus assignment on cell — at 10^9+ vectors this
         inverted-list join replaces the O(N*Q) scan, touching only
         ~n_probe/n_cells of the corpus per query.
      4. exact cosine re-rank inside the probed cells, row_number <= k.

    Each corpus vector lives in exactly one cell and probed cells are
    distinct, so no (query, vec) pair is scored twice — at n_probe ==
    n_cells the result is exactly brute force (tested). Cosines round to
    6 dp before every rank so float near-ties break on the deterministic
    id in both engines."""
    cent = (
        vectors.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(n_cells)
        .select(F.col(id_col).alias("cent_id"), F.col(emb_col).alias("c_emb"))
    )
    cos_to_cent = F.round(
        dot_col(F.col("emb"), F.col("c_emb"))
        / (l2_norm_col(F.col("emb")) * l2_norm_col(F.col("c_emb"))),
        6,
    )
    cell_rank = Window.partitionBy("_id").orderBy(
        F.desc("ccos"), F.asc("cent_id")
    )

    def assign(df: DataFrame, df_id: str, keep: int) -> DataFrame:
        scored = (
            df.select(F.col(df_id).alias("_id"), F.col(emb_col).alias("emb"))
            .crossJoin(F.broadcast(cent))
            .select("_id", "emb", "cent_id", cos_to_cent.alias("ccos"))
        )
        return (
            scored.withColumn("_r", F.row_number().over(cell_rank))
            .where(F.col("_r") <= keep)
            .select("_id", "emb", F.col("cent_id").alias("cell"))
        )

    v = assign(vectors, id_col, 1).select(
        F.col("_id").alias("vec_id"), F.col("emb").alias("v_emb"), "cell"
    )
    q = assign(queries, query_id_col, n_probe).select(
        F.col("_id").alias("query_id"), F.col("emb").alias("q_emb"), "cell"
    )
    scored = v.join(F.broadcast(q), "cell").select(
        "query_id",
        "vec_id",
        F.round(
            dot_col(F.col("q_emb"), F.col("v_emb"))
            / (l2_norm_col(F.col("q_emb")) * l2_norm_col(F.col("v_emb"))),
            6,
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


_GRAM_BLOCK = 4096  # rows per Gram prefilter block (memory bound, not tuning)


def _neardup_bucket_kernel(threshold: float, dim: int):
    """applyInPandas kernel for one LSH bucket: all-pairs cosine >= threshold.

    BLAS computes a prefilter Gram matrix (sum order differs from the
    engine's left-to-right fold only by ~1e-15); survivors of
    `approx >= threshold - 1e-6` are recomputed EXACTLY with
    dimension-ordered accumulation — vectorized across pairs, sequential
    across dims, which is bit-for-bit the fold dot_col/l2_norm_col compute
    (same float->double casts, same add order) — then rounded HALF_UP like
    Spark's round(_, 6). The margin is ~9 orders of magnitude wider than
    the worst fp discrepancy, so no qualifying pair can be lost.

    Memory is bounded: the Gram prefilter runs in row blocks of
    _GRAM_BLOCK, so the kernel holds O(block x bucket) floats, never the
    full bucket^2 matrix — a 10^5-vector bucket costs ~3 GB transient per
    block instead of an 80 GB triangle."""
    import pandas as pd

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pdf["vec_id"][:0], "id_b": pdf["vec_id"][:0],
                              "cos": pd.Series([], dtype="float64")})
        # rows the JVM plan drops via null/ragged -> null cosine
        ok = pdf["emb"].map(lambda e: e is not None and len(e) == dim)
        pdf = pdf[ok]
        n = len(pdf)
        if n < 2:
            return empty
        pdf = pdf.sort_values("vec_id")  # ids ascending -> i<j gives id_a <= id_b
        ids = pdf["vec_id"].to_numpy()
        X = np.array([np.asarray(e, dtype=np.float64) for e in pdf["emb"]])
        n2 = np.zeros(n)
        for j in range(dim):  # dim-ordered: bit-exact with l2_norm_col
            n2 += X[:, j] * X[:, j]
        norm = np.sqrt(n2)
        cand_a, cand_b = [], []
        for b0 in range(0, n, _GRAM_BLOCK):
            b1 = min(b0 + _GRAM_BLOCK, n)
            with np.errstate(divide="ignore", invalid="ignore"):
                approx = (X[b0:b1] @ X.T) / np.outer(norm[b0:b1], norm)
            ri, cj = np.nonzero(approx >= threshold - 1e-6)
            upper = cj > ri + b0  # strictly upper triangle, global indices
            cand_a.append(ri[upper] + b0)
            cand_b.append(cj[upper])
        ai = np.concatenate(cand_a) if cand_a else np.array([], dtype=np.int64)
        bi = np.concatenate(cand_b) if cand_b else np.array([], dtype=np.int64)
        if len(ai) == 0:
            return empty
        A, B = X[ai], X[bi]
        dot = np.zeros(len(ai))
        for j in range(dim):  # dim-ordered: bit-exact with dot_col
            dot += A[:, j] * B[:, j]
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dot / (norm[ai] * norm[bi])
        rounded = np.array([round6_half_up(c) for c in cos])
        # strict id_a < id_b like the JVM join condition (duplicate ids
        # would otherwise pair with themselves after the positional triu)
        keep = (rounded >= threshold) & (ids[ai] < ids[bi])
        return pd.DataFrame({"id_a": ids[ai[keep]], "id_b": ids[bi[keep]],
                             "cos": rounded[keep]})

    return kernel


_ROTATION_SEED = 0xA11CE


def rotation_planes(dim: int, bits: int, rotation: int) -> list[list[float]]:
    """Plane set for rotation r — rotation 0 IS the default single-rotation
    set (seed 0xA11CE), so multi-rotation recall is a strict superset."""
    return hyperplanes(dim, bits, seed=_ROTATION_SEED + rotation)


def embedding_near_dups(
    vectors: DataFrame, dim: int, threshold: float = 0.95, bits: int = 6,
    id_col: str = "vec_id", emb_col: str = "embedding", rotations: int = 1,
) -> DataFrame:
    """All pairs with cosine >= threshold, blocked by random-hyperplane LSH
    bucket. `dim` is required for the same no-job-at-plan-time reason as
    cosine_topk_lsh.

    rotations=1 blocks on one plane set: pairs straddling a bucket
    boundary are missed (the standard single-rotation recall trade).
    rotations=r > 1 is the recall path for dedup at scale: each vector is
    bucketed under r INDEPENDENT plane sets (deterministic seeds, rotation
    0 == the single-rotation set), candidate pairs are the union over
    rotations, and a near-dup is missed only if it straddles a boundary in
    EVERY rotation — miss probability decays geometrically in r (for a
    pair at angle θ, P[miss] = (1 - (1 - θ/π)^bits)^r). Cost shape is
    unchanged: r bucket rows per vector (constant blow-up), equi-join per
    (rotation, bucket) — never a cross join — one distinct on the pair
    ids, then one join back to the embeddings for the exact cosine."""
    v0 = vectors.select(
        F.col(id_col).alias("vec_id"), F.col(emb_col).alias("emb")
    )
    cos = lambda: F.round(
        dot_col(F.col("emb_a"), F.col("emb_b"))
        / (l2_norm_col(F.col("emb_a")) * l2_norm_col(F.col("emb_b"))),
        6,
    ).alias("cos")
    if rotations <= 1:
        # One applyInPandas kernel per bucket group replaces the old
        # bucket self-join whose interpreted higher-order-function cosine
        # ran TWICE per candidate pair (join condition + project) — the
        # all-pairs Gram matrix is one BLAS call per bucket, and only the
        # ~|output| survivors pay the bit-exact fold recompute. Ships
        # |corpus| skinny rows across the Python boundary, never pairs.
        v = v0.select(
            "vec_id", "emb",
            lsh_signature_col(F.col("emb"), rotation_planes(dim, bits, 0)).alias("bucket"),
        )
        id_t = v0.schema["vec_id"].dataType.simpleString()
        return v.groupBy("bucket").applyInPandas(
            _neardup_bucket_kernel(threshold, dim),
            schema=f"id_a {id_t}, id_b {id_t}, cos double",
        )
    rbs = F.array(
        *[
            F.struct(
                F.lit(r).alias("rot"),
                lsh_signature_col(
                    F.col("emb"), rotation_planes(dim, bits, r)
                ).alias("bucket"),
            )
            for r in range(rotations)
        ]
    )
    vb = v0.select("vec_id", F.explode(rbs).alias("rb")).select(
        "vec_id", F.col("rb.rot").alias("rot"), F.col("rb.bucket").alias("bucket")
    )
    pa_ = vb.select(F.col("vec_id").alias("id_a"), "rot", "bucket")
    pb_ = vb.select(F.col("vec_id").alias("id_b"), "rot", "bucket")
    pairs = (
        pa_.join(pb_, ["rot", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    ea = v0.select(F.col("vec_id").alias("id_a"), F.col("emb").alias("emb_a"))
    eb = v0.select(F.col("vec_id").alias("id_b"), F.col("emb").alias("emb_b"))
    return (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .select("id_a", "id_b", cos())
        .where(F.col("cos") >= threshold)
    )
