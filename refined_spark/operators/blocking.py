"""Blocking channel (b): MinHash-LSH over mention character n-grams
(north star: "candidate blocking via alias/surface-form dictionary hash
keys PLUS MinHash-LSH on mention n-grams").

The exact-normalization channel (pem.candidate_join, J1) misses surfaces
the dictionary spells differently (typos, stray punctuation, diacritic
variants the normalizer cannot reconcile). This channel bands a MinHash
signature of each mention's char-k-shingles and equi-joins it against the
banded dictionary surface forms: mentions and surfaces sharing any band
become candidate pairs, verified with exact shingle Jaccard before the
dictionary's candidates are attached.

Scale shape (the whole point — no pairwise comparison ever happens
outside a shared band):
  - dictionary side: |surfaces| x bands rows, a part of the dictionary
    index (pem.banded_surfaces): built once per dictionary and shared by
    every run over it, like the flat dictionary's string features;
  - mention side: bands explode only mentions that MISSED the exact join
    (typically a small fraction);
  - the band equi-join is a plain shuffle/broadcast join; hot bands (very
    common shingle patterns) are bounded by band width, and the band key
    can be salted exactly like the alias key if a real corpus degenerates.

Signatures come from the engine's one MinHash kernel
(hashing.minhash_table, the mapInArrow that dedup's document signatures
also run); band keys are hashing.band_hashes_col, the same definition
dedup bands with. Determinism: the md5-based MinHash family from
functions/hashing.py — no RNG state anywhere (SURVEY.md §7.4.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from refined_spark.functions.hashing import banded_rows, char_shingles_col

# persisted intermediates of the two-channel fallback join, released via
# release_cache() — same contract as pipeline (the storeless analog
# of the snapshot a StageStore run would commit between the channels).
# Callers that need per-run release (e.g. the pipeline's eager release
# after a candidates snapshot commit) pass their own cache_registry to
# candidate_join_with_lsh_fallback instead of touching this global, so a
# concurrent storeless run in the same SparkSession keeps its caches.
_PERSISTED: list = []


def release_cache() -> None:
    """Unpersist every intermediate this module cached. Call after the
    candidates frame is materialized downstream."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


def lsh_candidate_join(
    mentions: DataFrame,
    pem: DataFrame,
    k: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    entity_meta: DataFrame | None = None,
) -> DataFrame:
    """Fuzzy blocking join: mentions (doc_id, mention_id, block_key, offset)
    -> candidate rows (doc_id, mention_id, block_key, offset, qcode,
    prior[, jw]) via LSH band match between the mention's block_key and a
    dictionary surface form, Jaccard-verified at >= jaccard_threshold.

    Intended for the EXACT-MISS mentions (filter upstream with a left-anti
    join against the dictionary, or post-hoc on null qcode) and unioned
    with pem.candidate_join output; each candidate keeps the matched
    surface's dictionary prior.

    Output is deduplicated to ONE row per (mention_id, qcode): two distinct
    surface forms can both band-match and Jaccard-verify for the same
    mention, and downstream scoring assumes the one-row contract — the
    max-prior surface wins (tie: max Jaccard, then surface string).

    The jw feature is recomputed against the MENTION's block_key, not
    inherited from the dictionary: the indexed dictionary (pem.dictionary)
    scores jaro_winkler(surface_form, label), and for a fuzzy match
    block_key != surface_form — a typo'd mention must not inherit the clean
    surface's near-perfect jw (it would inflate its score and NIL
    decisions; the oracle defines jw on the block_key). The surviving LSH
    tail is small, so this extra string-kernel pass is negligible.

    No broadcast hints: banded surfaces are |surfaces| x bands rows and the
    flat dictionary is dictionary-scale — AQE decides (functions/joins.py)."""
    from refined_spark.operators import pem as pem_ops

    flat = pem_ops.dictionary(pem, entity_meta).select(
        "surface_form", "qcode", "prior", "rank"
    )
    s_banded = pem_ops.banded_surfaces(pem, k, num_hashes, bands)

    mention_cols = list(mentions.columns)
    # banding and the Jaccard verify are functions of the BLOCK KEY alone,
    # so they run once per distinct key, not once per mention: mentions
    # sharing a key (common on real corpora and ~2x on the bench tail)
    # would otherwise each pay the signature kernel, the band join AND the
    # per-pair shingle intersect. Verified (block_key, surface) pairs
    # rejoin the mention set afterwards — the same (mention, surface)
    # pair set as banding every mention row, by construction.
    # explicit repartition after the distinct: AQE coalesces the few-MB
    # key exchange to ~1 partition by bytes, which would run the signature
    # kernel for every key on one core (the round-6 pattern:
    # expensive compute downstream of a tiny exchange needs explicit
    # width, not byte-derived width)
    keys = (
        mentions.select("block_key").distinct()
        .repartition(mentions.sparkSession.sparkContext.defaultParallelism)
    )
    k_banded = banded_rows(keys, "block_key", k, num_hashes, bands)

    key_pairs = (
        k_banded.join(s_banded, ["band_id", "band_hash"])
        .select("block_key", "surface_form")
        .distinct()
    )

    # exact shingle-Jaccard verification (cheap: only banded pairs)
    sh_m = F.array_distinct(char_shingles_col(F.col("block_key"), k))
    sh_s = F.array_distinct(char_shingles_col(F.col("surface_form"), k))
    inter = F.size(F.array_intersect(sh_m, sh_s)).cast("double")
    union = F.size(F.array_union(sh_m, sh_s)).cast("double")
    verified_keys = key_pairs.withColumn("_jac", inter / union).where(
        F.col("_jac") >= jaccard_threshold
    )
    verified = mentions.join(verified_keys, "block_key")

    cand = verified.join(flat, "surface_form")
    extra = ["prior", "rank"]
    best = F.max_by(
        F.struct(*[F.col(c) for c in extra]),
        F.struct(F.col("prior"), F.col("_jac"), F.col("surface_form")),
    )
    deduped = (
        cand.groupBy(*mention_cols, "qcode")
        .agg(best.alias("_b"))
        .select(
            *mention_cols, "qcode", *[F.col(f"_b.{c}").alias(c) for c in extra]
        )
    )
    if entity_meta is None:
        return deduped
    return pem_ops.string_features(deduped, "block_key", entity_meta).select(
        *mention_cols, "qcode", *extra, "jw", "lev"
    )


def candidate_join_with_lsh_fallback(
    mentions: DataFrame,
    pem: DataFrame,
    entity_meta: DataFrame | None = None,
    cache_registry: list | None = None,
    **lsh_kwargs,
) -> DataFrame:
    """Two-channel blocking: exact alias join first; mentions with no exact
    dictionary hit fall back to the LSH channel. Exact hits never pay the
    fuzzy path, and the union keeps one row per (mention, qcode) with the
    exact channel winning.

    Both channel outputs are persisted (released via release_cache): the
    exact frame feeds three subtrees of the final plan (hits, the missed
    set inside the fuzzy channel, the missed set behind the still-null
    anti-join) and the fuzzy frame feeds two (its mention_id set and the
    union). Spark does no common-subexpression reuse across a self-union,
    so without a snapshot between the channels each subtree — including
    the dictionary string-kernel pass and the band join — re-executes
    once per consumer. A StageStore run gets the same cut for free from
    its committed candidates snapshot; persist is the storeless analog
    (same contract as the pipeline's mentions persist).

    cache_registry: where the two persist handles are registered. Default
    is the module list drained by release_cache(); a caller that wants to
    release exactly the frames THIS call created (and not a concurrent
    run's) passes its own list and unpersists it itself."""
    from refined_spark.operators.pem import candidate_join

    registry = _PERSISTED if cache_registry is None else cache_registry
    exact = candidate_join(mentions, pem, entity_meta=entity_meta).persist()
    registry.append(exact)
    mention_cols = list(mentions.columns)
    missed = exact.where(F.col("qcode").isNull()).select(*mention_cols)
    fuzzy = lsh_candidate_join(
        missed, pem, entity_meta=entity_meta, **lsh_kwargs
    ).persist()
    registry.append(fuzzy)
    hits = exact.where(F.col("qcode").isNotNull())
    # mentions that stay missed in BOTH channels keep their null row
    null_typed = {
        "qcode": "string", "prior": "double", "rank": "int",
        "jw": "double", "lev": "double",
    }
    still_null = missed.join(
        fuzzy.select("mention_id").distinct(), "mention_id", "left_anti"
    ).select(
        *mention_cols,
        *[
            F.lit(None).cast(null_typed[c]).alias(c)
            for c in hits.columns
            if c in null_typed
        ],
    )
    cols = hits.columns
    return hits.unionByName(fuzzy.select(*cols)).unionByName(
        still_null.select(*cols)
    )
