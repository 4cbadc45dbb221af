"""Person-name coreference candidate propagation (operator J4).

Reference semantics (/root/reference/src/refined/doc_preprocessing/
candidate_generator.py:55-92 with backward_coref=True two-pass,
doc_types.py:89-92): within a document, multi-token person mentions donate
their human candidates (prior floor 0.05, donated prior capped at 0.80) to
single-token mentions matching one of their name tokens; donations merge
with direct candidates keeping the best prior per qcode. The two-pass
(backward) variant is order-free, which is exactly what makes it a JOIN:

    donors:    candidates c of mention m, tokens(m.block_key) >= 2,
               c.qcode ∈ human_qcodes, c.prior > 0.05
               -> explode name tokens -> (doc_id, token, qcode, min(prior, 0.8))
               -> groupBy max prior
    receivers: mentions with single-token block_key
               join donors on (doc_id, token = block_key)
    merge:     union direct ∪ donated, groupBy (mention, qcode) max(prior)

Both the donor aggregation and the final merge shuffle on doc_id-prefixed
keys, so skew follows document size, not entity popularity — no salting
needed here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from refined_spark.config import COREF_CAP, COREF_FLOOR
from refined_spark.functions.joins import broadcast_dim, maybe_broadcast

# persisted intermediates (the `donated` cache below), released via
# release_cache() once the coref output is materialized — without this,
# repeated propagate_person_coref calls in one long-lived SparkSession
# (streaming foreachBatch, notebook loops) would accumulate cached RDDs
_PERSISTED: list = []


def release_cache() -> None:
    """Unpersist every intermediate this module cached. Call after the
    coref output has been materialized (snapshot committed / action run);
    plans.pipeline does this automatically."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


def propagate_person_coref(
    candidates: DataFrame,
    human_qcodes: DataFrame,
    mentions: DataFrame | None = None,
    entity_meta: DataFrame | None = None,
) -> DataFrame:
    """candidates: (doc_id, mention_id, block_key, offset, qcode, prior[, jw])
    one row per candidate (qcode may be null for dictionary misses).
    Returns the same shape with donations merged in.

    `mentions` (doc_id, mention_id, block_key, offset), when provided, is
    the pre-fanout mention table — the receiver set comes from it directly
    instead of a distinct() over the (10x larger) candidate fanout.

    When candidates carry a precomputed `jw` column (pem.dictionary's
    string features), donated rows get theirs computed here against
    `entity_meta`'s indexed labels — the donated pair set is tiny, so this
    is the only place the string kernel runs per-corpus."""
    feat = [c for c in ("jw", "lev") if c in candidates.columns]
    has_jw = bool(feat)
    cols = ["doc_id", "mention_id", "block_key", "offset", "qcode", "prior"] + feat
    toks = F.split(F.col("block_key"), " ")

    # only single-token mentions can RECEIVE donations — multi-token rows
    # pass through untouched, so the expensive regroup shuffles only the
    # single-token fraction of the candidate set
    singles = candidates.where(F.size(toks) == 1).select(*cols)
    multis = candidates.where(F.size(toks) != 1).select(*cols)

    donors = (
        multis.where(F.col("qcode").isNotNull())
        .where(F.col("prior") > COREF_FLOOR)
        .join(broadcast_dim(human_qcodes), "qcode", "left_semi")
        .select(
            F.col("doc_id").alias("d_doc_id"),
            F.explode(F.split("block_key", " ")).alias("d_token"),
            F.col("qcode").alias("d_qcode"),
            F.least(F.col("prior"), F.lit(COREF_CAP)).alias("d_prior"),
        )
        .groupBy("d_doc_id", "d_token", "d_qcode")
        .agg(F.max("d_prior").alias("d_prior"))
    )

    if mentions is not None:
        receivers = mentions.where(F.size(toks) == 1).select(
            "doc_id", "mention_id", "block_key", "offset"
        )
    else:
        receivers = singles.select(
            "doc_id", "mention_id", "block_key", "offset"
        ).distinct()

    # no broadcast hint: donors scale with corpus size (doc-keyed) — AQE
    # broadcasts automatically when the build side is actually small
    donated = receivers.join(
        donors,
        (receivers["doc_id"] == donors["d_doc_id"])
        & (receivers["block_key"] == donors["d_token"]),
    ).select(
        "doc_id",
        "mention_id",
        "block_key",
        "offset",
        F.col("d_qcode").alias("qcode"),
        F.col("d_prior").alias("prior"),
    )
    if has_jw:
        if entity_meta is None:
            raise ValueError("candidates carry jw — entity_meta required "
                             "to score donated rows")
        from refined_spark.operators.pem import string_features

        # same normalized labels as the dictionary's features (pem index)
        donated = string_features(donated, "block_key", entity_meta).select(*cols)
    # donated is referenced three times below (mention-id set, union);
    # cache so its subtree (donor agg + receiver join) runs once — it is
    # tiny relative to the candidate fanout (only mentions that actually
    # receive a donation)
    donated = donated.persist()
    _PERSISTED.append(donated)
    # no distinct: semi/anti joins tolerate duplicate build-side keys, so
    # deduping here would only add an aggregate (and its exchange) in front
    # of the broadcast for zero semantic effect
    d_mids = donated.select("mention_id")

    # only mentions that RECEIVED a donation need the regroup — typically a
    # small fraction, so the merge shuffles ~|donated mentions| x candidates
    # instead of the whole single-token fanout. No broadcast hint on d_mids:
    # it is corpus-scale in the worst case; AQE broadcasts it when it is
    # actually small, and a shuffle semi/anti join is still no worse than
    # regrouping everything.
    touched = singles.join(maybe_broadcast(d_mids), "mention_id", "left_semi")
    untouched = singles.join(maybe_broadcast(d_mids), "mention_id", "left_anti")

    # one shuffle on the mention key packs each touched mention's
    # direct+donated candidates into an array; the spurious null row (a
    # mention that HAD no direct candidates but received donations) is
    # dropped array-side in the same pass. This keeps the plan a tree — an
    # anti-join formulation would reference the merge multiple times, and
    # Spark does not common-subexpression-eliminate across union branches.
    cand_fields = ["qcode", "prior"] + feat
    packed = (
        touched.unionByName(donated)
        .groupBy("doc_id", "mention_id", "block_key", "offset")
        .agg(F.collect_list(F.struct(*cand_fields)).alias("cs"))
    )
    nonnull = F.filter(F.col("cs"), lambda x: x["qcode"].isNotNull())
    cleaned = packed.select(
        "doc_id",
        "mention_id",
        "block_key",
        "offset",
        F.when(F.size(nonnull) > 0, nonnull).otherwise(F.col("cs")).alias("cs"),
    )
    # dedupe qcode keeping best prior: explode + re-group — the second
    # groupBy's keys are a superset of the first's, so hash partitioning is
    # already satisfied and Catalyst plans NO additional exchange
    # jw/lev depend only on (block_key, qcode), so within the group every
    # row carries the same value — max() is just a pick
    aggs = [F.max("c.prior").alias("prior")] + [
        F.max(f"c.{c}").alias(c) for c in feat
    ]
    merged = (
        cleaned.select(
            "doc_id", "mention_id", "block_key", "offset", F.explode("cs").alias("c")
        )
        .groupBy("doc_id", "mention_id", "block_key", "offset", F.col("c.qcode").alias("qcode"))
        .agg(*aggs)
    )
    return multis.unionByName(untouched).unionByName(merged)
