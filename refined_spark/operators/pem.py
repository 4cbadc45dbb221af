"""P(e|m) alias-dictionary operators: the build (A1/A2/A3) and the blocking
join (J1), with explicit skew handling for web scale.

Reference: the PEM table is built by counting (surface, entity) link
evidence and normalizing to priors per surface
(/root/reference/src/refined/offline_data_generation/generate_pem.py:46-170),
then probed as an O(1) dict at inference
(/root/reference/src/refined/doc_preprocessing/candidate_generator.py:62-72).
Distributed, the probe is an equi-join on the normalized surface form; hot
aliases ("england") make that join skew, so the dimension side is small
enough to broadcast at dictionary scales (~18M rows ~ a few GB -> broadcast
per-executor once) and, when it is not, `candidate_join_salted` replicates
the hot keys S ways (SURVEY.md §4(a)).

The module also owns the dictionary index (see below): every table derived
from pem, entity_meta or entity_embeddings alone is built once per
dictionary and shared by all pipeline runs of a session.
"""

from __future__ import annotations

import threading

from pyspark import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from refined_spark.config import MAX_CANDIDATES


def build_pem(link_evidence: DataFrame, max_candidates: int = MAX_CANDIDATES) -> DataFrame:
    """A1 + A2 + A3. Input: link_evidence(surface_form, qcode, cnt) — the
    union of evidence sources (labels, aliases, hyperlinks, titles,
    redirects), already normalized. Output:
    pem(surface_form, candidates array<struct<qcode,prior>> sorted desc,
    len <= max_candidates, priors sum to 1 before truncation.

    Plan shape: one partial+final hash aggregate, one window-free
    normalization via a second aggregate (no shuffle beyond the groupBy —
    the sum-per-surface reuses the same partitioning), then a JVM-side
    sort/slice on the collected array. No Python.
    """
    counts = link_evidence.groupBy("surface_form", "qcode").agg(
        F.sum("cnt").alias("cnt")
    )
    # groupBy(surface_form) reuses the hash-partitioning Catalyst already
    # produced for the previous agg -> no extra shuffle (verified via explain).
    return (
        counts.groupBy("surface_form")
        .agg(
            F.sum("cnt").alias("total"),
            F.collect_list(F.struct("qcode", "cnt")).alias("cands"),
        )
        .select(
            "surface_form",
            F.slice(
                F.array_sort(
                    F.transform(
                        F.col("cands"),
                        lambda c: F.struct(
                            (-c["cnt"] / F.col("total")).alias("neg_prior"),
                            c["qcode"].alias("qcode"),
                        ),
                    )
                ),
                1,
                max_candidates,
            ).alias("sorted_cands"),
        )
        .select(
            "surface_form",
            F.transform(
                F.col("sorted_cands"),
                lambda c: F.struct(
                    c["qcode"].alias("qcode"), (-c["neg_prior"]).alias("prior")
                ),
            ).alias("candidates"),
        )
    )


def pem_flat(pem: DataFrame) -> DataFrame:
    """pem -> (surface_form, qcode, prior, rank) long format."""
    # posexplode_outer: avoids the size()>0 pushdown filter that would
    # duplicate the candidates expression (see queries.q_minhash_signatures)
    return pem.where(F.size("candidates") > 0).select(
        "surface_form", F.posexplode_outer("candidates").alias("pos", "c")
    ).select(
        "surface_form",
        F.col("c.qcode").alias("qcode"),
        F.col("c.prior").alias("prior"),
        (F.col("pos") + 1).alias("rank"),
    )


def qcode_index(pem: DataFrame) -> DataFrame:
    """Operator A4: enumerate every distinct qcode in the dictionary from 1
    (the reference's qcode_to_idx build, preprocess_all.py:101-122 — it
    packs qcodes into tensor row indices). Spark joins on qcode directly so
    this exists only for embedding-matrix packing; the enumeration is a
    zipWithIndex-free window over a sorted distinct set (deterministic,
    unlike monotonically_increasing_id)."""
    from pyspark.sql import Window

    q = pem.select(F.explode("candidates").alias("c")).select(
        F.col("c.qcode").alias("qcode")
    ).distinct()
    return q.withColumn(
        "idx", F.row_number().over(Window.orderBy("qcode"))
    )


# ---- the dictionary index ---------------------------------------------------
# Everything that depends only on the dictionary tables (pem, entity_meta,
# entity_embeddings) is derived here, once per dictionary, and shared by
# every pipeline run of the session: the flat dictionary with its string
# features, the normalized labels, the banded surfaces and the fused
# scorer's entity matrix. Each part is persisted (or broadcast) and
# materialized when first asked for, the way the reference opens its
# lookups once per process and probes them per document
# (loaders.py:151-166). A part is keyed on the live SparkContext and, per
# input, the semantic hash of its plan plus the files it reads with their
# size and modification time: a new context, a dictionary with different
# rows or a table rewritten at the same path all rebuild it, and the
# rebuild releases the entry it replaces. pipeline.release_cache() is
# per-run and leaves the index alone; drop_index() clears it.
_INDEX: dict[str, tuple[tuple, object]] = {}
_INDEX_LOCK = threading.RLock()


def _context_key(sc) -> tuple:
    return (sc.applicationId, sc.startTime)


def _fingerprint(df: DataFrame) -> tuple:
    sc = df.sparkSession.sparkContext
    conf = sc._jsc.hadoopConfiguration()
    files = []
    for f in sorted(df.inputFiles()):
        path = sc._jvm.org.apache.hadoop.fs.Path(f)
        st = path.getFileSystem(conf).getFileStatus(path)
        files.append((f, st.getLen(), st.getModificationTime()))
    return (df.semanticHash(), tuple(files))


def _release(key: tuple, value, live: tuple) -> None:
    # a part of a stopped context died with it: there is nothing to free
    if value is None or key[0] != live:
        return
    if isinstance(value, Broadcast):
        value.destroy()
    else:
        value.unpersist()


def _part(name: str, inputs: list[DataFrame], build):
    """The index part `name` derived from `inputs`: the one already built
    when its key still matches, else `build()`, which replaces it."""
    live = _context_key(inputs[0].sparkSession.sparkContext)
    key = (live, *(_fingerprint(df) for df in inputs))
    with _INDEX_LOCK:
        hit = _INDEX.get(name)
        if hit is not None and hit[0] == key:
            return hit[1]
        if hit is not None:
            _release(*hit, live)
            del _INDEX[name]
        value = build()
        _INDEX[name] = (key, value)
        return value


def drop_index() -> None:
    """Release every dictionary part of the live context and forget all."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    live = _context_key(sc) if sc is not None else None
    with _INDEX_LOCK:
        for key, value in _INDEX.values():
            _release(key, value, live)
        _INDEX.clear()


def _materialized(df: DataFrame) -> DataFrame:
    df = df.persist()
    df.count()
    return df


def normalized_labels(entity_meta: DataFrame) -> DataFrame:
    """Index part: (qcode, norm_label). Labels are normalized with the SAME
    kernel as mentions (normalize_surface_udf, the shared Python/oracle
    kernel) — a split kernel would make engine JW disagree with oracle JW
    on any label outside the builtin approximation's domain (SURVEY
    §7.4.2)."""
    from refined_spark.functions.normalize import normalize_surface_udf

    return _part("labels", [entity_meta], lambda: _materialized(entity_meta.select(
        "qcode", normalize_surface_udf(F.col("label")).alias("norm_label")
    )))


def string_features(df: DataFrame, key_col: str, entity_meta: DataFrame) -> DataFrame:
    """df + (jw, lev): jaro_winkler and normalized levenshtein of
    df[key_col] against the normalized label of df.qcode (empty when the
    entity has no label). Levenshtein is Spark's builtin (JVM/codegen);
    only JW needs the Arrow UDF. North rule: 'batched
    Jaro-Winkler/Levenshtein'."""
    from refined_spark.functions.similarity import jaro_winkler_udf, lev_sim_col

    lbl = F.coalesce(F.col("norm_label"), F.lit(""))
    return (
        df.join(normalized_labels(entity_meta), "qcode", "left")
        .withColumn("jw", jaro_winkler_udf(F.col(key_col), lbl))
        .withColumn("lev", lev_sim_col(F.col(key_col), lbl))
        .drop("norm_label")
    )


def dictionary(pem: DataFrame, entity_meta: DataFrame | None = None) -> DataFrame:
    """The flat dictionary (pem_flat). With entity_meta it is the index part
    that also carries the string-similarity features of (surface_form,
    entity label): they depend only on the pair, so they are DICTIONARY
    attributes, not a per-corpus scoring pass. At 10^12 docs this turns
    10^12 string-kernel evaluations into |dictionary| (~10^8), computed
    once per dictionary."""
    if entity_meta is None:
        return pem_flat(pem)
    return _part("dictionary", [pem, entity_meta], lambda: _materialized(
        string_features(pem_flat(pem), "surface_form", entity_meta)
    ))


def banded_surfaces(pem: DataFrame, k: int, num_hashes: int, bands: int) -> DataFrame:
    """Index part: (surface_form, band_id, band_hash), |surfaces| x bands
    rows — the dictionary side of the LSH blocking channel."""
    from refined_spark.functions.hashing import banded_rows

    def build():
        surfaces = pem_flat(pem).select("surface_form").distinct()
        return _materialized(banded_rows(surfaces, "surface_form", k, num_hashes, bands))

    return _part(f"banded k={k} hashes={num_hashes} bands={bands}", [pem], build)


def entity_matrix(entity_embeddings: DataFrame, max_bytes: int) -> Broadcast | None:
    """Index part: the fused scorer's entity side, broadcast as (qcodes,
    numeric qcodes, float64 matrix, per-entity squared seq-norms) — or
    None when the collected matrix is over max_bytes. Numeric qcodes (the
    oracle's tie-break) are parsed once here, never per candidate row; the
    norms accumulate in the same dimension-sequential fold the oracle
    uses."""
    import numpy as np
    import pandas as pd

    def build():
        pdf = entity_embeddings.select("qcode", "emb").toPandas()
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64) for v in pdf["emb"]], dtype=np.float64
        )
        if mat.size and mat.nbytes > max_bytes:
            return None
        qcodes = pdf["qcode"].to_numpy(dtype=object)
        qnum = pd.to_numeric(
            pdf["qcode"].str.replace("^Q", "", regex=True), errors="coerce"
        ).to_numpy(dtype=np.float64, na_value=np.nan)
        nb2 = np.zeros(len(mat))
        for j in range(mat.shape[1] if mat.size else 0):
            y = mat[:, j]
            nb2 += y * y
        return entity_embeddings.sparkSession.sparkContext.broadcast(
            (qcodes, qnum, mat, nb2)
        )

    return _part(f"entity matrix <= {max_bytes} B", [entity_embeddings], build)


def candidate_join(
    mentions: DataFrame, pem: DataFrame, entity_meta: DataFrame | None = None
) -> DataFrame:
    """J1 — the blocking join. mentions must carry `block_key` (normalized
    surface). Returns one row per (mention, candidate):
    (doc_id, mention_id, block_key, offset, qcode, prior[, jw]).

    The dictionary side carries NO broadcast hint: at reference scale
    (~18M surfaces, top-30 candidates) the flat dictionary is a few GB —
    sometimes broadcastable, sometimes not, and a plan-time hint cannot be
    demoted when it is not. AQE broadcasts it from observed size when it
    fits (under broadcast, mention-side skew on hot aliases is harmless —
    no fact-side shuffle happens at all) and falls back to a shuffle join
    otherwise; for the shuffle case with hot aliases use
    candidate_join_salted. Mentions with no dictionary hit are kept (left
    join) with null qcode — they become NIL downstream, matching the
    reference's empty-candidate path.

    With entity_meta, the jaro-winkler feature rides in on the indexed
    dictionary (see dictionary) so scoring needs no separate string-kernel
    pass."""
    flat = dictionary(pem, entity_meta)
    return mentions.join(
        flat,
        mentions["block_key"] == flat["surface_form"],
        "left",
    ).drop("surface_form")


def candidate_join_salted(
    mentions: DataFrame, pem: DataFrame, salt: int = 8,
    entity_meta: DataFrame | None = None,
) -> DataFrame:
    """J1 at shuffle scale: explicit key salting for when the dictionary is
    too large to broadcast. The fact side appends pmod(hash(mention_id), S)
    to the key; the dimension side is replicated S ways via explode. Same
    output contract as candidate_join."""
    flat = dictionary(pem, entity_meta).withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    m = mentions.withColumn(
        "salt", F.pmod(F.xxhash64("mention_id"), F.lit(salt)).cast("int")
    )
    out = m.join(
        flat,
        (m["block_key"] == flat["surface_form"]) & (m["salt"] == flat["salt"]),
        "left",
    )
    return out.drop("surface_form").drop(flat["salt"]).drop(m["salt"])
