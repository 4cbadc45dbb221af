"""Pairwise mention-candidate scoring + resolution (operators C2/C4/C5/P7).

Replaces the reference's ED layer (/root/reference/src/refined/
model_components/entity_disambiguation_layer.py:36-119 and ed_layer_2.py:
61-132) with the north rule's classical features:

    score = W_PRIOR * prior
          + W_JW    * jaro_winkler(block_key, normalized entity label)
          + W_LEV   * lev_sim(block_key, normalized entity label)
          + W_COS   * max(cosine(mention_context_emb, entity_emb), 0)

  (lev_sim = normalized Levenshtein, Spark's builtin JVM kernel — the
  north rule's 'Jaro-Winkler/Levenshtein' pair, F11)

- The entity side arrives via one hash join to entity_meta/entity_embeddings
  (J8 — the distributed analog of the reference's memmap row gather,
  data_lookups.py:37-42).
- jaro_winkler is an Arrow pandas UDF (functions/similarity.py).
- cosine stays JVM-side (zip_with/aggregate fold) so engine and oracle
  accumulate in the same order.
- mention context embedding (C1): deterministic hashed bag-of-words of the
  text spans within +/-CTX_WINDOW of the mention's span offset — the
  distributed analog of the reference's per-mention token-window pooling
  (refined_model.py:345-380) — computed once per MENTION in an Arrow
  pandas UDF, then joined (never recomputed per candidate). Two mentions
  in one doc get different embedding evidence.
- Resolution (C5 + P7): argmax via max_by over a tie-broken sort key; NIL
  when best score < ED_THRESHOLD — the variable-length-array equivalent of
  the reference's pad-to-30 + (-1e8 mask) + 0-logit NOTA
  (SURVEY.md §7.4.4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType

from refined_spark.config import ED_THRESHOLD, W_COS, W_JW, W_LEV, W_PRIOR
from refined_spark.fixtures import hash_embed_batch
from refined_spark.functions.similarity import cosine_seq_udf
from refined_spark.operators import pem


@pandas_udf(ArrayType(DoubleType()))
def doc_embed_udf(text: pd.Series) -> pd.Series:
    """Arrow-batched doc-context featurizer (the engine's stand-in for the
    reference's transformer mention encoding, refined_model.py:345-380).
    Whole-batch numpy scatter-add (hash_embed_batch) — no per-row Python in
    the hot path; bit-identical to the scalar hash_embed oracle."""
    mat = hash_embed_batch(text.tolist())
    return pd.Series(list(mat))


def mention_context_embeddings(doc_text_df: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, ctx_emb array<double>). DOC-level context
    — used by the typing stage (doc types are document properties). The
    scoring cosine uses the per-MENTION windows below (C1)."""
    return doc_text_df.select(
        "doc_id", doc_embed_udf(F.col("text")).alias("ctx_emb")
    )


def mention_window_embeddings(
    documents: DataFrame, k: int | None = None
) -> DataFrame:
    """documents -> (doc_id, mention_id, ctx_emb): per-mention context
    embedding over the +/-k span window (C1 — reference refined_model.py:
    345-380 pools per-mention token windows; the old doc-level hashed BoW
    gave every mention in a doc identical embedding evidence).

    Each span's tokens are hashed ONCE per document, not once per window
    it appears in: adjacent windows overlap, so the naive plan (assemble
    window text JVM-side, hash each window — spans.mention_window_texts +
    doc_embed_udf) re-hashes every span ~|window|/|span-gap| times
    (profiled at ~5x the token work, the single largest cost in the
    pipeline). Here a mapInArrow kernel hashes all spans of an Arrow
    batch in one scatter-add (hash_embed_batch, unnormalized), builds one
    batch-wide offset-sorted prefix-sum matrix, and reads every window off
    as pre[hi] - pre[lo] with two searchsorted calls. Bit-exact with the
    hash-the-window-text plan AND the oracle: pre-norm elements are sums
    of ±1/±0.5 token contributions (multiples of 0.5 — exactly
    representable, order-independent), so cumsum/difference lose nothing,
    and the final norm is the same np.linalg.norm over an exact vector.
    Scale shape: one narrow scan of (doc_id, spans), zero joins, zero
    shuffles — output partitioning inherits the scan."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from refined_spark.config import CTX_WINDOW

    kk = k if k is not None else CTX_WINDOW
    out_schema = pa.schema(
        [
            ("doc_id", pa.string()),
            ("mention_id", pa.string()),
            ("ctx_emb", pa.list_(pa.float64())),
        ]
    )
    # doc-major composite sort/search key: (doc_index << 40) + offset. Doc
    # character offsets are far below 2^40 and doc_index is a within-batch
    # row number, so the key is collision-free and window queries clamped to
    # [doc_base, doc_base + offset ± k] can never cross a document boundary.
    _SHIFT = np.int64(1) << 40

    def kernel(batches):
        # Arrow-native end-to-end (mapInArrow): the nested spans column is
        # flattened with Arrow buffer arithmetic — never materialized as
        # per-row Python dicts — and the output embeddings leave as ONE flat
        # float64 buffer wrapped in a ListArray. The mapInPandas version of
        # this kernel spent most of its time creating Python objects
        # (spans as dict lists in, win.tolist() floats out: ~280M PyFloats
        # per corpus pass at bench scale), which also triggered the 32-worker
        # allocator/TLB pathology this sandbox documents in BENCH.md.
        for rb in batches:
            tbl = pa.Table.from_batches([rb])
            spans = tbl.column("spans").combine_chunks()
            n_docs = len(spans)
            if n_docs == 0:
                continue
            # list offsets are ABSOLUTE positions into spans.values (they are
            # not rebased for sliced arrays) — so all per-span work below uses
            # absolute indices into `vals`, never flatten()'s rebased copy
            list_offs = spans.offsets.to_numpy().astype(np.int64)
            base, end = int(list_offs[0]), int(list_offs[-1])
            if end == base:
                continue
            vals = spans.values
            sizes = np.diff(list_offs)
            doc_idx = np.repeat(np.arange(n_docs, dtype=np.int64), sizes)
            kind = vals.field("kind")
            text = vals.field("text")
            offset = vals.field("offset")
            keep = pc.fill_null(
                pc.and_kleene(
                    pc.equal(kind, "text"),
                    pc.and_kleene(
                        pc.is_valid(text), pc.greater(pc.utf8_length(text), 0)
                    ),
                ),
                False,
            ).to_numpy(zero_copy_only=False).astype(bool)
            rel = np.nonzero(keep[base:end])[0]
            if rel.size == 0:
                continue
            sel = rel + base
            off_np = (
                offset.to_numpy(zero_copy_only=False).astype(np.int64)[sel]
            )
            d_np = doc_idx[rel]
            # doc-major, offset-ascending order (the old per-doc sort)
            order = np.lexsort((off_np, d_np))
            sel = sel[order]
            off_np = off_np[order]
            d_np = d_np[order]
            sel_pa = pa.array(sel)
            texts = pc.take(text, sel_pa).to_pylist()  # tokens need Python
            mat = hash_embed_batch(texts, normalize=False)
            dim = mat.shape[1]
            m = len(sel)
            # ONE global prefix sum; per-doc windows come out as pre[hi] -
            # pre[lo] with lo/hi from searchsorted on the composite key.
            # Every element is a multiple of 0.5 (exactly representable), so
            # the cross-doc cumsum + difference is bit-exact with the old
            # per-doc cumsum and with the oracle's window sums.
            pre = np.empty((m + 1, dim), dtype=np.float64)
            pre[0] = 0.0
            np.cumsum(mat, axis=0, out=pre[1:])
            combo = d_np * _SHIFT + off_np
            lo = np.searchsorted(combo, d_np * _SHIFT + np.maximum(off_np - kk, 0),
                                 side="left")
            hi = np.searchsorted(combo, d_np * _SHIFT + off_np + kk, side="right")
            win = pre[hi]
            win -= pre[lo]
            norms = np.linalg.norm(win, axis=1, keepdims=True)
            np.divide(win, norms, out=win, where=norms > 0)

            doc_ids = tbl.column("doc_id").combine_chunks()
            d_pa = pa.array(d_np)
            out_doc = pc.take(doc_ids, d_pa)
            out_mid = pc.binary_join_element_wise(
                out_doc, pc.cast(pa.array(off_np), pa.string()), "#"
            )
            # ListArray carries int32 offsets, so one output batch can hold
            # at most 2^31 flat floats — emit in row slices under that
            # ceiling instead of failing on pyarrow's unsafe-cast check for
            # a huge input batch (one slice in practice; the loop only
            # splits when kept-span count x dim crosses 2^31)
            rows_cap = max(1, ((1 << 31) - 8) // dim)
            for s0 in range(0, m, rows_cap):
                s1 = min(s0 + rows_cap, m)
                emb = pa.ListArray.from_arrays(
                    pa.array(np.arange(s1 - s0 + 1, dtype=np.int64) * dim,
                             pa.int32()),
                    pa.array(win[s0:s1].reshape(-1)),
                )
                yield pa.RecordBatch.from_arrays(
                    [out_doc.slice(s0, s1 - s0), out_mid.slice(s0, s1 - s0),
                     emb],
                    schema=out_schema,
                )

    return documents.select("doc_id", "spans").mapInArrow(
        kernel, "doc_id string, mention_id string, ctx_emb array<double>"
    )


def score_candidates(
    candidates: DataFrame,
    entity_meta: DataFrame,
    entity_embeddings: DataFrame,
    ctx_emb: DataFrame,
) -> DataFrame:
    """candidates(doc_id, mention_id, block_key, offset, qcode, prior[, jw])
    -> + (jw, cos, score). Null-qcode rows (dictionary misses) score null
    and resolve to NIL downstream.

    When candidates already carry jw (precomputed on the dictionary by
    pem.dictionary — the at-scale path), no string-kernel pass runs here.
    Otherwise jw is computed once per DISTINCT (block_key, qcode) pair and
    hash-joined back (orders of magnitude fewer Python-UDF rows than
    per-candidate).

    No broadcast hints on emb/meta/jw_tbl: the entity-embedding table is
    33.8M x 300 floats (~40-80 GB) at reference scale and jw_tbl is
    corpus-sized distinct pairs — a hard hint is not demotable and OOMs at
    100x (functions/joins.py policy); AQE still broadcasts them at sandbox
    scale from observed sizes."""
    emb = entity_embeddings.select(
        "qcode", F.col("emb").cast("array<double>").alias("ent_emb")
    )
    # per-mention windows (C1) join on mention_id; a doc-level ctx frame
    # (no mention_id column) still works and joins on doc_id
    ctx_key = "mention_id" if "mention_id" in ctx_emb.columns else "doc_id"
    ctx_emb = ctx_emb.select(ctx_key, "ctx_emb")

    if "jw" in candidates.columns:
        scored = candidates.join(emb, "qcode", "left").join(
            ctx_emb, ctx_key, "left"
        )
    else:
        pairs = (
            candidates.where(F.col("qcode").isNotNull())
            .select("block_key", "qcode")
            .distinct()
        )
        jw_tbl = pem.string_features(pairs, "block_key", entity_meta).select(
            "block_key", "qcode", "jw", "lev"
        )
        scored = (
            candidates.join(jw_tbl, ["block_key", "qcode"], "left")
            .join(emb, "qcode", "left")
            .join(ctx_emb, ctx_key, "left")
        )
    # Arrow-vectorized cosine kernel (north rule: "embedding cosine pandas
    # UDFs, no per-row Python"); bit-exact with the oracle's seq_dot/seq_norm
    # — and ~10x faster than the interpreted zip_with/aggregate fold this
    # replaced (profiled at 67s -> <7s for 10M candidate rows on 8 cores)
    cos = cosine_seq_udf(F.col("ctx_emb"), F.col("ent_emb"))
    return (
        scored.withColumn("cos", cos)
        .withColumn(
            "score",
            F.when(F.col("qcode").isNull(), F.lit(None)).otherwise(
                F.lit(W_PRIOR) * F.col("prior")
                + F.lit(W_JW) * F.col("jw")
                + F.lit(W_LEV) * F.col("lev")
                + F.lit(W_COS) * F.greatest(F.col("cos"), F.lit(0.0))
            ),
        )
        .drop("ent_emb", "ctx_emb")
    )


# winners emitted by the fused kernel; the full resolved row re-attaches
# (block_key, offset, doc_id) from the mentions stage afterwards
WINNERS_SCHEMA = "mention_id string, qcode string, score double"

# collecting the entity-embedding table to the driver (for the fused
# broadcast-matrix kernel) is allowed up to this many bytes; beyond it the
# row-join path (score_candidates + resolve) is the only safe plan — at
# reference scale (33.8M x 300 fp16 ~ 20 GB) a driver gather would OOM,
# exactly like the hard broadcast hints this engine already refuses.
EMB_BROADCAST_MAX_BYTES = 256 * 1024 * 1024


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate for df — NO Spark job runs.
    For file sources this is the on-disk byte count (filter/column-pruned
    when CBO stats exist); for local relations the row-count x schema
    default sizes; unknown plans return spark.sql.defaultSizeInBytes
    (Long.MaxValue), which any budget comparison treats as 'too big' — the
    safe direction, since the caller falls back to the row-join plan."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def fused_policy_ok(entity_embeddings: DataFrame) -> bool:
    """True when the entity-embedding table is plausibly small enough for
    the fused driver-collect path. Pure plan-statistics check — replaces the
    old `count() * fixtures.EMB_DIM * 8` probe, which (a) ran a Spark job
    inside plan construction and (b) hard-coded the FIXTURE embedding width,
    under-estimating any real-width table. The 2x slack absorbs parquet
    compression (on-disk bytes < float64 matrix bytes); the kernel's own
    post-collect guard catches the residual error and falls back."""
    return plan_size_bytes(entity_embeddings) <= 2 * EMB_BROADCAST_MAX_BYTES


def score_resolve_fused(
    merged: DataFrame,
    entity_embeddings: DataFrame,
    ctx_emb: DataFrame,
    threshold: float = ED_THRESHOLD,
    num_buckets: int | None = None,
    mentions: DataFrame | None = None,
) -> DataFrame | None:
    """Fused scoring + resolution for DICTIONARY-SCALE entity sets: one
    cogrouped Arrow stage replaces the per-candidate embedding join, the
    per-candidate ctx join, the cosine UDF pass, and the resolve shuffle.

    Why: the row-join plan ships TWO dim-wide double arrays through Arrow
    for every candidate row (~1 KB/row; profiled 40+ GB at 33.8M
    candidates) — memory-bandwidth-bound, which is precisely what stops an
    N->4N core scale-up (compute quadruples, the memory bus does not).
    Here the per-row payload is just ids + 3 feature doubles (~10x less):

      - candidates and context embeddings are co-partitioned on a
        doc-hash bucket (pmod(xxhash64(doc_id), B)) and cogrouped — each
        ctx vector crosses the wire ONCE per stage (once per mention with
        the C1 per-mention windows; once per doc for a doc-level ctx
        frame), not once per candidate;
      - the entity matrix rides in as a SparkContext broadcast (float64,
        with per-entity seq-norms precomputed in the same dim-sequential
        fold the oracle uses), collected once per entity table as a part
        of the dictionary index (pem.entity_matrix) — guarded by
        EMB_BROADCAST_MAX_BYTES, the same size-aware policy as
        functions/joins.py;
      - cosine accumulates dimension-by-dimension (vectorized across rows)
        — bit-identical to cosine_seq_udf and the oracle's seq_dot;
      - the C5 argmax + P7 threshold run inside the kernel (every
        candidate of a mention is in its doc's bucket), so the stage emits
        resolved winners directly — no second shuffle.

    Output == resolve(score_candidates(...)) exactly (tested row-for-row).

    The doc-bucket exchange ships a SLIM candidate row — (doc_id,
    mention_id, qcode, prior, jw, lev) — never the mention attributes
    (block_key, offset): those rejoin the per-mention WINNERS (10-30x
    fewer rows) afterwards, from `mentions` when given (the pipeline's
    materialized mentions stage — zero extra work) or from a per-mention
    first() aggregation of `merged` otherwise. On this sandbox's
    IOPS-throttled disk the exchange is the scoring stage's hardest
    scaling bound, and at 100 TB the same bytes are the network bill.

    Returns None — NEVER raises — when the entity table is over the
    fused-path budget: first from the plan-statistics pre-check (no
    collect happens at all), then from a post-collect guard on the actual
    matrix bytes in case the estimate was low. Callers fall back to
    score_candidates + resolve.
    """
    spark = merged.sparkSession
    nb = num_buckets or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # per-mention ctx (C1 windows) keys on mention_id; a doc-level ctx frame
    # keys on doc_id — either way the ctx rows bucket by doc_id so they land
    # with their candidates
    ctx_join_key = "mention_id" if "mention_id" in ctx_emb.columns else "doc_id"

    if not fused_policy_ok(entity_embeddings):
        return None
    bc = pem.entity_matrix(entity_embeddings, EMB_BROADCAST_MAX_BYTES)
    if bc is None:
        return None
    w_prior, w_jw, w_lev, w_cos = W_PRIOR, W_JW, W_LEV, W_COS

    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = pa.schema(
        [("mention_id", pa.string()), ("qcode", pa.string()),
         ("score", pa.float64())]
    )

    def _list_to_matrix(col, n_rows: int, dim: int) -> np.ndarray:
        """list<double> column -> (n_rows, dim) float64, zero-copy when the
        lists are dense and uniform; rows that are null or mis-sized
        zero-fill (same contract as the old per-row path)."""
        if n_rows == 0 or dim == 0:
            return np.zeros((max(n_rows, 1), max(dim, 1)))
        arr = col.combine_chunks()
        if arr.null_count == 0:
            offs = arr.offsets.to_numpy()
            if offs[-1] - offs[0] == n_rows * dim and np.all(
                np.diff(offs) == dim
            ):
                vals = arr.values.to_numpy(zero_copy_only=False)
                return vals[offs[0]:offs[-1]].reshape(n_rows, dim)
        return np.asarray(
            [np.asarray(v, dtype=np.float64)
             if v is not None and len(v) == dim else np.zeros(dim)
             for v in arr.to_pylist()],
            dtype=np.float64,
        )

    def kernel(mtb: pa.Table, ctb: pa.Table) -> pa.Table:
        # Arrow-native kernel (applyInArrow): the id columns stay Arrow
        # buffers end-to-end — no object-string materialization, which was
        # ~40% of the per-task time under applyInPandas at 33.8M rows.
        n = mtb.num_rows
        if n == 0:
            return out_schema.empty_table()
        qcodes_, qnum_, mat_, nb2_ = bc.value
        dim = mat_.shape[1] if mat_.size else 0

        qcode_arr = mtb.column("qcode").combine_chunks()
        mention_arr = mtb.column("mention_id").combine_chunks()
        # the argmax grouping below uses dictionary_encode(mention_id)
        # indices; a null mention_id would yield a NaN index that casts to
        # a garbage int64 group code SILENTLY — fail loud instead (mention
        # ids are non-null by construction in spans.extract_mentions)
        if mention_arr.null_count:
            raise ValueError(
                f"{mention_arr.null_count} null mention_id rows reached the "
                "fused scoring kernel"
            )
        qnull = pc.is_null(qcode_arr).to_numpy(zero_copy_only=False)

        # vectorized hash probes (Arrow C++, not per-row Python): entity
        # row and per-bucket ctx row per candidate
        ent_set = pa.array(qcodes_, pa.string())
        e_of_row = pc.fill_null(
            pc.index_in(qcode_arr, value_set=ent_set), -1
        ).to_numpy(zero_copy_only=False).astype(np.int64)
        n_ctx = ctb.num_rows
        if n_ctx:
            ctx_keys = ctb.column("ctx_key").combine_chunks()
            d_of_row = pc.fill_null(
                pc.index_in(mtb.column(ctx_join_key).combine_chunks(),
                            value_set=ctx_keys), -1
            ).to_numpy(zero_copy_only=False).astype(np.int64)
            ctx_mat = _list_to_matrix(ctb.column("ctx_emb"), n_ctx, dim)
        else:
            d_of_row = np.full(n, -1, dtype=np.int64)
            ctx_mat = np.zeros((1, max(dim, 1)))
        valid = (e_of_row >= 0) & (d_of_row >= 0)
        cos = np.zeros(n)
        if valid.any() and dim:
            # Blocked, preallocated cosine: every temporary stays <= ~4 MB
            # and is REUSED across blocks. The naive column-strided loop
            # allocates ~190 multi-MB temporaries per call; glibc serves
            # those via mmap/munmap, and with one worker per core the
            # munmap TLB shootdowns (IPIs to every other core) put the
            # machine at >80% kernel time — measured 330 s/proc at 32
            # procs vs 4.6 s single (see BENCH.md). Blocked+out= runs the
            # identical FLOP schedule from arena-recycled memory: 5 s/proc
            # at 32 procs. Accumulation stays dimension-sequential PER ROW
            # (j ascending, += into the block accumulator), so results are
            # bit-identical to cosine_seq_udf and the oracle's seq_dot.
            ei_all = e_of_row.copy()
            np.clip(ei_all, 0, None, out=ei_all)
            di_all = d_of_row.copy()
            np.clip(di_all, 0, None, out=di_all)
            B = 8192
            xb = np.empty((B, dim))
            yb = np.empty((B, dim))
            db = np.empty(B)
            a2 = np.empty(B)
            tm = np.empty(B)
            den = np.empty(B)
            b2 = np.empty(B)
            for s in range(0, n, B):
                e = min(s + B, n)
                m = e - s
                xm = xb[:m]
                ym = yb[:m]
                np.take(ctx_mat, di_all[s:e], axis=0, out=xm)
                np.take(mat_, ei_all[s:e], axis=0, out=ym)
                dot = db[:m]
                na2 = a2[:m]
                t = tm[:m]
                dot.fill(0.0)
                na2.fill(0.0)
                for j in range(dim):
                    x = xm[:, j]
                    np.multiply(x, ym[:, j], out=t)
                    dot += t
                    np.multiply(x, x, out=t)
                    na2 += t
                dn = den[:m]
                nbb = b2[:m]
                np.take(nb2_, ei_all[s:e], out=nbb)
                np.sqrt(na2, out=na2)
                np.sqrt(nbb, out=nbb)
                np.multiply(na2, nbb, out=dn)
                ok = valid[s:e] & (dn > 0)
                cos[s:e] = np.where(ok, db[:m] / np.where(dn > 0, dn, 1.0), 0.0)

        prior = mtb.column("prior").to_numpy(zero_copy_only=False)
        jw = mtb.column("jw").to_numpy(zero_copy_only=False)
        lev = mtb.column("lev").to_numpy(zero_copy_only=False)
        score = (w_prior * prior + w_jw * jw + w_lev * lev
                 + w_cos * np.maximum(cos, 0.0))
        # dictionary-miss rows (null qcode) must score NaN even though the
        # feature columns might be zero-filled upstream
        miss = ~(e_of_row >= 0)
        score[miss] = np.where(qnull[miss], np.nan, score[miss])

        row_qnum = np.where(e_of_row >= 0, qnum_[np.clip(e_of_row, 0, None)],
                            np.nan)
        # candidates with a real qcode but no embedding row still need the
        # numeric tie-break (classic resolve derives it from the string)
        stray = (e_of_row < 0) & ~qnull
        if stray.any():
            s_strs = pc.take(
                qcode_arr, pa.array(np.nonzero(stray)[0])
            ).to_pandas()
            row_qnum[stray] = pd.to_numeric(
                s_strs.str.replace("^Q", "", regex=True), errors="coerce"
            ).to_numpy(dtype=np.float64, na_value=np.nan)
        # C5 argmax with the oracle's tie-break (max score, then min qnum):
        # one numpy lexsort (last key primary) + first-per-group mask —
        # no pandas sort, no per-row Python. NaN scores sort last, so an
        # all-miss mention keeps its NIL row. Group labels come from
        # Arrow's dictionary_encode (C++), label VALUES don't matter —
        # only per-group contiguity under the sort.
        codes = pc.dictionary_encode(mention_arr).indices.to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        order = np.lexsort((row_qnum, -score, codes))
        first = np.empty(n, dtype=bool)
        first[0:1] = True
        first[1:] = codes[order][1:] != codes[order][:-1]
        pick = order[first]

        sc = score[pick]
        win = sc >= threshold  # P7 threshold (NaN -> False -> NIL)
        pick_pa = pa.array(pick)
        out_qcode = pc.if_else(
            pa.array(win), pc.take(qcode_arr, pick_pa),
            pa.scalar(None, pa.string()),
        )
        out = pa.table({
            "mention_id": pc.take(mention_arr, pick_pa),
            "qcode": out_qcode,
            # from_pandas=True maps NaN -> null, matching the row-join
            # path's null score for all-miss mentions
            "score": pa.array(sc, from_pandas=True),
        })
        return out

    bucket = F.pmod(F.xxhash64("doc_id"), F.lit(nb)).cast("int")
    m = merged.select(
        "doc_id", "mention_id", "qcode", "prior", "jw", "lev"
    ).withColumn("_b", bucket)
    # rename the ctx side: merged and ctx_emb usually share lineage (both
    # derive from `documents`), and cogroup would see ambiguous doc_id refs
    c = ctx_emb.select(
        F.col(ctx_join_key).alias("ctx_key"),
        "ctx_emb",
        F.pmod(F.xxhash64("doc_id"), F.lit(nb)).cast("int").alias("_b"),
    )
    winners = (
        m.groupBy("_b")
        .cogroup(c.groupBy("_b"))
        .applyInArrow(kernel, WINNERS_SCHEMA)
    )
    if mentions is not None:
        attrs = mentions.select("mention_id", "doc_id", "block_key", "offset")
    else:
        attrs = merged.groupBy("mention_id").agg(
            F.first("doc_id").alias("doc_id"),
            F.first("block_key").alias("block_key"),
            F.first("offset").alias("offset"),
        )
    # shuffle-hash, never broadcast: at corpus scale BOTH sides are
    # mention-count-sized (attrs IS the corpus's mentions), so a broadcast
    # plan would collect the whole corpus to the driver at 100 TB — and at
    # bench scale the broadcast build is pure per-run DRIVER time (collect
    # + hash-table build), a serial charge that lands exactly on the fast
    # arm of the N->4N efficiency ratio. Hashed exchange of two slim row
    # sets is parallel at every width, with no sort (unlike merge join).
    return attrs.hint("shuffle_hash").join(winners, "mention_id").select(
        "doc_id", "mention_id", "block_key", "offset", "qcode", "score"
    )


def resolve(scored: DataFrame, threshold: float = ED_THRESHOLD) -> DataFrame:
    """C5 argmax + P7 threshold. One hash aggregate per mention; ties break
    toward the smaller numeric qcode (same as the oracle). Returns
    (doc_id, mention_id, block_key, offset, qcode, score) with qcode null
    for NIL mentions."""
    qnum = F.regexp_replace("qcode", "^Q", "").cast("long")
    # max_by over a struct orders by score, then -qnum (so smaller qcode wins ties)
    pick = F.max_by(
        F.struct(F.col("qcode"), F.col("score")),
        F.struct(F.col("score").alias("s"), (-qnum).alias("nq")),
    )
    # group on mention_id alone (it is unique) — (doc_id, block_key, offset)
    # ride along as max() so the shuffle hashes one short key, not four
    out = scored.groupBy("mention_id").agg(
        F.max("doc_id").alias("doc_id"),
        F.max("block_key").alias("block_key"),
        F.max("offset").alias("offset"),
        pick.alias("best"),
    )
    return out.select(
        "doc_id",
        "mention_id",
        "block_key",
        "offset",
        F.when(F.col("best.score") >= threshold, F.col("best.qcode")).alias("qcode"),
        F.col("best.score").alias("score"),
    )
