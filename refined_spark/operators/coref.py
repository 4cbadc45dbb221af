"""Person-name coreference candidate propagation (operator J4).

Reference semantics (/root/reference/src/refined/doc_preprocessing/
candidate_generator.py:55-92 with backward_coref=True two-pass,
doc_types.py:89-92): within a document, multi-token person mentions donate
their human candidates (prior above COREF_FLOOR, donated prior capped at
COREF_CAP) to single-token mentions equal to one of their name tokens.
Donations merge with direct candidates keeping the best prior per qcode,
and a dictionary miss (the null-qcode row) that receives a donation loses
its null row. oracle.person_coref is the same rule, one document at a time.

The rule is local to a document, so the plan is one exchange and one pass:

    repartition(n, doc_id)   n = spark.sql.shuffle.partitions, the count a
                             StageStore commit writes; AQE keeps an explicit n
    human flag [+ label]     broadcast joins on the human set (the label of
                             a human entity scores a new pair, below)
    sort within partitions   on doc_id, so each document's rows are adjacent
    mapInPandas              runs of whole documents: donors, receivers and
                             the best-prior merge as pandas group-bys/merges

Every mention has a candidate row (the candidate joins are left joins), so
the receivers are the single-token rows themselves. jw/lev depend only on
(block_key, qcode): a raised-prior row keeps its direct values, and only a
new pair (a donated qcode the mention had no row for) is scored here.

On the seed-1 er_fuzzy_snapshot corpus (35,775 candidate rows, local[4],
4-core host) this commit runs 6 stages and 11 tasks in 0.7-1.8 s; the same
pass as JVM windows keyed on (doc_id, token) and (doc_id, mention_id) took
1.8-4.0 s, because scoring its new pairs needs a second branch (the windows
run twice) and a separate Python UDF stage.
"""

from __future__ import annotations

from functools import partial

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from refined_spark.config import COREF_CAP, COREF_FLOOR
from refined_spark.functions.similarity import jaro_winkler_py, lev_sim_py

_MENTION = ["doc_id", "mention_id", "block_key", "offset"]


def propagate_person_coref(
    candidates: DataFrame,
    human_qcodes: DataFrame,
    entity_meta: DataFrame | None = None,
) -> DataFrame:
    """candidates: (doc_id, mention_id, block_key, offset, qcode, prior[,
    jw, lev]), one row per candidate (qcode null for a dictionary miss).
    Returns the same shape with donations merged in. Candidates that carry
    jw/lev need entity_meta, whose labels score the new pairs."""
    feat = [c for c in ("jw", "lev") if c in candidates.columns]
    if feat and entity_meta is None:
        raise ValueError("candidates carry jw/lev: entity_meta is required "
                         "to score donated pairs")
    cols = _MENTION + ["qcode", "prior"] + feat
    n = int(candidates.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    candidates = candidates.select(*cols)
    humans = F.broadcast(human_qcodes).select("qcode")
    rows = candidates.repartition(n, "doc_id").withColumn(
        "human", F.col("qcode").isin(humans))
    if feat:
        from refined_spark.operators.pem import normalized_labels

        # as small as the human set itself, so it broadcasts like it
        labels = normalized_labels(entity_meta).join(humans, "qcode", "left_semi")
        rows = rows.join(F.broadcast(labels), "qcode", "left")
    return rows.sortWithinPartitions("doc_id").mapInPandas(
        partial(_merge_docs, cols=cols), candidates.schema
    )


def _merge_docs(batches, cols: list[str]):
    """One partition, sorted on doc_id: merges each run of whole documents
    and holds back the last document of a batch until its end is seen."""
    held = None
    for pdf in batches:
        if held is not None:
            pdf = pd.concat([held, pdf], ignore_index=True)
        if pdf.empty:
            continue
        done = pdf["doc_id"] != pdf["doc_id"].iat[-1]
        held = pdf[~done]
        if done.any():
            yield _merge(pdf[done], cols)
    if held is not None and len(held):
        yield _merge(held, cols)


def _merge(c: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    ntok = c["block_key"].str.count(" ") + 1
    g = c[c["human"] & (ntok > 1) & (c["prior"] > COREF_FLOOR)]
    if g.empty:
        return c[cols]
    # gifts: (doc_id, token, qcode) -> best capped prior over the donors
    g = g.assign(
        tok=g["block_key"].str.split(" "),
        prior=g["prior"].clip(upper=COREF_CAP),
        label=g["norm_label"].fillna("") if "jw" in cols else "",
    ).explode("tok")
    g = g.groupby(["doc_id", "tok", "qcode"], as_index=False).agg(
        gift=("prior", "max"), label=("label", "first"))
    recv = c.loc[ntok == 1, _MENTION].drop_duplicates()
    d = recv.merge(g.rename(columns={"tok": "block_key"}), on=["doc_id", "block_key"])
    if d.empty:
        return c[cols]
    out = c.merge(d[["mention_id", "qcode", "gift"]], on=["mention_id", "qcode"], how="left")
    out["prior"] = out[["prior", "gift"]].max(axis=1)
    out = out[~(out["qcode"].isna() & out["mention_id"].isin(d["mention_id"]))]
    new = d.merge(c[["mention_id", "qcode"]], on=["mention_id", "qcode"],
                  how="left", indicator=True)
    new = new[new["_merge"] == "left_only"].rename(columns={"gift": "prior"})
    if "jw" in cols:
        pairs = list(zip(new["block_key"], new["label"]))
        new["jw"] = [jaro_winkler_py(k, lab) for k, lab in pairs]
        new["lev"] = [lev_sim_py(k, lab) for k, lab in pairs]
    return pd.concat([out[cols], new[cols]], ignore_index=True)
