"""The benchmark's workloads: inputs, timed units, checks, traced unit.

Each workload drives the engine only through its public entry points. The
traced unit calls the same entry points as a timed unit, in the same
order, with job groups set around them (and, for the ER store path, by a
``StageStore`` subclass that only adds tracing), and must produce the same
output hash.

- ``er_fuzzy_snapshot``: ``pipeline.run`` with the LSH blocking channel over
  the spelling-noise, hot-alias corpus, through a fresh ``StageStore``. A
  unit is a full commit run (timed as ``run_s``), then a reset after
  ``candidates`` and a resume (timed as ``resume_s``). The warm-up is an
  untimed full commit run whose output hash is the reference; the traced
  run adds the storeless run of the same plan, which must match it.
- ``near_dup``: ``dedup.near_dup_clusters`` (MinHash-LSH, Jaccard verify,
  the general connected-components loop), ``dedup.ngram_jaccard_pairs``,
  ``dedup.simhash_pairs`` and ``ann.embedding_near_dups`` over a corpus with
  planted near-duplicate groups and a planted degenerate bucket. A unit
  calls each once; ``run_s`` is their sum.
"""

from __future__ import annotations

import contextlib
import inspect
import os
import shutil
import time
from itertools import combinations

from pyspark.sql import functions as F

from perfbench import gen
from perfbench.trace import COMMIT_SUFFIX

ANN_BITS = 6
# the ER pipeline's snapshot stages, named after the module doing the work
STAGE_LAYER = {"mentions": "spans", "candidates": "blocking", "coref": "coref",
               "scored": "scoring", "resolved": "scoring", "clusters": "clustering"}


def output_hash(df) -> tuple:
    """Order-independent (rows, sum, xor) of a 64-bit row hash; also the
    action that materializes ``df``."""
    h = F.xxhash64(*df.columns)
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(h, F.lit(1_000_000_007))).alias("s"),
        F.bit_xor(h).alias("x"),
    ).collect()[0]
    return (int(r["n"]), int(r["s"] or 0), int(r["x"] or 0))


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def _traced_store(root: str, tracer):
    """A StageStore that only adds tracing. A stage that is about to be
    built runs its plan-time jobs under its layer's group; its commit runs
    under ``<layer>|commit``; reads are ``snapshots`` spans."""
    from refined_spark.plans.snapshots import StageStore

    class TracedStore(StageStore):
        def __init__(self, root):
            super().__init__(root)
            self.commit_s = self.read_s = 0.0
            self.plan_s: dict = {}
            self._building: dict = {}
            self._in_commit = False

        def is_committed(self, stage):
            done = super().is_committed(stage)
            if not done and not self._in_commit:
                self._building[stage] = time.time()
                tracer.set_group(STAGE_LAYER[stage])
            return done

        def commit(self, df, stage, repartition_by=None, num_partitions=None):
            layer = STAGE_LAYER[stage]
            t0 = time.time()
            if stage in self._building:
                start = self._building.pop(stage)
                tracer.record(f"plan:{stage}", layer, start, t0)
                self.plan_s[stage] = t0 - start
            self._in_commit = True
            try:
                with tracer.span(f"commit:{stage}", layer, f"{layer}{COMMIT_SUFFIX}"):
                    out = super().commit(df, stage, repartition_by, num_partitions)
            finally:
                self._in_commit = False
            self.commit_s += time.time() - t0
            return out

        def read(self, spark, stage):
            t0 = time.perf_counter()
            with tracer.span(f"read:{stage}", "snapshots"):
                out = super().read(spark, stage)
            self.read_s += time.perf_counter() - t0
            return out

    return TracedStore(root)


class ErFuzzySnapshot:
    name = "er_fuzzy_snapshot"
    resume_after = "candidates"
    unit_names = ("full", "resume")

    def __init__(self, work: str, seed: int, tiny: bool = False):
        self.paths = gen.er_fuzzy(os.path.join(work, "inputs"), seed,
                                  n_docs=60 if tiny else gen.ER_DOCS)
        self.inputs = gen.describe_er(self.paths)
        self.docs = self.inputs["docs"]
        self.store_dir = os.path.join(work, "store")
        self.reference = None

    def register(self, spark) -> None:
        self.t = {k: spark.read.parquet(p) for k, p in self.paths.items()}
        self.t["documents"].count()

    def _run(self, spark, store=None):
        from refined_spark.plans import pipeline

        t = self.t
        return pipeline.run(spark, t["documents"], t["pem"], t["entity_meta"],
                            t["entity_embeddings"], t["human_qcodes"],
                            store=store, lsh_blocking=True)

    def _fresh_store(self, store=None):
        from refined_spark.plans.snapshots import StageStore

        shutil.rmtree(self.store_dir, ignore_errors=True)
        return store or StageStore(self.store_dir)

    def _resets(self) -> list[str]:
        from refined_spark.plans.pipeline import STAGES

        return STAGES[STAGES.index(self.resume_after) + 1:]

    def _full_then_resume(self, spark, store, around) -> tuple:
        from refined_spark.plans import pipeline

        with around("full"):
            full = output_hash(self._run(spark, store))
            pipeline.release_cache()
        for s in self._resets():
            store.reset(s)
        with around("resume"):
            resumed = output_hash(self._run(spark, store))
            pipeline.release_cache()
        return full, resumed

    def warmup(self, spark) -> None:
        """A unit's full commit run, untimed; its output is the reference."""
        from refined_spark.plans import pipeline

        self.reference = output_hash(self._run(spark, self._fresh_store()))
        pipeline.release_cache()

    def unit(self, spark) -> dict:
        times: dict = {}

        @contextlib.contextmanager
        def timed(name):
            t0 = time.perf_counter()
            yield
            times[name] = time.perf_counter() - t0

        full, resumed = self._full_then_resume(spark, self._fresh_store(), timed)
        return {"run_s": times["full"], "resume_s": times["resume"],
                "unit_s": times["full"] + times["resume"],
                "ok": full == resumed == self.reference}

    def verify(self, spark) -> dict:
        """Pairwise F1 and gold recall on the last unit's committed store."""
        from refined_spark.plans import pipeline
        from refined_spark.plans.snapshots import StageStore

        store = StageStore(self.store_dir)
        ev = pipeline.evaluate(self._run(spark, store), self.t["gold_mentions"],
                               candidates=store.read(spark, "candidates"))
        # the engine's F1 >= 0.99 gate holds for its 30-entity test fixture
        # only: at this corpus size even the clean generator corpus scores
        # ~0.8, so the gates here are the output hashes
        return {"pairwise_f1": ev["f1"], "gold_recall": ev["gold_recall"],
                "ok": True, "gate": "output hashes only"}

    def trace_warmup(self, spark) -> dict:
        """The storeless run of the same plan: warms the traced session and
        must reproduce the store path's output."""
        from refined_spark.plans import pipeline

        storeless = output_hash(self._run(spark))
        pipeline.release_cache()
        return {"storeless_matches_store": storeless == self.reference}

    def traced_unit(self, spark, tr) -> dict:
        store = self._fresh_store(_traced_store(self.store_dir, tr))
        full, resumed = self._full_then_resume(
            spark, store, lambda name: tr.span(name, group="output"))
        with tr.span("counters", group="probe"):
            domain, rows = self._counters(spark)
        domain.update({
            "scoring.plan_s": store.plan_s.get("resolved", 0.0),
            "snapshots.commit_s": store.commit_s,
            "snapshots.read_s": store.read_s,
        })
        return {"ok": full == resumed == self.reference, "rows": rows,
                "domain": domain, "unit_names": self.unit_names}

    def _counters(self, spark) -> tuple[dict, dict]:
        """Domain counters, read off the committed snapshots."""
        from refined_spark.plans.snapshots import StageStore

        store = StageStore(self.store_dir)
        snap = {s: store.read(spark, s) for s in STAGE_LAYER if store.is_committed(s)}
        surfaces = self.t["pem"].select(F.col("surface_form").alias("block_key"))
        cands = snap["candidates"].where(F.col("qcode").isNotNull())
        exact = cands.join(surfaces, "block_key", "left_semi")
        fuzzy_keys = cands.join(surfaces, "block_key", "left_anti").select("block_key")
        banded = (snap["mentions"].select("block_key")
                  .join(surfaces, "block_key", "left_anti").distinct().count())
        exact_rows = exact.count()
        mentions = store.metrics("mentions")["rows"]
        resolved = store.metrics("resolved")["rows"]
        sizes = snap["clusters"].groupBy("cluster_id").count()
        c = sizes.agg(F.count(F.lit(1)), F.max("count")).collect()[0]
        domain = {
            "spans.mentions_out": mentions,
            "pem.cands_per_mention": exact_rows / max(mentions, 1),
            "blocking.keys_banded": banded,
            "blocking.verified_per_banded":
                fuzzy_keys.distinct().count() / max(banded, 1),
            "coref.donations": snap["coref"].where(F.col("qcode").isNotNull()).join(
                cands, ["mention_id", "qcode"], "left_anti").count(),
            "scoring.nil_rate":
                snap["resolved"].where(F.col("qcode").isNull()).count() / max(resolved, 1),
            "clustering.clusters": int(c[0]),
            "clustering.max_cluster": int(c[1] or 0),
            "snapshots.bytes_written_mb": _dir_mb(self.store_dir),
        }
        rows = {layer: store.metrics(stage)["rows"] for stage, layer in STAGE_LAYER.items()
                if store.is_committed(stage)}
        rows["pem"] = exact_rows
        return domain, rows


class NearDup:
    name = "near_dup"
    steps = ("clusters", "ngram", "simhash", "ann")
    unit_names = steps

    def __init__(self, work: str, seed: int, tiny: bool = False):
        kw = {"n_docs": 200, "n_vecs": 200} if tiny else {}
        self.paths = gen.near_dup(os.path.join(work, "inputs"), seed, **kw)
        self.inputs = gen.describe_near_dup(self.paths)
        self.docs = self.inputs["docs"]
        self.reference = None

    def register(self, spark) -> None:
        self.t = {k: spark.read.parquet(p) for k, p in self.paths.items()}
        self.t["docs"].count()

    def _plans(self):
        from refined_spark.operators import ann, dedup

        d, v = self.t["docs"], self.t["vectors"]
        return {
            "clusters": lambda: dedup.near_dup_clusters(d),
            "ngram": lambda: dedup.ngram_jaccard_pairs(d),
            "simhash": lambda: dedup.simhash_pairs(d),
            "ann": lambda: ann.embedding_near_dups(v, dim=gen.ND_DIM, bits=ANN_BITS),
        }

    def warmup(self, spark) -> None:
        plans = self._plans()
        clusters = plans["clusters"]().persist()
        self.reference = {"clusters": output_hash(clusters)}
        self.predicted = clusters.toPandas()
        clusters.unpersist()
        for step in self.steps[1:]:
            self.reference[step] = output_hash(plans[step]())

    def unit(self, spark) -> dict:
        plans = self._plans()
        got, step_s = {}, {}
        for step in self.steps:
            t0 = time.perf_counter()
            got[step] = output_hash(plans[step]())
            step_s[step] = time.perf_counter() - t0
        run_s = sum(step_s.values())
        # a storeless run keeps nothing: finishing a killed run is a rerun
        return {"run_s": run_s, "resume_s": run_s, "unit_s": run_s, "step_s": step_s,
                "ok": got == self.reference}

    def _gold_pairs(self) -> set:
        import pyarrow.parquet as pq

        g = pq.read_table(self.paths["doc_groups"]).to_pandas()
        pairs = set()
        for _, ids in g.groupby("group")["doc_id"]:
            pairs.update(combinations(sorted(ids), 2))
        return pairs

    def verify(self, spark) -> dict:
        """Cluster F1 against the planted groups, from the warm-up's
        clusters (every timed unit reproduced their hash); gold recall =
        planted pairs that share a cluster."""
        gold = self._gold_pairs()
        pred = set()
        for _, ids in self.predicted.groupby("cluster_id")["doc_id"]:
            pred.update(combinations(sorted(ids), 2))
        tp = len(pred & gold)
        p = tp / len(pred) if pred else 1.0
        r = tp / len(gold) if gold else 1.0
        f1 = 2 * p * r / (p + r) if p + r else 0.0
        return {"pairwise_f1": f1, "gold_recall": r, "ok": True,
                "gate": "output hashes only"}

    def trace_warmup(self, spark) -> dict:
        plans = self._plans()
        got = {step: output_hash(plans[step]()) for step in self.steps}
        return {"warmup_matches": got == self.reference}

    def traced_unit(self, spark, tr) -> dict:
        plans = self._plans()
        got = {}
        for step in self.steps:
            with tr.span(step, "ann" if step == "ann" else "dedup"):
                got[step] = output_hash(plans[step]())
        rows = {"clustering": got["clusters"][0],
                "dedup": got["ngram"][0] + got["simhash"][0],
                "ann": got["ann"][0]}
        with tr.span("counters", group="probe"):
            domain = self._counters()
        return {"ok": got == self.reference, "rows": rows, "domain": domain,
                "unit_names": self.unit_names}

    def _counters(self) -> dict:
        """LSH pairs emitted and verified, with near_dup_clusters' own
        defaults, and the largest embedding bucket."""
        from refined_spark.operators import ann, dedup

        kw = {k: v.default for k, v in
              inspect.signature(dedup.near_dup_clusters).parameters.items()
              if k != "documents"}
        d = self.t["docs"]
        sigs = dedup.minhash_signatures(d, kw["k"], kw["num_hashes"])
        cands = dedup.lsh_candidate_pairs(
            sigs, kw["bands"], num_hashes=kw["num_hashes"]).persist()
        emitted = cands.count()
        verified = dedup.jaccard_verify(cands, d, kw["k"], kw["threshold"]).count()
        cands.unpersist()
        bucket = ann.lsh_signature_col(
            F.col("embedding"), ann.rotation_planes(gen.ND_DIM, ANN_BITS, 0))
        biggest = (self.t["vectors"].groupBy(bucket.alias("b")).count()
                   .agg(F.max("count")).collect()[0][0])
        return {"dedup.pairs_emitted": emitted, "dedup.pairs_verified": verified,
                "ann.max_bucket_rows": int(biggest or 0)}


WORKLOADS = {w.name: w for w in (ErFuzzySnapshot, NearDup)}
