"""Attribute the wide-arm SYS-time explosion to a kernel mechanism.

profile_inflation_result.jsonl showed the candidates stage burning 16x more sys
CPU at 16 cores than at 4 (133 vs 8 CPU-s) on the identical input. This
probe runs ONE stage body at a pinned width and deltas the kernel-side
counters that distinguish the candidate mechanisms:

  TLB (/proc/interrupts)  remote TLB-shootdown IPIs — mmap/munmap churn
                          (cost fans out to every core in the mask)
  CAL                     function-call IPIs (includes shootdown calls)
  ctxt (/proc/stat)       context switches — scheduler churn
  pgfault (/proc/vmstat)  minor faults — first-touch/alloc churn
  java/python u+s         WHO burns the sys time (JVM vs Python workers)

Usage: taskset -c 0-{W-1} python jobs/probe_sys.py <corpus> <W> \
           [stage] [arrow_batch_rows]
Prints one JSON line.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("REFINED_SPARK_TMPFS_SHUFFLE", "1")

from bench import materialize, _unpersist_all  # noqa: E402
from refined_spark.session import get_spark  # noqa: E402


def interrupts() -> dict[str, int]:
    out = {}
    with open("/proc/interrupts") as f:
        for line in f:
            parts = line.split()
            if parts and parts[0].rstrip(":") in ("TLB", "CAL", "RES"):
                out[parts[0].rstrip(":")] = sum(
                    int(x) for x in parts[1:] if x.isdigit())
    return out


def vmstat() -> dict[str, int]:
    keys = {"pgfault", "thp_fault_alloc", "pgmigrate_success"}
    out = {}
    with open("/proc/vmstat") as f:
        for line in f:
            k, v = line.split()
            if k in keys:
                out[k] = int(v)
    return out


def ctxt() -> int:
    with open("/proc/stat") as f:
        for line in f:
            if line.startswith("ctxt"):
                return int(line.split()[1])
    return 0


def class_cpu() -> dict[str, float]:
    tck = os.sysconf("SC_CLK_TCK")
    out = {"java_u": 0.0, "java_s": 0.0, "py_u": 0.0, "py_s": 0.0}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                parts = f.read().rsplit(")", 1)[1].split()
            comm = open(f"/proc/{pid}/comm").read().strip()
        except OSError:
            continue
        u, s = int(parts[11]) / tck, int(parts[12]) / tck
        if comm == "java":
            out["java_u"] += u
            out["java_s"] += s
        elif comm.startswith("python"):
            out["py_u"] += u
            out["py_s"] += s
    return out


def main() -> None:
    corpus = sys.argv[1]
    cores = int(sys.argv[2])
    stage = sys.argv[3] if len(sys.argv) > 3 else "candidates"
    batch_rows = sys.argv[4] if len(sys.argv) > 4 else None

    from refined_spark.operators import pem, scoring
    from refined_spark.plans import pipeline

    extra = ({"spark.sql.execution.arrow.maxRecordsPerBatch": batch_rows}
             if batch_rows else None)
    spark = get_spark(app_name=f"probe_sys_{cores}", master=f"local[{cores}]",
                      shuffle_partitions=96, scale_profile=True,
                      extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    load = lambda k: spark.read.parquet(f"{corpus}/{k}.parquet")
    docs = load("documents")
    if docs.rdd.getNumPartitions() < cores:
        docs = docs.repartition(cores)

    work = "/dev/shm/probe_sys"
    import shutil
    shutil.rmtree(work, ignore_errors=True)
    pipeline.build_mentions(docs).write.parquet(f"{work}/mentions.parquet")
    mentions = spark.read.parquet(f"{work}/mentions.parquet")

    if stage == "candidates":
        body = lambda: materialize(pem.candidate_join(
            mentions, load("pem"), entity_meta=load("entity_meta")))
    elif stage == "mentions":
        body = lambda: materialize(pipeline.build_mentions(docs))
    elif stage == "ctx":
        body = lambda: materialize(scoring.mention_window_embeddings(docs))
    else:
        raise ValueError(stage)

    body()  # warm
    _unpersist_all(spark)
    samples = []
    for _ in range(2):
        i0, v0, c0, p0 = interrupts(), vmstat(), ctxt(), class_cpu()
        t0 = time.time()
        body()
        dt = time.time() - t0
        i1, v1, c1, p1 = interrupts(), vmstat(), ctxt(), class_cpu()
        samples.append({
            "wall": round(dt, 2),
            **{f"d_{k}": i1[k] - i0[k] for k in i0},
            **{f"d_{k}": v1[k] - v0[k] for k in v0},
            "d_ctxt": c1 - c0,
            **{k: round(p1[k] - p0[k], 1) for k in p0},
        })
        _unpersist_all(spark)
        print(json.dumps(samples[-1]), flush=True)
    print(json.dumps({"stage": stage, "cores": cores, "samples": samples}),
          flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
