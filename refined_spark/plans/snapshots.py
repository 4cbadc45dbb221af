"""Per-stage snapshot commits with resume — the Iceberg-pattern checkpointing
layer, implemented over plain parquet directories (no Iceberg jars ship in
this container; the directory protocol below is the same atomic-commit /
resume-by-snapshot-existence contract, and `writeTo(...).createOrReplace()`
is a drop-in swap where an Iceberg catalog exists).

Mirrors the reference's step-level resume: every offline stage is guarded by
an output-existence check and writes via tmp+rename
(/root/reference/src/refined/offline_data_generation/preprocess_all.py:159-325,
generate_pem.py:166-170). Here:

    stage output  = <root>/<stage>/data.parquet (directory), _METRICS.json,
                    _SCHEMA.json and the _COMMITTED marker
    commit        = remove the stage's leftovers (the .tmp-* dirs of a
                    killed commit, a stale marker), write to
                    <root>/<stage>/.tmp-<token>, os.rename onto the final
                    name, then metrics, schema and last the marker
    resume        = if _COMMITTED and _SCHEMA.json exist, read back with
                    the recorded schema instead of recomputing

A commit runs no Spark job besides the write (and the shuffle map stages
AQE runs as jobs of their own). Its row count is observed during the
write (df.observe); the per-partition counts — rows per written part file,
keyed by the writing task's partition — come from the part files' parquet
footers, read with pyarrow, and must add up to the observed count. Both go
into _METRICS.json: the "per-partition lineage + mention/candidate/match
counters" the north rule requires. The schema is recorded at commit time,
so neither the commit nor a read infers one from the files. A stage has one
writer at a time.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")


def _footer_rows(path: str) -> dict[str, int]:
    """Rows per written partition, from the parquet footers under path."""
    import pyarrow.parquet as pq

    rows: dict[str, int] = {}
    for name in sorted(os.listdir(path)):
        m = _PART_FILE.match(name)
        if m:
            n = pq.read_metadata(os.path.join(path, name)).num_rows
            key = str(int(m.group(1)))
            rows[key] = rows.get(key, 0) + n
    return rows


class StageStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def is_committed(self, stage: str) -> bool:
        d = self._dir(stage)
        return all(os.path.exists(os.path.join(d, f)) for f in ("_COMMITTED", "_SCHEMA.json"))

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        d = self._dir(stage)
        with open(os.path.join(d, "_SCHEMA.json")) as f:
            schema = StructType.fromJson(json.load(f))
        return spark.read.schema(schema).parquet(os.path.join(d, "data.parquet"))

    def metrics(self, stage: str) -> dict:
        p = os.path.join(self._dir(stage), "_METRICS.json")
        with open(p) as f:
            return json.load(f)

    def commit(self, df: DataFrame, stage: str, repartition_by: str | None = None,
               num_partitions: int | None = None) -> DataFrame:
        """Materialize df as the stage snapshot (idempotent: no-op when the
        stage is already committed). Optionally repartitions on a blocking
        key first (the north rule's explicit repartitioning)."""
        spark = df.sparkSession
        if self.is_committed(stage):
            return self.read(spark, stage)
        d = self._dir(stage)
        os.makedirs(d, exist_ok=True)
        for name in os.listdir(d):
            if name.startswith(".tmp-"):
                shutil.rmtree(os.path.join(d, name), ignore_errors=True)
        marker = os.path.join(d, "_COMMITTED")
        if os.path.exists(marker):
            os.remove(marker)
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        out = df
        if repartition_by is not None:
            n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
            out = out.repartition(n, F.col(repartition_by))
        # A9: df.observe lineage counters — measured DURING the write job
        # itself (no extra scan), the Spark-native analog of the reference's
        # per-stage print counters (generate_pem.py:57-62)
        from pyspark.sql import Observation

        obs = Observation(f"commit_{stage}")
        out = out.observe(obs, F.count(F.lit(1)).alias("rows_written"))
        out.write.mode("overwrite").parquet(tmp)
        observed = {k: int(v) for k, v in obs.get.items()}
        partitions = _footer_rows(tmp)
        rows = sum(partitions.values())
        if rows != observed["rows_written"]:
            raise RuntimeError(
                f"stage {stage}: the part-file footers hold {rows} rows but the "
                f"write observed {observed['rows_written']}"
            )

        final = os.path.join(d, "data.parquet")
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
        with open(os.path.join(d, "_METRICS.json"), "w") as f:
            json.dump(
                {
                    "stage": stage,
                    "rows": rows,
                    "partitions": partitions,
                    "repartition_by": repartition_by,
                    "observed": observed,
                },
                f,
                indent=2,
            )
        with open(os.path.join(d, "_SCHEMA.json"), "w") as f:
            f.write(out.schema.json())
        with open(marker, "w") as f:
            f.write("ok\n")
        return self.read(spark, stage)

    def reset(self, stage: str | None = None) -> None:
        if stage is None:
            shutil.rmtree(self.root, ignore_errors=True)
            os.makedirs(self.root, exist_ok=True)
        else:
            shutil.rmtree(self._dir(stage), ignore_errors=True)
