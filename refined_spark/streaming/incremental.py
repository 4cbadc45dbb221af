"""Incremental ingestion of new document batches.

The reference is a pure batch system with resume-by-file-existence
(/root/reference/src/refined/offline_data_generation/preprocess_all.py:159-325)
— there is no stream anywhere in it (SURVEY.md §2.9). The engine therefore
offers TWO incremental paths:

1. `incremental_resolve` — the Iceberg-style pattern: new document files
   land in a directory; Structured Streaming's file source discovers them,
   and foreachBatch runs the SAME batch pipeline per micro-batch and
   appends its output (`mode("append")`) to the resolved output. The
   streaming checkpoint records which files were processed; the write is
   not idempotent: a batch replayed after a crash between its write and
   the checkpoint commit appends its rows a second time.

2. `StageStore` (plans/snapshots.py) — stage-level resume for the offline
   ETL, mirroring the reference's checkpointing.

Clustering is NOT incremental here: each micro-batch labels its clusters
from its own mentions (`least(min xxhash64(mention_id), xxhash64("ENT:",
qcode))` over that batch only), so one entity gets one cluster_id per
batch and the appended ids differ from a batch recompute (on
q_incremental_resolve's inputs, 25 of 30 linked entities carried two ids).
Merging the per-entity minimum across batches, and overwriting per
batch_id, is ROADMAP Direction 1. Near-dup CC would re-run per snapshot —
the standard batch-refresh pattern for iterative graph jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField(
            "spans",
            ArrayType(
                StructType(
                    [
                        StructField("kind", StringType()),
                        StructField("text", StringType()),
                        StructField("media_ref", StringType()),
                        StructField("offset", IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def incremental_resolve(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    pem_df: DataFrame,
    entity_meta: DataFrame,
    entity_embeddings: DataFrame,
    human_qcodes: DataFrame,
    trigger_once: bool = True,
) -> StreamingQuery:
    """Watch input_dir for new documents parquet files; resolve each
    micro-batch with the batch pipeline; append to output_dir."""
    from refined_spark.plans import pipeline

    stream = (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .option("recursiveFileLookup", "true")  # batch writers drop nested dirs
        .parquet(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        resolved = pipeline.run(
            spark, batch_df, pem_df, entity_meta, entity_embeddings, human_qcodes
        )
        resolved.write.mode("append").parquet(output_dir)
        # the batch output is on disk — drop the run's persisted
        # intermediates so a long-lived stream doesn't accumulate one
        # cache set per micro-batch; the dictionary index stays, so every
        # micro-batch shares one build of the dictionary parts
        pipeline.release_cache()

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
