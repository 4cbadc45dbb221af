"""A4 qcode index, A7 max-classes scan, A8 doc-span assembly, P3
namespace filter, A9 observe lineage, and the opt-in typing stage."""

from pyspark.sql import functions as F

from refined_spark.operators.closure import max_classes_width
from refined_spark.operators.pem import qcode_index
from refined_spark.operators.spans import assemble_doc_spans


def test_qcode_index_deterministic(spark):
    pem = spark.createDataFrame(
        [("a", [("Q7", 0.6), ("Q2", 0.4)]), ("b", [("Q2", 1.0)])],
        "surface_form string, candidates array<struct<qcode:string,prior:double>>",
    )
    idx = {r.qcode: r.idx for r in qcode_index(pem).collect()}
    assert idx == {"Q2": 1, "Q7": 2}  # sorted, 1-based, distinct


def test_max_classes_width(spark):
    ec = spark.createDataFrame(
        [("Q1", "C1"), ("Q1", "C2"), ("Q1", "C3"), ("Q2", "C1")],
        "qcode string, class_id string",
    )
    assert max_classes_width(ec) == 3
    empty = spark.createDataFrame([], "qcode string, class_id string")
    assert max_classes_width(empty) == 0


def test_assemble_doc_spans_ordered(spark):
    flat = spark.createDataFrame(
        [("d1", 30, "b"), ("d1", 5, "a"), ("d2", 0, "c")],
        "doc_id string, offset int, text string",
    )
    rows = {r.doc_id: r.spans
            for r in assemble_doc_spans(flat, ["offset", "text"]).collect()}
    assert [s.text for s in rows["d1"]] == ["a", "b"]
    assert [s.offset for s in rows["d1"]] == [5, 30]
    assert len(rows["d2"]) == 1


def test_scan_sql_dump_namespace_filter(spark, tmp_path):
    p = tmp_path / "dump.sql"
    p.write_text(
        "-- header\n"
        "INSERT INTO `page` VALUES (1,'0','Main_Page'),(2,'14','Category_X'),"
        "(3,'0','Other_Page');\n"
    )
    from refined_spark.sources.dumps import scan_sql_dump

    all_rows = scan_sql_dump(spark, str(p), n_fields=3)
    assert all_rows.count() == 3
    ns0 = scan_sql_dump(spark, str(p), n_fields=3, ns_field=1)
    assert {r.f2 for r in ns0.collect()} == {"Main_Page", "Other_Page"}


def test_snapshot_observed_metrics(spark, tmp_path):
    from refined_spark.plans.snapshots import StageStore

    store = StageStore(str(tmp_path / "store"))
    df = spark.range(37).select(F.col("id").cast("string").alias("k"))
    store.commit(df, "s1")
    m = store.metrics("s1")
    assert m["rows"] == 37
    assert m["observed"]["rows_written"] == 37


def test_pipeline_typing_stage(spark, fixture_paths):
    """Opt-in C3/T3/T5 stage: every non-NIL winner gets a boolean
    failed_class_check; entities typed consistently with the doc context
    pass."""
    from refined_spark.plans import pipeline

    load = lambda k: spark.read.parquet(fixture_paths[k])
    meta = load("entity_meta")
    # synthetic class data: humans are C_person subclass-of C_agent,
    # everything else C_org
    humans = load("human_qcodes")
    ec = (
        meta.select("qcode")
        .join(humans.withColumn("h", F.lit(1)), "qcode", "left")
        .select(
            "qcode",
            F.when(F.col("h") == 1, "C_person").otherwise("C_org").alias("class_id"),
        )
    )
    edges = spark.createDataFrame(
        [("C_person", "C_agent"), ("C_org", "C_agent")], "child string, parent string"
    )
    out = pipeline.run(
        spark, load("documents"), load("pem"), meta,
        load("entity_embeddings"), humans,
        entity_classes=ec, subclass_edges=edges,
        class_vocab=["C_person", "C_org", "C_agent"],
        typing_threshold=0.0,  # predict every class -> checks always pass
    )
    rows = out.collect()
    assert "failed_class_check" in out.columns
    winners = [r for r in rows if r.qcode is not None]
    assert winners
    # threshold 0 predicts all classes, so no winner can fail the check
    assert all(r.failed_class_check is False for r in winners)
    # NIL mentions carry no flag (left join)
    nils = [r for r in rows if r.qcode is None]
    assert all(r.failed_class_check is None for r in nils)


def test_evaluate_gold_recall(spark, fixture_paths):
    from refined_spark.operators import pem as pem_mod
    from refined_spark.plans import pipeline

    load = lambda k: spark.read.parquet(fixture_paths[k])
    docs = load("documents")
    mentions = pipeline.build_mentions(docs)
    cands = pem_mod.candidate_join(mentions, load("pem"))
    out = pipeline.run(
        spark, docs, load("pem"), load("entity_meta"),
        load("entity_embeddings"), load("human_qcodes"),
    )
    gold = load("gold_mentions")
    res = pipeline.evaluate(out, gold, candidates=cands)
    assert res["n_gold"] > 0
    assert 0.0 <= res["gold_recall"] <= 1.0
    assert res["n_gold_in_candidates"] <= res["n_gold"]
    # blocking recall should be near-total on the clean fixture corpus
    assert res["gold_recall"] > 0.9



def test_spread_scan_only_when_under_partitioned(spark, tmp_path):
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from refined_spark.queries import q_token_stats

    par = spark.sparkContext.defaultParallelism
    rng = random.Random(0)
    n = 4000  # ~1.6 MB of incompressible text: a single file spans >= par splits
    docs = pa.table({
        "doc_id": list(range(n)),
        "text": [" ".join(f"{rng.getrandbits(64):x}" for _ in range(24))
                 for _ in range(n)],
    })

    def layout(files: int, row_groups: int) -> tuple[int, bool]:
        sf_dir = tmp_path / f"f{files}_g{row_groups}"
        out = sf_dir / "documents.parquet"
        out.mkdir(parents=True)
        for i in range(files):
            part = docs.slice(i * n // files, n // files)
            pq.write_table(part, str(out / f"part-{i}.parquet"),
                           row_group_size=-(-part.num_rows // row_groups))
        splits = spark.read.parquet(str(out)).rdd.getNumPartitions()
        plan = q_token_stats(spark, str(sf_dir))._jdf.queryExecution()
        return splits, "RoundRobinPartitioning" in plan.executedPlan().toString()

    # one row group cut into >= par byte-range splits is still one busy task
    splits, spread = layout(files=1, row_groups=1)
    assert splits >= par and spread
    # a split per core that each hold rows: no exchange before the kernels
    for files, row_groups in ((1, par), (par, 1)):
        splits, spread = layout(files, row_groups)
        assert splits >= par and not spread
