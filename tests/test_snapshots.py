"""Resume semantics: killed runs restart at the first uncommitted stage;
completed stages are not recomputed; final output identical (SURVEY §5.5)."""

import pyspark.sql.functions as F

from refined_spark.plans import pipeline
from refined_spark.plans.snapshots import StageStore


def _run(spark, tables, store):
    return (
        pipeline.run(
            spark,
            tables["documents"],
            tables["pem"],
            tables["entity_meta"],
            tables["entity_embeddings"],
            tables["human_qcodes"],
            store=store,
        )
        .orderBy("mention_id")
        .collect()
    )


def test_resume_identical_and_no_recompute(spark, tables, tmp_path):
    store = StageStore(str(tmp_path / "stages"))
    first = _run(spark, tables, store)
    assert all(store.is_committed(s) for s in pipeline.STAGES)

    # tamper-proof marker: record commit mtimes; a resumed run must not rewrite
    import os

    mtimes = {
        s: os.path.getmtime(str(tmp_path / "stages" / s / "_COMMITTED"))
        for s in pipeline.STAGES
    }
    second = _run(spark, tables, store)
    assert first == second
    for s in pipeline.STAGES:
        assert (
            os.path.getmtime(str(tmp_path / "stages" / s / "_COMMITTED")) == mtimes[s]
        ), f"stage {s} was recomputed on resume"


def test_partial_resume(spark, tables, tmp_path):
    store = StageStore(str(tmp_path / "stages"))
    first = _run(spark, tables, store)
    store.reset("resolved")
    store.reset("clusters")
    second = _run(spark, tables, store)
    assert [(r.mention_id, r.qcode) for r in first] == [
        (r.mention_id, r.qcode) for r in second
    ]


def test_lineage_metrics(spark, tables, tmp_path):
    store = StageStore(str(tmp_path / "stages"))
    _run(spark, tables, store)
    m = store.metrics("mentions")
    assert m["rows"] > 0
    assert sum(m["partitions"].values()) == m["rows"]
    assert m["repartition_by"] == "block_key"
    c = store.metrics("candidates")
    assert c["rows"] >= m["rows"]  # one row per candidate >= one per mention
    for s in pipeline.STAGES:
        got = store.metrics(s)
        # footer counts agree with the count observed during the write
        assert got["rows"] == got["observed"]["rows_written"]
        assert sum(got["partitions"].values()) == got["rows"]
        assert store.read(spark, s).count() == got["rows"]


def _jobs(spark, group, fn):
    """(fn(), ids of the Spark jobs fn ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, sc.statusTracker().getJobIdsForGroup(group)


def test_commit_is_one_job_and_read_none(spark, tmp_path):
    store = StageStore(str(tmp_path / "stages"))
    df = spark.range(1000).select("id", F.col("id").cast("string").alias("s"))
    _, commit_jobs = _jobs(spark, "snapshot-commit", lambda: store.commit(df, "s"))
    assert len(commit_jobs) == 1
    back, read_jobs = _jobs(spark, "snapshot-read", lambda: store.read(spark, "s"))
    assert read_jobs == []
    m = store.metrics("s")
    assert m["rows"] == m["observed"]["rows_written"] == 1000
    assert back.schema == spark.read.parquet(
        str(tmp_path / "stages" / "s" / "data.parquet")).schema
    assert sorted(r.id for r in back.collect()) == list(range(1000))


def test_footer_count_mismatch_raises(spark, tmp_path, monkeypatch):
    import pytest

    from refined_spark.plans import snapshots

    monkeypatch.setattr(snapshots, "_footer_rows", lambda path: {"0": 1})
    store = StageStore(str(tmp_path / "stages"))
    with pytest.raises(RuntimeError, match="observed 10"):
        store.commit(spark.range(10), "s")
    assert not store.is_committed("s")


def test_commit_removes_stale_tmp_dirs(spark, tmp_path):
    import os

    stale = tmp_path / "stages" / "s" / ".tmp-killed"
    stale.mkdir(parents=True)
    (stale / "part-00000-x.parquet").write_bytes(b"half-written")
    store = StageStore(str(tmp_path / "stages"))
    store.commit(spark.range(5), "s")
    assert not [n for n in os.listdir(tmp_path / "stages" / "s") if n.startswith(".tmp-")]
    assert store.read(spark, "s").count() == 5


def test_stage_without_recorded_schema_is_recomputed(spark, tables, tmp_path):
    import os

    store = StageStore(str(tmp_path / "stages"))
    first = _run(spark, tables, store)
    d = tmp_path / "stages" / "mentions"
    mtime = os.path.getmtime(str(d / "_COMMITTED"))
    os.remove(str(d / "_SCHEMA.json"))
    assert not store.is_committed("mentions")
    assert _run(spark, tables, store) == first
    assert store.is_committed("mentions")
    assert os.path.getmtime(str(d / "_COMMITTED")) != mtime
