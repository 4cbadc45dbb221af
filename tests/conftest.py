import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# sandbox-only: keep shuffle spill off the IOPS-throttled virtual disk
os.environ.setdefault("REFINED_SPARK_TMPFS_SHUFFLE", "1")

from refined_spark import fixtures  # noqa: E402
from refined_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="refined_spark_tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixture_paths(tmp_path_factory):
    out = tmp_path_factory.mktemp("fixtures")
    return fixtures.generate(str(out), n_docs=120, n_entities=40, seed=42)


@pytest.fixture(scope="session")
def tables(spark, fixture_paths):
    return {k: spark.read.parquet(v) for k, v in fixture_paths.items()}


@pytest.fixture(scope="session")
def minhash_sql():
    """The MinHash reference: hashing.minhash_sig_sql evaluated in DuckDB
    over char k-shingle lists built in Python (a text of at most k chars
    is its own shingle; None text -> None signature)."""
    import duckdb
    import pyarrow as pa

    from refined_spark.functions.hashing import minhash_sig_sql

    con = duckdb.connect()

    def signatures(texts, k: int, num_hashes: int) -> list:
        sh = [None if t is None
              else [t[i:i + k] for i in range(max(len(t) - k + 1, 1))]
              for t in texts]
        t = pa.table({"i": pa.array(range(len(sh)), pa.int64()),
                      "sh": pa.array(sh, pa.list_(pa.string()))})
        con.register("shingles", t)
        rows = con.execute(
            f"SELECT {minhash_sig_sql('sh', num_hashes)} FROM shingles ORDER BY i"
        ).fetchall()
        con.unregister("shingles")
        return [None if s is None else list(r[0]) for s, r in zip(sh, rows)]

    return signatures
