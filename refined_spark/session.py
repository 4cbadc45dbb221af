"""SparkSession factory with scale-oriented defaults.

Designed for a 1000-executor cluster reading ~100 TB; tested on local[N].
Key choices:
  - AQE on (runtime coalescing, skew-join splitting) — the reference never
    faces shuffle skew because its alias lookup is an O(1) dict probe
    (/root/reference/src/refined/doc_preprocessing/candidate_generator.py:62-72);
    a distributed join on surface_form skews on hot aliases, so we rely on
    AQE + explicit salting (operators/pem.py).
  - Arrow enabled for pandas UDFs (all Python kernels are Arrow-batched).
  - shuffle partitions sized for the local test harness; on a real cluster
    set spark.sql.shuffle.partitions ~ 2-3x total cores and let AQE coalesce.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def _default_driver_memory() -> str:
    """Half of MemAvailable, capped at 48g and floored at 1g. In local mode
    the driver heap holds every executor, and a fixed 48g let the JVM grow
    past the RAM of a smaller host until the kernel killed it."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    mb = int(line.split()[1]) // 1024
                    return f"{max(1024, min(48 * 1024, mb // 2))}m"
    except OSError:
        pass
    return "48g"


def get_spark(
    app_name: str = "refined_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    scale_profile: bool = False,
) -> SparkSession:
    """scale_profile=False (default): local/interactive profile — Spark's
    stock lz4 codec and shuffle buffers, shuffle partitions ~ cores. This is
    the right config for a single-node sf0.1 run where shuffles fit in the
    page cache and compression CPU is pure overhead (A/B in BENCH.md:
    zstd + 96 partitions + aggressive split knobs cost +36-53% on the
    shuffle-heavy headline queries at this scale).

    scale_profile=True: cluster-oriented knobs for jobs whose cost model is
    the 100 TB one — zstd shuffle compression (~35% smaller exchanges; the
    network/disk bill dominates CPU there), 1 MB shuffle file buffers
    (fewer syscalls per spill), shuffle partitions ~ 3x cores (straggler
    slack, AQE coalesces back), and file-split knobs that keep small inputs
    from starving a wide executor pool. The scaling benchmark (bench.py
    --scaling) uses this profile at BOTH parallelism levels — a real
    cluster job ships one config and runs on N or 4N executors."""
    # Allocator hygiene for the Python workers (inherited from this process
    # by the JVM -> pyspark.daemon -> forked workers; on a standalone/YARN
    # cluster set the same via spark.executorEnv.*). With one Arrow-batched
    # worker per core, allocators that serve big blocks straight from
    # mmap/munmap (glibc above its threshold; Arrow's bundled jemalloc with
    # aggressive purge) trigger TLB-shootdown IPIs across every core on
    # each free — measured >80% kernel time and a 30-70x per-worker
    # slowdown at 32 workers on this host. Keeping buffers in reusable
    # heap/arena memory removes the syscall storm; the hot kernels are
    # additionally written block-wise (operators/scoring.py) so their
    # working set recycles a few small buffers regardless of allocator.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(256 * 1024 * 1024))
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", str(256 * 1024 * 1024))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master == "local[$SPARK_GRAFT_CPUS]" or (master == "local[*]" and cpus):
        master = f"local[{cpus}]"

    # the cpus this process may run on, which is what local[*] gets
    n_cores = len(os.sched_getaffinity(0))
    if master.startswith("local["):
        inner = master[6:-1]
        if inner.isdigit():
            n_cores = int(inner)

    if shuffle_partitions is None:
        shuffle_partitions = 3 * n_cores if scale_profile else n_cores

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's empty-relation propagation replaces a subtree with an empty
        # LocalTableScan once a stage observes 0 rows — eliminating any
        # CollectMetrics (df.observe) node in that subtree, after which
        # Observation.get returns a schemaless row and pyspark's toPyRow
        # asserts. This engine uses Observations for lineage telemetry (A9)
        # and no-silent-caps reporting (LSH bucket cap), and the metric
        # matters MOST exactly when the output collapses to empty (all
        # buckets dropped), so the rule is excluded. Cost ~0: the rule only
        # short-circuits queries whose intermediate result is already empty.
        .config(
            "spark.sql.adaptive.optimizer.excludedRules",
            "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation",
        )
        # InferFiltersFromGenerate injects `size(arr) > 0 AND isnotnull(arr)`
        # below every explode/posexplode — with the generator's WHOLE child
        # expression inlined into the predicate, outside the reach of
        # subexpression elimination. For this engine's explodes the array is
        # an expensive computed chain (token shingles, hash signatures,
        # synthetic span cases) that is never empty, so the rule only
        # re-evaluates the chain per row: the n-gram inverted-index scan
        # measured 46 s with the rule and 1.4 s without it at sf1.0
        # (q_minhash_signatures had already hit this and dodged it with
        # posexplode_outer — this removes the trap engine-wide). Row
        # results are unaffected: the rule is a pure pre-filter.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Scan-split floor. Split size is max(openCostInBytes,
        # bytes/minPartitionNum) capped at maxPartitionBytes, and
        # minPartitionNum defaults to the core count — but the stock 4 MB
        # openCostInBytes floor overrides that for small single-file
        # inputs: a 6 MB parquet becomes 2 splits, so every scan-bound
        # expression query (fingerprint, lang_id, quality_score, ...) ran
        # on 2 of 32 cores (measured 3-6 s each; CPU-bound map work). A
        # 256 KB floor keeps tiny-file packing sane while letting
        # minPartitionNum spread small corpora over the executor pool; on
        # a real cluster inputs have thousands of >= 128 MB splits and
        # this knob never decides anything.
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
    )
    if scale_profile:
        # scan parallelism: split files so every core gets work even on
        # small inputs. Spark's split size is max(openCostInBytes,
        # bytes/minPartitionNum) capped at maxPartitionBytes; the 4 MB
        # openCost default floors a 60 MB table at ~15 splits — starving a
        # 32-core pool (measured: the doc-embedding UDF stage ran 15 tasks
        # on 32 cores). The floor is tied to the SHUFFLE partition count,
        # not the core count, for two reasons: (a) a cluster job ships ONE
        # config and runs at N or 4N executors — a core-derived floor means
        # the two arms of an N->4N comparison silently run different scan
        # plans; (b) 2x-cores splits give a wide arm only ~2 waves of scan
        # tasks, so one straggling Arrow batch parks a quarter of the arm
        # in the stage tail (measured round 4: 16-core scoring busy=14.25
        # of 16). At 100 TB inputs have thousands of >=128 MB splits and
        # this knob never fires.
        b = (
            b.config("spark.sql.files.openCostInBytes", str(1024 * 1024))
            .config("spark.sql.files.minPartitionNum",
                    str(max(shuffle_partitions, 2 * n_cores)))
            # AQE coalesce target. The 64 MB default coalesces a ~1 GB
            # exchange to ~18 partitions — 1.1 WAVES on a 16-core arm, so
            # the last 2 tasks run with 14 cores idle (measured: clustering
            # stages at 78% utilization, single-task tails in every stage).
            # 8 MB keeps >= 4 waves per stage even for the scoring stage's
            # slim-row exchange (round 4: at 16 MB the 16-core arm idled
            # 1.6 cores in stage tails, busy=14.4 of 16); on a real
            # cluster partitions stay ~thousands for 100 TB exchanges and
            # this knob only trims the tail of the FINAL stages.
            .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
            # zstd shuffles ~35% smaller than lz4 on this engine's
            # numeric-heavy exchanges for a little extra CPU — the right
            # trade when storage/network is the scarce resource (the network
            # bill at 100 TB). Bigger file buffers cut syscalls per write.
            .config("spark.io.compression.codec", "zstd")
            .config("spark.shuffle.file.buffer", "1m")
            # Arrow batch size 10k -> 100k rows at scale: every batch is a
            # JVM<->Python worker round trip (socket writes, epoll timed
            # waits, allocator churn on both sides), and that per-batch
            # kernel work is what stops an N->4N core scale-up long before
            # user CPU does. Measured on the 3.24M-doc e2e corpus at 16
            # cores (A/B in BENCH.md): 10k batches ran 411-463 s
            # with 3.1-5.2 cores of machine-wide sys time; 100k batches
            # 370 s / 3.2 sys. Worst-case batch memory stays modest (100k
            # slim candidate rows ~ 10 MB; 100k docs of fixture text
            # ~ 100 MB per worker) against the 48 GB heap.
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        )
    # shuffle/checkpoint spill directory: this sandbox's virtual disk is
    # IOPS-throttled and shared, which makes shuffle-heavy stages both slow
    # and noisy; tmpfs removes disk from the measurement. Opt-in only
    # (REFINED_SPARK_TMPFS_SHUFFLE=1, set by bench.py and the test suite):
    # /dev/shm exists on every Linux host and is typically capped at 50% RAM,
    # so defaulting shuffle spill into it would break sizeable real runs.
    if (
        os.environ.get("REFINED_SPARK_TMPFS_SHUFFLE") == "1"
        and os.path.isdir("/dev/shm")
        and not os.environ.get("SPARK_LOCAL_DIRS")
    ):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        b = b.config("spark.local.dir", shm)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def spread_scan(df: DataFrame) -> DataFrame:
    """Repartition a scan to one partition per core ONLY when fewer splits
    than cores hold rows, so a scan with a split per core (any 100 TB
    input) pays no extra shuffle. Parquet splits by byte range but reads by
    row group: a one-row-group file cut into 4 splits is still 1 busy task
    (sf0.1 lineitem at local[4]: rows [0, 600000, 0, 0]), so with fewer
    files than cores the footers' row-group count caps the split count; a
    footer that cannot be read counts as one."""
    import pyarrow.parquet as pq
    from pyarrow import fs

    cores = df.sparkSession.sparkContext.defaultParallelism
    splits = df.rdd.getNumPartitions()
    files = df.inputFiles()
    if files and len(files) < cores:
        groups = 0
        for uri in files:
            try:
                filesystem, path = fs.FileSystem.from_uri(uri)
                with filesystem.open_input_file(path) as f:
                    groups += pq.read_metadata(f).num_row_groups
            except (OSError, ValueError):
                groups += 1
        splits = min(splits, groups)
    return df.repartition(cores) if splits < cores else df
