"""SparkSession factory tuned for this engine.

The reference tunes throughput with ``ARROW_BATCH_SIZE`` /
``ARROW_MAX_PARTITIONS`` knobs (``src/main/java/org/neo4j/arrow/
Config.java:58-66``). The Spark equivalents are shuffle-partition count,
Arrow batch size, and AQE; we set scale-safe defaults here and let the
caller override anything via ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults chosen for correctness-at-scale first:
#: - AQE on (runtime coalesce + skew-join mitigation — replaces the
#:   reference's hand-rolled supernode cache for the common case),
#: - Arrow transfers on (the reference's whole value prop is columnar
#:   transport; Spark's Arrow path is the native equivalent),
#: - UTC session TZ (oracle comparisons; DuckDB timestamps are UTC-naive).
_BASE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE sizes post-shuffle partitions by COMPRESSED bytes. Graph id
    # columns (sequential longs) compress ~100x, so a 10M-row member
    # frame can coalesce to very few partitions and downstream fan-out
    # joins/aggs lose parallelism — a floor below the 64MB advisory
    # size keeps parallelism-first sizing in charge for compressible
    # shuffles. r6 calibration: the r5 value of 64k OVER-fragmented
    # small shuffles and cost a uniform ~1.3x on the graph-algorithm
    # family (triangle_counts 3.40s -> 2.41s, bfs_multisource 2.88 ->
    # 2.58, cms 2.89 -> 2.70 at sf0.1; khop3_in_nation 42.3 -> 35.5s
    # at sf1 — clean-session best-of-N, both scales). 1m keeps the
    # single-partition pathology away (a 100x-compressed 10M-row frame
    # still splits ~10 ways) without the per-task overhead; at cluster
    # scale total/parallelism >> 1m, so this is inert.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
    "spark.sql.session.timeZone": "UTC",
    # parquet scans: allow vectorized reader + pushdown (defaults, pinned
    # explicitly because the bench depends on them)
    "spark.sql.parquet.filterPushdown": "true",
    # Small-file scan parallelism: Spark sizes splits as
    # min(maxPartitionBytes, max(openCostInBytes, totalBytes/minPartitionNum)),
    # so with the 4 MB default open cost a 6 MB documents.parquet is ONE
    # task — and a CPU-heavy narrow stage (regex token counts, quality
    # scoring) then runs on one core of 32 (the r4 sf1 'superlinear'
    # outliers: quality_filtered_corpus 9-10x wall at 10x data). A 256k
    # open cost lets small compressed-text files split down to row-group
    # granularity; at real scale files exceed maxPartitionBytes and both
    # knobs are inert (minPartitionNum defaults to defaultParallelism).
    "spark.sql.files.openCostInBytes": "262144",
    # recursive CTEs back the unbounded Cypher varlength expansion
    # (cypher._varlength_recursive_sql); the 1M-row default safety stop
    # aborts legitimate path enumerations at sf0.1+ (6M-edge anchor).
    # Sized to the expected frontier, not effectively-unlimited: the
    # registry's walk-mode enumerations total ~13M rows at sf0.1 /
    # ~130M at sf1, so 200M keeps ~1.5x headroom while remaining a
    # real backstop (10x tighter than the previous 2e9). Depth is
    # bounded by the emitted hop guard (UNBOUNDED_HOP_GUARD); breadth
    # for DISTINCT-shaped queries is bounded by the distinct-frontier
    # compilation, so only multiplicity-sensitive walk counting ever
    # approaches this limit. (Scoping the raise per-statement is not
    # possible: Spark reads this conf at action time, not plan time.)
    "spark.sql.cteRecursionRowLimit": "200000000",
    # the driver's events table carries timestamp[ns]; Spark's reader
    # rejects TIMESTAMP(NANOS) unless read as long (converted to a real
    # timestamp in sources.tpch.load_table)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # the Python DataSource reader (sources/arrow_source.py) prunes
    # partition directories via pushFilters — off by default in 4.1
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    # Janino compiles each distinct generated class once per JVM and
    # keeps it in an LRU cache of 100 entries by default. One k-hop
    # needs ~60 entries and a mixed read/write cycle ~135, so at 100 the
    # cycle evicted its own classes and re-compiled them on every run
    # (0.5-0.8 s of compile time per cycle of the cypher_rw benchmark,
    # 4 cores).
    # A whole cypher_rw run, set-ups included, compiles ~250 distinct
    # entries; an entry holds ~5 KB of source and ~5.5 KB of bytecode
    # (2.4 classes of ~2.3 KB), so 1,000 entries cost ~10-15 MB of JVM
    # memory and leave room for a wider query mix. Static: read
    # once, when the JVM's first class is generated.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # The cache is keyed by the generated source. By default a
    # whole-stage class is named after its codegen stage id, and AQE
    # numbers stages in the order it plans them, which follows the order
    # earlier stages finish: the same stage of a re-run k-hop came back
    # under a new name and missed the cache (a re-registered 40-node
    # graph's k-hop compiled 25, 21 and 10 classes on its 2nd-4th runs;
    # 0, 0 and 8 without the id).
    "spark.sql.codegen.useIdInClassName": "false",
}


def get_session(
    app_name: str = "neo4j_arrow_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for the test/bench environment; on a real cluster pass ``None`` with
    a pre-configured environment and the builder leaves master alone.
    """
    # Pandas-UDF closures are pickled by module reference; the Python
    # worker processes must be able to import this package even when
    # the driver script runs from elsewhere. Local mode: export the
    # package root on PYTHONPATH before the JVM forks workers. On a
    # real cluster, ship the package via --py-files / a wheel instead.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )

    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = dict(_BASE_CONF)
    if master.startswith("local"):
        # single-JVM: driver memory is the only knob; leave headroom.
        conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # shuffle width follows the actual core count instead of a
        # constant tuned for one box (the driver benches the same code
        # at several SPARK_GRAFT_CPUS values): one wave of post-shuffle
        # tasks per exchange at any width, with AQE coalescing still
        # merging small outputs below it. On a cluster (non-local
        # master) this is left to the deployment's own sizing
        # (spark.sql.shuffle.partitions default / dynamic allocation).
        cores = master[master.find("[") + 1 : master.find("]")]
        if not cores.isdigit():  # "local" / "local[*]"
            cores = str(os.cpu_count() or 32)
        conf.setdefault("spark.sql.shuffle.partitions", cores)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
