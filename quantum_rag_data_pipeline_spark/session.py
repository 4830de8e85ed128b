"""SparkSession factory.

One place to pin the session semantics the whole engine depends on:

- **UTC timezone** — the reference works in naive local timestamps
  (``TIMESTAMP WITHOUT TIME ZONE``, reference
  ``src/scripts/create_weather_table.py:53``); pinning the session to UTC
  makes Spark's ``TimestampType`` behave identically.
- **ANSI off** — preserves the reference's permissive-cast semantics
  (bad cells become NULL and are dropped, reference ``src/main.py:74-79``)
  via ``try_cast``-like behavior instead of runtime errors.
- **AQE on** — runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast selection; this is the main lever that
  makes the same plan work at sf0.001 locally and at 100 TB on a cluster.
- **Arrow on** — every pandas UDF moves data in Arrow batches, not pickled
  rows.
- **The package ships to the Python workers** — pandas UDF closures import
  engine modules on the worker, so the package is zipped once per process
  and ``addPyFile``'d once per SparkContext: queries then run from any
  working directory without ``PYTHONPATH``, and on a cluster whose
  executors never had the package installed.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _ship_package(sc) -> None:
    """``addPyFile`` the package zip unless ``sc`` already has it. The
    zip holds the package's .py files and is built once per process, in
    the process's artifact root (removed at exit)."""
    pkg = os.path.dirname(os.path.abspath(__file__))
    name = os.path.basename(pkg) + ".zip"
    if any(f.rsplit("/", 1)[-1] == name for f in sc.listFiles):
        return
    from quantum_rag_data_pipeline_spark.paths import artifact_root

    out = os.path.join(artifact_root(), name)
    if not os.path.exists(out):
        import zipfile

        with zipfile.ZipFile(out + ".tmp", "w") as z:
            for dirpath, dirnames, files in os.walk(pkg):
                dirnames[:] = [d for d in dirnames if d != "__pycache__"]
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(dirpath, f)
                        z.write(full, os.path.relpath(full, os.path.dirname(pkg)))
        os.replace(out + ".tmp", out)
    sc.addPyFile(out)


def get_spark(
    app_name: str = "quantum-rag-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master``/``shuffle_partitions`` default from env so the same code
    runs under pytest (local[*], small shuffle counts) and on a real
    cluster (leave master unset; size shuffle partitions to ~2-3x total
    cores or let AQE coalesce from a high initial number).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-mode driver == all executors: size the heap for 32 task
        # slots (0.6×heap/32 per-task execution memory). 8g gave ~150MB a
        # slot and GC-thrashed the heavy queries (2-5× run-to-run
        # variance); 48g on the 128 GiB box makes timings stable. On a
        # real cluster this conf is ignored in favor of executor sizing.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp — read as long, converted in the registry.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark.sparkContext)
    return spark


class cache_scope:
    """Bound the lifetime of internal ``.cache()`` entries.

    Several corpus queries cache a mid-plan frame that three-plus plan
    branches consume (see ``operators/dedup.py`` — without the cache the
    lineage re-runs per branch). Spark's CacheManager keeps those entries
    until ``clearCache``/``unpersist`` — they are NOT reclaimed by the
    ContextCleaner like checkpoint RDDs — so a long-lived session that
    invokes many corpus queries without clearing accumulates them and
    degrades later queries 2-4x (measured, round 1). The in-repo
    harnesses (bench.py, tools/oracle_check.py, tools/explain_audit.py,
    tools/scale_curve.py) clear per query; external callers get the same
    guarantee with::

        with cache_scope(spark):
            rows = QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
        # all cache entries created inside the scope are gone here

    The exit clears the session's ENTIRE cache (the CacheManager is not
    enumerable from Python, so scoped-only unpersist isn't expressible);
    callers holding their own long-lived cached frames should unpersist
    per-frame instead.
    """

    def __init__(self, spark: SparkSession):
        self._spark = spark

    def __enter__(self) -> SparkSession:
        return self._spark

    def __exit__(self, *exc) -> None:
        self._spark.catalog.clearCache()
