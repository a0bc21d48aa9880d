"""SparkSession factory tuned for the validation engine.

Defaults chosen for scale (see SURVEY.md §4): AQE on (runtime coalescing +
skew-join splitting), Arrow on (every pandas UDF crosses via Arrow batches,
never per-row pickling), shuffle partitions sized to the parallelism level so
local benchmarks at local[8] vs local[32] exercise the same plan shapes a
multi-executor cluster would.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _resolve_master(cpus: int) -> str:
    """PYAD2_MASTER overrides the local[N] default so the SAME entry
    points (run_suite, perfbench) run under a genuinely multi-executor
    master — e.g. spark-submit --master local-cluster[4,1,3072] (separate
    executor JVMs, real serialization + --py-files shipping via
    tools/submit_suite.py). ``cpus`` then only sizes shuffle partitions;
    the master decides the slots."""
    return os.environ.get("PYAD2_MASTER") or (
        f"local[{cpus}]" if cpus else "local[*]"
    )


def get_spark(
    cpus: int | None = None,
    app_name: str = "pyad2-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cpus=None → local[*]. ``shuffle_partitions`` defaults to 2× the core
    count: big enough that AQE has room to coalesce, small enough that
    sf-small benchmarks aren't dominated by task scheduling.
    """
    if cpus is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cpus = int(env) if env else 0
    master = _resolve_master(cpus)
    n_shuffle = shuffle_partitions or max(2 * (cpus or os.cpu_count() or 8), 8)
    # -Xms must track the RESOLVED heap size: an extra_conf override of
    # spark.driver.memory below the env default would otherwise pair
    # -Xms8g with a smaller -Xmx and the JVM refuses to start
    driver_mem = (extra_conf or {}).get(
        "spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g")
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Adaptive execution: runtime partition coalescing, skew-join
        # splitting, dynamic join-strategy switch. At 100 TB this is what
        # keeps a skewed groupBy/join from stalling on one hot partition.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all pandas <-> Spark transfer (pandas UDFs, toPandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Bound Arrow batches by BYTES as well (Spark 4 knob): the audio
        # family ships ~34 KB binary payloads into mapInPandas, where the
        # 10k-row cap alone allows ~340 MB per batch — memory pressure +
        # no JVM/Python pipelining. 16 MB chunks measured audio_trim at a
        # stable ~2 s vs 4.7-11.3 s unbounded (sf1.0); narrow-row paths
        # hit the row cap first and are unaffected. Size-based, so the
        # bound is correct at any scale factor.
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "16m")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # Keep scan splits reasonable for local parquet; on a cluster this
        # is the knob that bounds per-task memory at 100 TB.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", driver_mem)
        # this class of host serializes first-touch page supply (~67 MB/s)
        # while reused pages run at memory speed: pre-touch the whole heap
        # once at startup (outside any measured region) so the JVM never
        # grows mid-job, and keep GC from shrinking/regrowing it.
        .config(
            "spark.driver.extraJavaOptions",
            "-Xms" + driver_mem + " -XX:+AlwaysPreTouch -XX:+UseParallelGC",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    iceberg_jar = _find_iceberg_jar()
    if iceberg_jar:
        # real Iceberg runtime present → extensions + a local hadoop
        # catalog; sources.catalog.open_table then returns IcebergTable
        warehouse = os.environ.get(
            "SPARK_ICEBERG_WAREHOUSE", "/tmp/pyad2_iceberg_warehouse"
        )
        builder = (
            builder.config("spark.jars", iceberg_jar)
            .config(
                "spark.sql.extensions",
                "org.apache.iceberg.spark.extensions"
                ".IcebergSparkSessionExtensions",
            )
            .config(
                "spark.sql.catalog.local", "org.apache.iceberg.spark.SparkCatalog"
            )
            .config("spark.sql.catalog.local.type", "hadoop")
            .config("spark.sql.catalog.local.warehouse", warehouse)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _find_iceberg_jar() -> str | None:
    """Probe for an Iceberg Spark runtime jar: $SPARK_ICEBERG_JAR first,
    then pyspark's own jars dir. Returns None when absent (this sandbox) —
    the catalog seam degrades to the parquet SnapshotTable."""
    env = os.environ.get("SPARK_ICEBERG_JAR")
    if env and os.path.exists(env):
        return env
    import pyspark

    jars_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    if os.path.isdir(jars_dir):
        for j in sorted(os.listdir(jars_dir)):
            if "iceberg-spark-runtime" in j:
                return os.path.join(jars_dir, j)
    return None
