"""SparkSession builder tuned for the crawl engine.

Local testing runs on ``local[N]``; the same configs are what we'd submit
with ``spark-submit --py-files`` on a real cluster (AQE, Arrow, shuffle
partitions sized to the frontier scale).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "crawl-frontier",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing + skew-join splitting. Fetch-cost skew by
        # host is additionally handled explicitly: the engine salts the
        # wave by (host, key) for fetchers that fetch in place.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # The Python stages that remain (HttpFetcher's mapInPandas, the
        # pandas-UDF parse for rules the JVM parse cannot express) are
        # Arrow-batched: no per-row Python. Parse runs in the JVM by default.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Python workers: keep the pool warm. Without these, UDF-heavy
        # rounds were measured spending >80% of task time re-forking and
        # re-importing pandas ("time to initialize Python workers" ~6200s
        # vs 840s of actual UDF run time on one bench crawl).
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.worker.idleTimeoutSeconds", "0")
        .config("spark.python.factory.idleWorkerMaxPoolSize", "96")
        .config("spark.sql.session.timeZone", "UTC")
        # AQE re-plans fire a SparkListenerSQLAdaptiveExecutionUpdate whose
        # payload is the FULL pretty-printed physical plan; with this
        # engine's wide per-round plans (parse rule CASEs, canon bindings,
        # one Observation expression per task and count) the driver was
        # measured spending most of a fat round inside
        # TreeNode.generateTreeString — per
        # query stage, per job, independent of cluster size. Capping the
        # plan-string length bounds that cost; explain() output for humans
        # truncates past 256 KiB, which no debugging session ever reads.
        .config("spark.sql.maxPlanStringLength", str(256 * 1024))
        # partitioned-delta writes (parsed partitions on `ok`, 2 values):
        # with concurrent writers the task streams rows to both open files
        # instead of sort-by-partition-value first — the sort was measured
        # adding ~15% to the fused round's main stage at 16 cores
        .config("spark.sql.maxConcurrentOutputFileWriters", "4")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    # Shuffle/spill files: on a real cluster these land on every executor's
    # local disks (capacity and bandwidth scale with N executors). This
    # sandbox has ONE ~190 MB/s disk shared by all cores — a core-count-
    # independent floor that fakes anti-scaling — so the bench points
    # spark.local.dir at tmpfs (same argument as the tmpfs engine state;
    # see bench.py). Opt-in via env to leave normal runs on disk.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    # ad-hoc conf overrides for profiling experiments:
    #   SPARK_GRAFT_CONF="k1=v1;k2=v2"
    for kv in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            b = b.config(k.strip(), v.strip())
    spark = b.getOrCreate()
    # Warm the ICU collation machinery ONCE, single-threaded. Spark 4.x
    # routes interpreted-path lower() (e.g. inside higher-order-function
    # lambdas, which are CodegenFallback) through CollationAwareUTF8String,
    # whose static init runs ICU case-map table construction; when N
    # executor threads race to trigger that class-init inside a fat stage,
    # the one initializing thread was measured burning minutes of CPU while
    # the rest block on the class-init monitor (~5s when done alone here).
    spark.sql(
        "select element_at(transform(array('A'), x -> lower(x)), 1)"
    ).collect()
    return spark
