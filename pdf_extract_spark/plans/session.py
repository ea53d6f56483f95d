"""SparkSession factory tuned for the extraction workload.

Scale notes (100 TB / 1000-executor design, tested on local[N]):
  * Arrow batches are capped small — rows carry whole PDFs (MB-scale), so
    the default 10k records/batch would make multi-GB batches.
  * AQE on: runtime coalescing + skew splitting complement our explicit
    doc_id repartition (BASELINE.json north_rule demands explicit handling;
    AQE alone only fixes join/agg skew, not UDF-stage skew).
  * shuffle.partitions default sized to cores for local mode; a real
    cluster job overrides via spark-submit --conf.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pdf_extract_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    local_dir = os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local")
    try:
        os.makedirs(local_dir, exist_ok=True)
    except OSError:
        local_dir = None
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PDF rows are MB-scale: bound Arrow batches by BYTES (the real
        # memory guard for a binary-payload pipeline), not by a tiny row
        # count — row-count-64 batches serialize 3-7x slower at high task
        # parallelism (measured: 358 -> 2539 docs/s at local[32]).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Shuffle/spill to tmpfs: the sandbox VM's virtual disk throttles after
    # sustained writes (observed: idle-CPU iowait stalls with 10-100x
    # variance on later queries in a session). A real cluster uses local
    # NVMe; /dev/shm is the sandbox equivalent.
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
