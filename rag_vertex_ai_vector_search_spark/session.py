"""SparkSession factory tuned for the engine.

Local mode is a single JVM; on a real cluster the same configs hold
(AQE, Arrow, UTC timestamps), only memory/parallelism sizing changes.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def default_cpus() -> str:
    """``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run
    on (its affinity mask): a fixed ``local[32]`` on a 4-CPU host turns
    every tiny job into 32 tasks."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0))
    )

# At 100 TB these become cluster-submit configs; the semantic ones
# (timezone, Arrow, AQE, parquet pushdown) are scale-independent.
_BASE_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size bounds pandas-UDF memory per batch; 10k rows of a
    # 768-dim float vector is ~30 MB -- safe at executor defaults.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # fixture `events` parquet uses TIMESTAMP(NANOS); see sources/tables.py
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    # saveAsTable target for bucketed layouts (static conf; keep out of
    # the repo tree)
    "spark.sql.warehouse.dir": os.path.join(
        tempfile.gettempdir(), "spark_graft_warehouse"
    ),
}


def get_spark(app_name: str = "rag_vertex_ai_vector_search_spark",
              master: str | None = None,
              extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[N]`` and the shuffle partitions to
    N, with N from ``default_cpus()``, so tests and bench share sizing
    with the driver harness.
    """
    cpus = default_cpus()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    confs = {**_BASE_CONFS, "spark.sql.shuffle.partitions": cpus}
    for k, v in confs.items():
        builder = builder.config(k, v)
    if extra_confs:
        for k, v in extra_confs.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
