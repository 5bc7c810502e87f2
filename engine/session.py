"""SparkSession builder with the engine's standard configuration.

- AQE on (coalesce partitions + skew-join splitting) — the engine's
  runtime analog of the reference's adaptive OCR retry
  (text_extractor.py:96-117) and its noise-salting
  (color_extractor.py:222-225).
- Arrow on for all pandas UDF exchange (the vectorized-inner-loop
  discipline mandated by BASELINE.json input_hint).
- UTC session timezone so parquet timestamps compare byte-identically
  with the DuckDB oracle.
- Parquet timestamps written as int64 micros, the Iceberg encoding:
  unlike INT96, their footers carry min/max, which TableIO's lineage
  reads instead of scanning the files it just wrote.
- a fixed DEFAULT_SHUFFLE_PARTITIONS (32) unless the caller or
  SPARK_GRAFT_SHUFFLE overrides it; AQE coalesces shuffles that carry
  no explicit count. On a real cluster set it per job (≈2-3× total
  executor cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def build_session(
    app_name: str = "transcript-feature-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Master resolution order: explicit arg > env > spark-submit's
    # --master (already present as spark.master in the submitted conf)
    # > standalone local default. Unconditionally calling .master()
    # OVERRODE spark-submit's cluster master — a batch job has no
    # active session, so the entrypoint's build_session call would
    # silently pin a 10^12-turn job to local[32] on the driver node.
    master = master or os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        from pyspark import SparkConf

        if not SparkConf().contains("spark.master"):
            master = "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE", DEFAULT_SHUFFLE_PARTITIONS)
    )
    b = SparkSession.builder.appName(app_name)
    if master is not None:
        b = b.master(master)
    b = (
        b.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # pandas kernels bound memory by Arrow batch size; large groups are
        # chunked by the salt layer (operators/skew.py), not by Spark.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
