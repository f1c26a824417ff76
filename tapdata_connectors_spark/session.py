"""SparkSession factory with CDC-ingest-appropriate defaults.

Scale notes (100 TB / 1000-executor design, tested on local[N]):
- AQE on: runtime coalesce + skew-join split is the backstop for residual
  skew after our explicit salting (SURVEY.md §4 "Skew handling").
- shuffle.partitions defaults to the local core count; on a real cluster
  this is set to ~2-3x total cores via spark-submit conf.
- Arrow enabled: every Python-side transform in this engine is a vectorized
  pandas UDF (input_hint: "no per-row Python").
- UTC session TZ so parquet timestamps compare bit-exactly with the DuckDB
  oracle (which is UTC-naive).
- Driver heap (`spark.driver.memory`) defaults to
  min(16g, floor(0.75 x physical RAM / 1.40)) in MiB; SPARK_GRAFT_DRIVER_MEM
  overrides it. 0.75 is the Spark "Hardware Provisioning" guide's ceiling
  (give Spark at most 75% of a machine's memory); 1.40 is 1 +
  `spark.driver.memoryOverheadFactor` for non-JVM jobs (0.40 in the Spark
  configuration docs), and this engine runs Arrow pandas UDFs in Python
  workers. In local mode the one JVM is driver and executor at once: with a
  heap larger than RAM, G1 and the unified memory manager see no reason to
  collect, spill or evict, so the process grows past physical RAM and the
  kernel OOM-kills it; no Java OutOfMemoryError is raised. A 16 GiB host
  gets 8777m; hosts with >= 29.9 GiB keep 16g.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem(phys_bytes: int) -> str:
    """Default driver heap for a host with `phys_bytes` of physical RAM.

    min(16g, floor(0.75 * phys_bytes / 1.40)) in MiB; see "Scale notes".
    """
    mib = phys_bytes * 75 // (140 * 1024 * 1024)
    return "16g" if mib >= 16 * 1024 else f"{mib}m"


def _driver_mem() -> str:
    explicit = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if explicit:
        return explicit
    try:
        phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError):  # no sysconf, e.g. Windows
        return "16g"
    return _default_driver_mem(phys)


def build_session(
    master: str | None = None,
    app_name: str = "tapdata_connectors_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism in local mode; never the 200 default
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("*", "") else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # INT96 (the historical default) carries no parquet min/max stats,
        # which silently disables both parquet row-group pushdown and the
        # lake's manifest-bounds file skipping (lake/stats.py) on ts cols
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _driver_mem())
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def submit_session(
    app_name: str = "tapdata_connectors_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Session factory for `spark-submit` entry points (jobs/replay_job.py).

    Unlike build_session, this NEVER sets a master, deploy mode, or driver
    memory — those belong to the spark-submit command line (the north
    rule's `spark-submit --py-files` shape: cluster topology is the
    operator's decision, not the job's). Only SQL-layer defaults that the
    engine depends on for correctness/portability are applied, and each
    yields to an explicit `--conf` from the submit command: under
    spark-submit no session exists yet and getOrCreate applies builder
    options ON TOP of the submit-provided SparkConf, so each default is
    set only when the submit conf does not already carry the key
    (advisor item — the r5 code documented the yield but overrode).
    `extra_conf` is the CALLER's explicit choice and always applies.
    shuffle.partitions is left to the cluster default unless passed via
    extra_conf or --conf.
    """
    from pyspark import SparkConf

    submitted = SparkConf()  # loads the spark-submit-provided properties
    builder = SparkSession.builder.appName(app_name)
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.compression.codec": "snappy",
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    }.items():
        if not submitted.contains(k):
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
