"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every default here is chosen to
also hold on a large multi-executor cluster: AQE on (runtime skew-join
splitting + partition coalescing stands in for the reference's two-phase
skew-balanced shuffle, mrblast.cpp:556-575), Arrow enabled for the pandas
UDF kernel path, and shuffle partitions sized by env rather than the 200
default.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def master_cpus(master: str) -> int | None:
    """Cores a local master honours (``local[N]`` / ``local[N,F]`` ->
    N, ``local`` -> 1); None when the master string does not say
    (``local[*]``, a cluster URL). Read it off the session's master to
    report the parallelism a run actually used."""
    m = re.fullmatch(r"local\[(\d+)(?:,\s*\d+)?\]", master.strip())
    if m:
        return int(m.group(1))
    return 1 if master.strip() == "local" else None


def get_spark(app_name: str = "mr_mpi_blast_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # parquet scans: keep partitions big enough that task overhead
        # does not dominate at 100 TB (the reference's BLOCKSIZE knob,
        # doc/USERGUIDE:498-506, is exactly this trade).
        .config("spark.sql.files.maxPartitionBytes", "256m")
        # dimension/signature tables a bit over the 10 MB default (e.g.
        # the per-doc minhash signature table, ~2.4 KB/row) still belong
        # on the broadcast side; AQE sizes from actual runtime stats, so
        # corpus-sized inputs keep shuffle joins. Measured 2.3x on the
        # LSH verify join at sf0.1.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # events.parquet carries TIMESTAMP(NANOS) which Spark has no
        # native type for; read as long and convert (see load_events).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # honor SORTED BY metadata of bucketed scans when each bucket
        # is a single file (operators/bucketing.py writes exactly
        # that), so co-located joins skip the per-task Sort too —
        # off by default since 3.0 only because the file-count check
        # costs a listing on huge tables.
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def spread_for_compute(df, key: str | None = None):
    """Repartition to full parallelism before a compute-heavy per-row
    stage (hash on ``key`` when given — deterministic routing under
    task retry — else round-robin, fine for order-insensitive
    consumers like aggregates). On a real 100 TB input the scan
    already yields thousands of splits and this is a no-op; on a
    few-split local input it is the difference between 1 core and all
    of them. r12 note: the driver's testdata parquets are single
    row-group files, so a scan is ONE task no matter the split
    config — every expression-heavy pipeline (md5 sketches, gram
    explodes, codec UDFs) needs this spread or it runs 1-wide on a
    32-core box (traced in plans/r12)."""
    from pyspark.sql import functions as F
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    if key is None:
        return df.repartition(target)
    return df.repartition(target, F.col(key))


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one of the driver's synthetic tables as a DataFrame.

    The nanosAsLong conf is set here (runtime-settable) and not only in
    get_spark(): callers may hand us a bare SparkSession they built
    themselves, and an events.parquet that carries INT64
    TIMESTAMP(NANOS) cannot be read without it.

    Timestamp encodings seen across driver testdata generations, all
    handled: TIMESTAMP(NANOS) (surfaced as bigint nanos under
    nanosAsLong — converted to TIMESTAMP by integer division) and
    timestamp[us] with isAdjustedToUTC=false (surfaced as
    TIMESTAMP_NTZ — left as-is: NTZ is the exact analog of an
    oracle's naive TIMESTAMP, renders timezone-independently, and
    every consumer goes through operators.temporal.epoch_us for
    tz-independent epoch arithmetic).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanosAsLong surfaced raw int64 nanoseconds; integer-divide to
        # micros (double math would lose precision at 1e18 magnitudes).
        from pyspark.sql import functions as F
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df
