"""SparkSession factory for the engine's deployed shape: one-shot,
driver-bound jobs.

The reference runs single-process (SURVEY.md §4); we instead declare plans and
let Catalyst/AQE pick physical strategy. Every ACI entry point is a one-shot
process: `sync-app run` and `sync-mail run` run once per deploy, and the `ddb`
CLI once per command or per stdin batch. Their driver JVM lives for seconds,
and their cost is Spark job count and driver-side planning, not data. The
defaults below serve that shape:

- The driver JVM compiles with C1 only (`-XX:TieredStopAtLevel=1`, set as
  `spark.driver.defaultJavaOptions`, which Spark puts before a caller's
  `spark.driver.extraJavaOptions`, so those are kept). A young JVM keeps
  compiling Spark's planner code with C2 and exits before that work pays
  back: on a loop of ddb lookups over the test fixtures (4 vCPU,
  `local[4]`), the compiler threads took 37% of the JVM's CPU with tiered
  C2 and 12% with C1 only. C1 alone would get the JVM's 48 MB non-tiered
  code cache, which a 60 s lookup loop fills in about 25 s, and a full
  cache stops all compiling; `-XX:ReservedCodeCacheSize=240m` keeps the
  tiered default. Measured with perfbench (4 vCPU, tiered C2 -> these
  options, medians of alternating pairs): `cpu_ms_per_op` 362 -> 167 ms on
  `aci_ddb_lookup` (10 pairs) and 14.6 -> 6.9 s on `aci_sync_app` (6
  pairs); set-up time and peak RSS were lower on both.
  The trade-off: a long-lived JVM earns C2 back. In a 60 s lookup window
  C1 still used less CPU per op (129-149 against 189-227 ms, two runs
  each), but whether it served fewer ops at a higher p50 varied from run
  to run. The test suite, one long-lived JVM, ran 22% longer (548 -> 671
  s). A
  long-lived caller restores C2 with
  ``get_spark(extra_conf={"spark.driver.defaultJavaOptions": ""})``.
  Executor JVMs of a real cluster are not configured here.
- PySpark's call-site capture is off
  (`spark.python.sql.dataFrameDebugging.enabled=false`). With it on, every
  Column function makes about 8 more py4j calls to record where it was
  called from, which is about half of the driver-side build of an ACI query.
  PySpark reads the conf once per process from the first active session, so
  it is set in the builder. Error messages lose the Python call site of the
  failing expression, not the error itself.
- AQE on (runtime coalesce + skew-join splitting), so one plan serves the
  test fixtures and a production-sized source without hand-tuned shuffle
  partition counts.
- Broadcast threshold raised: every dimension in both the ACI model (clubs,
  regions, roles, taxonomy) and the TPC-H test star (region, nation, supplier,
  part) is tiny relative to the fact tables; broadcast-hash-join avoids
  shuffling the large side.
- UTC session timezone so date semantics match the DuckDB oracle and are
  cluster-location-independent.
- Arrow enabled: any pandas_udf / toPandas path moves columnar batches, not
  pickled rows.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "aci-export-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the module's defaults.

    In tests/bench this is ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    same conf block applies unchanged — nothing here is local-mode-specific
    except the master fallback. ``extra_conf`` is applied last and overrides
    any default. The JVM options take effect only when this call launches the
    JVM (the first session of the process).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Whole-stage-codegen class cache. The default (100 entries) is
        # sized for a handful of hot queries; this engine's registry runs
        # hundreds of distinct queries per session (bench sweep, driver
        # correctness pass, a production driver serving a query mix), and
        # at 100 entries every invocation EVICTS-then-RECOMPILES every
        # generated class — paying janino compilation on the driver plus a
        # fresh C2 JIT warmup on every executor core, per query, per rep.
        # Measured on a 60-query interleaved 3-rep sweep at sf0.1:
        # 74.6 s wall / 445 CPU-s at the default vs 57.9 s / 276 CPU-s at
        # 5000 (-22% wall, -38% CPU), with per-query numbers unchanged in
        # shape. Size is driver-memory-bounded (compiled classes, ~10-100
        # KB each); 5000 covers ~300 queries x ~15 codegen units.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Scan-split floor. The 4 MiB default models HDFS-era per-file open
        # cost; it also means any table under ~4 MiB x cores scans as a
        # handful of tasks, serializing every scan-adjacent stage (filter,
        # partial agg, explode) regardless of cluster size. On NVMe/object
        # storage a parquet open is far cheaper than 4 MiB of reads; 256 KiB
        # keeps small-file scans parallel while maxPartitionBytes still
        # bounds split counts on real lakes. 60-query A/B at sf0.1:
        # 66.9 -> 59.3 s wall (-11%) at flat CPU. A deployment with
        # genuinely slow file opens raises it through `extra_conf`.
        .config("spark.sql.files.openCostInBytes", str(256 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        # one-shot driver: C1 only, and no Python call-site capture (module
        # docstring)
        .config("spark.driver.defaultJavaOptions",
                "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def persisted(df: DataFrame):
    """`df` persisted for the block and released when it exits, also on an
    exception: a run's shared intermediate never outlives the run.

    Spark's CacheManager shares one entry between plans that are equal after
    canonicalization, so if a plan-equal frame is already cached (by another
    owner), the block reads that entry and leaves it cached at exit."""
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df.persist()
    try:
        yield df
    finally:
        if owned:
            df.unpersist()
