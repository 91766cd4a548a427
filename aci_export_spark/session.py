"""SparkSession factory tuned for the engine's workload shape.

The reference runs single-process (SURVEY.md §4); we instead declare plans and
let Catalyst/AQE pick physical strategy. The defaults below are the ones that
matter at 100 TB:

- AQE on (runtime coalesce + skew-join splitting) so a plan tuned at sf0.1
  survives a 1000x scale-up without hand-retuning shuffle partition counts.
- Broadcast threshold raised: every dimension in both the ACI model (clubs,
  regions, roles, taxonomy) and the TPC-H test star (region, nation, supplier,
  part) is tiny relative to the fact tables; broadcast-hash-join avoids
  shuffling the 100 TB side entirely.
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
    """Build (or fetch) a SparkSession with scale-conscious defaults.

    In tests/bench this is ``local[$SPARK_GRAFT_CPUS]``; on a real cluster the
    same conf block applies unchanged — nothing here is local-mode-specific
    except the master fallback.
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
