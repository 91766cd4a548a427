"""Table sources.

Reference counterpart: `ddb/src/lib.rs:21-33` (MySQL pool) and the per-query
base relations. In Spark a "source" is a lazily-scanned DataFrame; predicate
pushdown and column pruning reach the parquet (or JDBC) scan automatically, so
readers stay dumb and the queries stay declarative.

Two source families:
- parquet test tables (driver-generated TPC-H-ish star, TESTDATA.md) — used by
  the correctness/bench harness;
- JDBC (`read_jdbc_table`) — the production path the reference used against
  MySQL/Postgres. Partitioned reads on a numeric key so a 1000-executor
  cluster fans the scan out instead of serializing through one connection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: Tables the driver generates at each scale factor (TESTDATA.md).
TEST_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. Scans stay lazy; Catalyst prunes columns/filters.

    The driver's `events` table carries nanosecond parquet timestamps, which
    Spark only reads via the nanos-as-long escape hatch (runtime-settable).
    We normalize `ts` back to TIMESTAMP_NTZ microseconds so downstream date
    logic matches the DuckDB oracle's naive-timestamp view of the same file.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        # integer division keeps full precision (ts/1000 via double would
        # lose sub-second bits for ~1.7e18 nanos values)
        df = df.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ)")
        )
    return df


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 32,
    fetchsize: int = 10_000,
    **options: str,
) -> DataFrame:
    """Production source: partitioned JDBC scan.

    Mirrors the reference's MySQL source (`ddb/src/lib.rs:21-33`) but
    distributed: with a numeric `partition_column` Spark issues
    `num_partitions` range-bounded queries in parallel. `pushDownPredicate`
    is on by default so filters composed later reach the database — the same
    manual pushdown the reference did with QueryBuilder
    (`ddb/src/members.rs:57-78`), for free.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetchsize))
    )
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound if lower_bound is not None else 0))
            .option("upperBound", str(upper_bound if upper_bound is not None else 1_000_000_000))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: str,
    mode: str = "PERMISSIVE",
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Tolerant JSON-lines source: explicit schema (NEVER schema inference at
    scale — inference is a full extra pass over 100 TB and produces
    run-dependent schemas), PERMISSIVE decode with malformed lines captured
    in `corrupt_col` instead of failing the job. The ingest contract every
    crawl/log pipeline needs: good rows flow, bad rows land in a quarantine
    column for audit, and counts of each are one aggregation away.

    Spark only populates the corrupt column when a parsed column is also
    selected, and requires caching semantics to inspect it alone — callers
    should `filter(col(corrupt_col).isNotNull())` AFTER selecting data
    columns. Use mode="DROPMALFORMED" to silently drop or "FAILFAST" to
    abort on first bad line.
    """
    full_schema = f"{schema}, {corrupt_col} string"
    return (
        spark.read.schema(full_schema)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def read_csv_tolerant(
    spark: SparkSession,
    path: str,
    schema: str,
    mode: str = "PERMISSIVE",
    corrupt_col: str = "_corrupt_record",
    header: bool = True,
    sep: str = ",",
) -> DataFrame:
    """Tolerant CSV source, same ingest contract as :func:`read_jsonl`:
    explicit schema (no inference pass over 100 TB), PERMISSIVE decode with
    malformed lines quarantined in `corrupt_col`. CSV adds the delimiter
    and header knobs; multiline quoted fields are off by default because
    multiline parsing breaks record-boundary splitting (a file with
    embedded newlines cannot be chunked by offset, so one file = one task
    — keep source files bounded instead)."""
    full_schema = f"{schema}, {corrupt_col} string"
    return (
        spark.read.schema(full_schema)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", corrupt_col)
        .option("header", str(header).lower())
        .option("sep", sep)
        .csv(path)
    )


def write_clustered(
    df: DataFrame,
    path: str,
    partition_by: str,
    cluster_cols: tuple[str, ...],
    target_files_per_partition: int = 1,
) -> None:
    """Layout writer: hive-partition by `partition_by`, and inside every
    partition sort rows by `cluster_cols` before writing — the writer half
    of the file-skipping story (`events_zorder_pruning_stats` measures the
    reader half). With a Morton key in `cluster_cols`, each written file
    covers a tight hyper-rectangle of the clustered dimensions, so parquet
    footer min/max stats prune files for range predicates on ANY clustered
    column.

    With `target_files_per_partition == 1`, `repartition(partition_value)`
    before the sort gives one shuffle whose output partitioning matches the
    write layout (no per-writer spill-sort of foreign partitions). With
    more files per partition, the split must follow the CLUSTER-KEY RANGE,
    not a hash: a hash salt scatters contiguous key ranges uniformly across
    every file, so each file's min/max spans ~the whole domain and footer
    pruning is destroyed — exactly the property this writer exists to
    provide. `repartitionByRange(partition, cluster...)` instead samples
    range boundaries, so every task (hence every written file) covers a
    disjoint slice of the cluster-key domain; it also load-balances skewed
    hive partitions across tasks, which the one-task-per-partition-value
    plan cannot (100 TB: pick `target_files_per_partition` so files land
    near the 128-1024 MB sweet spot, or set
    `spark.sql.files.maxRecordsPerFile` and let each sorted task emit
    contiguous — still range-disjoint — chunks).
    """
    from pyspark.sql import functions as F

    if target_files_per_partition > 1:
        # one extra single-column pass to size the range shuffle — noise
        # next to the write itself
        n_parts = max(1, df.select(partition_by).distinct().count())
        tmp = df.repartitionByRange(
            n_parts * target_files_per_partition,
            F.col(partition_by),
            *[F.col(c) for c in cluster_cols],
        )
    else:
        tmp = df.repartition(F.col(partition_by))
    (
        # partition_by leads the sort so a range task straddling a hive-
        # partition boundary still writes each partition's rows contiguously
        tmp.sortWithinPartitions(partition_by, *cluster_cols)
        .write.mode("overwrite")
        .partitionBy(partition_by)
        .parquet(path)
    )
