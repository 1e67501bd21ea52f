"""Table-format seam: Iceberg when available, parquet layout otherwise.

The north_star materializes nodes/edges/triples/lineage to Iceberg.
This sandbox has no Iceberg jar (pyspark_guide "Sources & sinks"), so
the engine writes the equivalent physical layout — parquet + partition
directories + the lineage commit-log — behind this seam. On a cluster
with `spark.sql.catalog.<name>` configured for Iceberg, the same calls
become real Iceberg tables with `overwritePartitions` semantics; the
resume/idempotence contract is identical (dynamic partition overwrite
here, REPLACE PARTITIONS there).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

# SparkContext -> iceberg_available answer; the answer depends only on
# the JVM classpath and the static SparkConf, both fixed per context
_ICEBERG: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is on the classpath + configured.
    Memoized per SparkContext: the classpath probe throws (and
    catches) a Py4J ClassNotFoundException, 20-30 ms per call."""
    sc = spark.sparkContext
    if sc not in _ICEBERG:
        _ICEBERG[sc] = _probe_iceberg(sc)
    return _ICEBERG[sc]


def _probe_iceberg(sc) -> bool:
    try:
        sc._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        return False
    return any(k.startswith("spark.sql.catalog.")
               for k, _ in sc.getConf().getAll())


def write_table(df: DataFrame, target: str,
                partition_by: list[str] | None = None,
                mode: str = "overwrite") -> None:
    """target: an Iceberg table identifier (catalog.db.table) when the
    catalog exists, else a filesystem path for partitioned parquet."""
    spark = df.sparkSession
    if iceberg_available(spark):  # pragma: no cover - no jar in sandbox
        writer = df.writeTo(target)
        if partition_by:
            from pyspark.sql import functions as F
            writer = writer.partitionedBy(*[F.col(c) for c in partition_by])
        if mode == "overwrite_partitions":
            writer.overwritePartitions()
        elif mode == "append":
            writer.append()
        else:
            writer.createOrReplace()
        return
    w = df.write.mode("overwrite" if mode == "overwrite_partitions"
                      else mode)
    if partition_by:
        if mode == "overwrite_partitions":
            # a writer option, not a session conf: the session setting
            # would turn every later static overwrite dynamic
            w = w.option("partitionOverwriteMode", "dynamic")
        w = w.partitionBy(*partition_by)
    w.parquet(target)


def read_table(spark: SparkSession, target: str) -> DataFrame:
    if iceberg_available(spark):  # pragma: no cover
        return spark.read.table(target)
    return spark.read.parquet(target)


def compact_table(spark: SparkSession, src: str, dst: str,
                  target_file_mb: int = 256,
                  partition_by: list[str] | None = None) -> dict:
    """Bin-pack a parquet table's small files (the Iceberg
    `rewrite_data_files` action behind the same seam): read `src`,
    coalesce to ceil(total_bytes / target) output files, write `dst`.

    Small files are the classic crawl-pipeline failure mode — a
    10^6-task extraction writes 10^6 tiny parquet files, and every
    downstream scan then pays one task + one open per file. Compaction
    restores scan efficiency; `coalesce` (not `repartition`) keeps the
    rewrite SHUFFLE-FREE — output files may vary in size but no bytes
    cross the network. Writes to a NEW location (Spark cannot
    atomically overwrite a path it is reading; on Iceberg the swap is
    a metadata commit, here the caller swaps directories).

    Returns {"in_files", "in_bytes", "out_files"}."""
    in_files, in_bytes = _list_parquet(spark, src)
    if in_files == 0:
        raise ValueError(
            f"compact_table: no parquet files under {src!r} — refusing "
            f"to rewrite (a silent coalesce(1) of a mis-typed path is "
            f"exactly the failure this guard exists for)")
    n_out = max(1, -(-in_bytes // (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(src).coalesce(int(n_out))
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(dst)
    out_files, _ = _list_parquet(spark, dst)
    return {"in_files": in_files, "in_bytes": in_bytes,
            "out_files": out_files}


def _fs_path(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for `path` — scheme-agnostic
    (file://, hdfs://, s3a://), unlike a driver-local os.path check
    which silently sees nothing on distributed storage."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def path_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return bool(fs.exists(p))


def _list_parquet(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_files, total_bytes) of *.parquet under `path`, via the
    Hadoop FileSystem API."""
    fs, p = _fs_path(spark, path)
    if not fs.exists(p):
        return 0, 0
    n, total = 0, 0
    it = fs.listFiles(p, True)  # recursive
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.endswith(".parquet"):
            n += 1
            total += st.getLen()
    return n, total


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int = 64,
                   sort_cols: list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Bucketed managed table (Hive-style layout; Iceberg bucket
    transform on a real catalog): rows are hash-partitioned into
    `n_buckets` files per partition ON WRITE, so equi-joins and
    aggregations on `bucket_cols` between co-bucketed tables run with
    NO exchange — the shuffle is paid once at write time instead of
    per query. The pattern for fact/fact joins at crawl scale (e.g.
    triples ⋈ mentions on url), where neither side broadcasts.
    Requires saveAsTable (bucket metadata lives in the session
    catalog). On an Iceberg catalog this becomes the bucket()
    partition transform — same no-exchange co-located join contract,
    Iceberg's storage-partitioned-join path."""
    spark = df.sparkSession
    if iceberg_available(spark):  # pragma: no cover - no jar in sandbox
        from pyspark.sql import functions as F
        transforms = [F.bucket(n_buckets, F.col(bucket_cols[0]))] + \
            [F.col(c) for c in bucket_cols[1:]]
        writer = df.writeTo(table).partitionedBy(*transforms)
        if mode == "append":
            writer.append()
        else:
            writer.createOrReplace()
        return
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)
