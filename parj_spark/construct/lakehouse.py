"""Table-format seam: parquet in the sandbox, Iceberg on a lakehouse.

The north-star deployment writes the permutation tables as Iceberg tables
(snapshot commits, partition transforms, metadata-pruned scans); this
sandbox has no Iceberg runtime jars, so every writer routes through this
one seam and degrades to plain parquet with the SAME physical layout
(SURVEY.md §7.0: "keep the writer behind a thin interface"). Mapping:

  sandbox (parquet)                     lakehouse (Iceberg)
  ------------------------------------  ----------------------------------
  partitionBy("p") directory layout     PARTITIONED BY (p) identity transform
  bucketBy(N, s) external tables        PARTITIONED BY (p, bucket(N, s)) —
                                        storage-partitioned joins (SPJ)
                                        replace the bucketed SMJ, same
                                        no-exchange plan
  sortWithinPartitions(...) row groups  WRITE ORDERED BY (sort order in
                                        table metadata; readers see it)
  _compact_tmp dir swap (streaming.     one atomic snapshot commit; readers
  compact_stream)                       pin the old snapshot until it lands
  parquet min/max row-group pruning     Iceberg column metrics + metadata
                                        tables, same pruning mechanism

Iceberg availability is detected from the session extensions; requesting
it without the runtime fails loudly rather than silently writing parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def iceberg_enabled(spark) -> bool:
    """True when the session was built with the Iceberg SQL extensions
    (spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-...
    plus a configured catalog) — the deployment this module routes to."""
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
    except Exception:
        ext = ""
    return "IcebergSparkSessionExtensions" in ext


def write_sorted_table(
    df: DataFrame,
    dest: str,
    partition_by: tuple[str, ...] = (),
    sort_within: tuple[str, ...] = (),
    table_format: str | None = None,
    single_file: bool = False,
) -> None:
    """Write one sorted, partitioned table through the format seam.

    ``df`` arrives already repartitioned for the intended file layout (the
    caller owns the shuffle strategy — range partitioning, hash
    partitioning on a key, ...); this seam applies the within-
    partition sort, the partition columns, and the format.

    ``dest`` is a filesystem path for parquet, a catalog identifier for
    Iceberg. ``table_format=None`` auto-detects (Iceberg when the session
    has the extensions, else parquet); passing "iceberg" explicitly
    without the runtime raises instead of silently downgrading.
    """
    spark = df.sparkSession
    fmt = table_format or ("iceberg" if iceberg_enabled(spark) else "parquet")
    if fmt == "parquet":
        out = df.coalesce(1) if single_file else df
        if sort_within:
            out = out.sortWithinPartitions(*sort_within)
        w = out.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(dest)
        return
    if fmt == "iceberg":
        if not iceberg_enabled(spark):
            raise RuntimeError(
                "table_format='iceberg' requires the Iceberg runtime on the "
                "session (spark.sql.extensions must include "
                "IcebergSparkSessionExtensions and a catalog must be "
                "configured); this sandbox has no Iceberg jars — omit "
                "table_format to fall back to the parquet layout"
            )
        from pyspark.sql import functions as F

        out = df.sortWithinPartitions(*sort_within) if sort_within else df
        wt = out.writeTo(dest).using("iceberg")
        if partition_by:
            wt = wt.partitionedBy(*[F.col(c) for c in partition_by])
        wt.createOrReplace()
        return
    raise ValueError(f"unknown table_format {fmt!r} (parquet | iceberg)")
