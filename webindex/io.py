"""Table writer seam: parquet today, Iceberg with one config flip.

The north rule's production deployment stores the index tables as Iceberg;
this sandbox has no Iceberg runtime jar, so the default writes the SAME
layout (sorted-within-partition, optionally dir-partitioned) as plain
parquet. Every property the engine relies on maps 1:1:

  parquet (sandbox)                     Iceberg (production)
  ------------------------------------  ----------------------------------
  sortWithinPartitions(...).parquet()   WRITE ORDERED BY (...)  [metadata
                                        sampling — avoids the range-sample
                                        double-execution documented in
                                        build.build_index]
  .partitionBy("bucket")                PARTITIONED BY (bucket)
  dynamic partitionOverwriteMode        overwritePartitions()
  streaming._swap_partition_dirs        RewriteFiles / overwrite-partitions
                                        snapshot commit
  latest-crawl-wins compact             MERGE INTO index USING delta
                                        ON doc_id WHEN MATCHED ...

Use  fmt="iceberg"  (or WEBINDEX_TABLE_FORMAT=iceberg) once a catalog is
configured (spark.sql.catalog.<name> = org.apache.iceberg.spark.SparkCatalog);
without the runtime the call fails loudly with setup guidance instead of
silently writing the wrong format.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def table_format() -> str:
    return os.environ.get("WEBINDEX_TABLE_FORMAT", "parquet")


def _iceberg_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def _require_iceberg(spark) -> None:
    if not _iceberg_available(spark):
        raise RuntimeError(
            "WEBINDEX_TABLE_FORMAT=iceberg but the Iceberg runtime is not "
            "on the classpath. Add iceberg-spark-runtime to spark.jars and "
            "configure spark.sql.catalog.<name>=org.apache.iceberg.spark."
            "SparkCatalog; dest must then be a catalog table name."
        )


def write_table(
    df: DataFrame,
    dest: str,
    *,
    sort_cols: list[str] | None = None,
    partition_by: str | None = None,
    fmt: str | None = None,
    coalesce: int | None = None,
) -> None:
    """Write an index table with the engine's layout guarantees.

    dest is a filesystem path for parquet, a catalog table name for iceberg.
    sort_cols: clustering for row-group/file pruning. Both formats get it
    per-write via sortWithinPartitions (this write's files are clustered);
    the DataFrameWriterV2 API cannot register a TABLE-level sort order, so
    on iceberg run `ALTER TABLE <dest> WRITE ORDERED BY (<sort_cols>)` once
    after creation to make the clustering binding for OTHER writers and
    compactions too — without it only writes through this function are
    clustered.

    coalesce: target file count for SMALL dictionary-shaped tables (guide
    §6 small-files). A row-count-derived target (the caller computes it from
    data size, never from cluster size) keeps a point/IN lookup from paying
    one scan task per shuffle partition: an AQE-coalesced agg still emits
    >= defaultParallelism files (parallelismFirst), and N hash-partitioned
    sorted files overlap in key range so none can be file-pruned. coalesce
    happens BEFORE sortWithinPartitions, so the merged partitions are
    re-sorted and row-group pruning stays tight."""
    fmt = fmt or table_format()
    if coalesce is not None:
        # coalesce never increases partition count, so this is a no-op when
        # the frame is already at or below the target
        df = df.coalesce(coalesce)
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    if fmt == "parquet":
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(dest)
        return
    if fmt == "iceberg":
        _require_iceberg(df.sparkSession)
        w = df.writeTo(dest).using("iceberg")
        if partition_by:
            from pyspark.sql import functions as F

            w = w.partitionedBy(F.col(partition_by))
        w.createOrReplace()
        return
    raise ValueError(f"unknown table format: {fmt}")


def read_table(spark, dest: str, fmt: str | None = None) -> DataFrame:
    fmt = fmt or table_format()
    if fmt == "parquet":
        return spark.read.parquet(dest)
    if fmt == "iceberg":
        return spark.read.table(dest)
    raise ValueError(f"unknown table format: {fmt}")


def write_driver_table(
    spark,
    rows: list[tuple],
    schema,
    dest: str,
    fmt: str | None = None,
) -> None:
    """Write (overwrite) a metadata-scale (few-row) table WITHOUT a Spark job.

    The one-row sidecars (corpus_stats, conf) each cost a createDataFrame +
    single-task write job through the normal path — measured ~0.5-1s of pure
    fixed overhead apiece on local[32], charged to every build. See
    _write_driver_rows for when the driver writes the file itself."""
    _write_driver_rows(spark, rows, schema, dest, fmt, append=False)


def append_driver_rows(
    spark,
    rows: list[tuple],
    schema,
    dest: str,
    fmt: str | None = None,
) -> None:
    """Append a metadata-scale (few-row) batch WITHOUT a Spark job.

    The streaming sidecars (lineage, _epoch_map, compactions) append one row
    per micro-batch through createDataFrame + a single-task write job —
    pure fixed job latency on the ingest path. A driver-side append adds one
    uniquely-named file, so spark.read.parquet sees one coherent table. The
    single-writer workdir contract makes the non-transactional file add
    safe."""
    _write_driver_rows(spark, rows, schema, dest, fmt, append=True)


def _driver_local_path(spark, dest: str) -> str | None:
    """dest as an absolute driver-local path when Hadoop resolves it to the
    local filesystem, else None. Resolution is the same one every Spark read
    and write of dest uses (fsutil.hadoop_fs): a scheme-less path goes
    through fs.defaultFS, so on an HDFS/object-store deployment it is NOT
    local even though it has no '://'."""
    from webindex.fsutil import hadoop_fs

    fs, jvm = hadoop_fs(spark, dest)
    if fs.getUri().getScheme() != "file":
        return None
    return fs.makeQualified(jvm.org.apache.hadoop.fs.Path(dest)).toUri().getPath()


def _write_driver_rows(
    spark, rows: list[tuple], schema, dest: str, fmt: str | None, *, append: bool
) -> None:
    """The one driver-side writer behind write_driver_table and
    append_driver_rows. For parquet on the driver's local filesystem the
    driver writes the file with pyarrow (bit-identical types: the arrow
    schema is derived from the Spark StructType, so spark.read.parquet
    round-trips the exact same values and schema). Iceberg (where the commit
    itself is the metadata operation) and any other filesystem keep the
    ordinary single-task Spark write in the same format.

    `schema` may be a StructType or a DDL string ("a long, b string")."""
    fmt = fmt or table_format()
    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    local = _driver_local_path(spark, dest) if fmt == "parquet" else None
    if local is None:
        df = spark.createDataFrame(rows, schema=schema)
        if not append:
            write_table(df, dest, fmt=fmt)
        elif fmt == "parquet":
            df.write.mode("append").parquet(dest)
        elif fmt == "iceberg":
            _require_iceberg(spark)
            df.write.format("iceberg").mode("append").saveAsTable(dest)
        else:
            raise ValueError(f"unknown table format: {fmt}")
        return
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in rows], type=f.type)
            for i, f in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    if append:
        import uuid

        name = f"part-{uuid.uuid4().hex}.parquet"
    else:
        import shutil

        if os.path.isdir(local):
            shutil.rmtree(local)
        name = "part-00000.parquet"
    os.makedirs(local, exist_ok=True)
    pq.write_table(table, os.path.join(local, name))
