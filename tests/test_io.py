"""Table-format seam: parquet layout round-trips; iceberg fails loudly
without the runtime (no silent wrong-format writes)."""

import pytest

from webindex.io import read_table, write_table


def test_parquet_roundtrip_sorted_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [(2, 20, "b"), (1, 10, "a"), (2, 21, "c")], "bucket int, k int, v string"
    )
    dest = str(tmp_path / "t")
    write_table(df, dest, sort_cols=["k"], partition_by="bucket")
    back = read_table(spark, dest)
    assert {(r["bucket"], r["k"], r["v"]) for r in back.collect()} == {
        (2, 20, "b"), (1, 10, "a"), (2, 21, "c")
    }
    # hive partition dirs exist
    assert (tmp_path / "t" / "bucket=1").exists()
    assert (tmp_path / "t" / "bucket=2").exists()


def test_iceberg_without_runtime_raises_with_guidance(spark, tmp_path):
    df = spark.range(3)
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        write_table(df, "cat.db.t", fmt="iceberg")


def test_unknown_format_rejected(spark, tmp_path):
    with pytest.raises(ValueError):
        write_table(spark.range(1), str(tmp_path / "x"), fmt="orcish")


def test_append_driver_rows_roundtrip(spark, tmp_path):
    """Driver-side appended batches read back as ONE coherent Spark table,
    including interleaving with a Spark-written append (the pre-round-6
    layout) — the streaming sidecars rely on exactly this mix."""
    from webindex.io import append_driver_rows

    dest = str(tmp_path / "lineage")
    schema = "batch_id long, status string, secs double"
    spark.createDataFrame([(0, "done", 0.5)], schema).write.mode(
        "append"
    ).parquet(dest)
    append_driver_rows(spark, [(1, "done", 1.5)], schema, dest, fmt="parquet")
    append_driver_rows(spark, [(2, "failed", None)], schema, dest, fmt="parquet")
    back = spark.read.parquet(dest)
    assert back.schema.simpleString() == (
        "struct<batch_id:bigint,status:string,secs:double>"
    )
    assert {(r["batch_id"], r["status"], r["secs"]) for r in back.collect()} == {
        (0, "done", 0.5), (1, "done", 1.5), (2, "failed", None)
    }


def test_driver_writes_resolve_scheme_less_paths_through_default_fs(spark, tmp_path):
    """A scheme-less dest means whatever fs.defaultFS says, exactly as for
    Spark's own reads and writes. Here defaultFS is a viewfs mount table (a
    non-'file' scheme) linking tmp_path/virt to tmp_path/real: the driver
    must not write the literal local path, and the rows must land where
    Spark reads them back."""
    from webindex.io import append_driver_rows, write_driver_table

    virt, real = tmp_path / "virt", tmp_path / "real"
    real.mkdir()
    conf = spark._jsc.hadoopConfiguration()
    saved = conf.get("fs.defaultFS")
    # a per-test mount-table name: the FileSystem cache keys on it
    mount = f"wi{tmp_path.name.replace('_', '')}"
    link = f"fs.viewfs.mounttable.{mount}.link.{virt}"
    conf.set(link, real.as_uri())
    conf.set("fs.defaultFS", f"viewfs://{mount}/")
    try:
        append_driver_rows(
            spark, [(1, "done")], "batch_id long, status string",
            f"{virt}/lineage", fmt="parquet",
        )
        write_driver_table(spark, [(7,)], "n long", f"{virt}/stats", fmt="parquet")
        lineage = spark.read.parquet(f"{virt}/lineage").collect()
        stats = spark.read.parquet(f"{virt}/stats").collect()
    finally:
        conf.set("fs.defaultFS", saved)
        conf.unset(link)
    assert not virt.exists()
    assert [(r["batch_id"], r["status"]) for r in lineage] == [(1, "done")]
    assert [r["n"] for r in stats] == [7]
    assert (real / "lineage").is_dir() and (real / "stats").is_dir()


def test_append_driver_rows_honours_iceberg_format(spark, tmp_path):
    """The Spark fallback appends in the requested format: iceberg without
    the runtime fails loudly instead of writing a parquet directory."""
    from webindex.io import append_driver_rows

    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        append_driver_rows(spark, [(1,)], "n long", "cat.db.t", fmt="iceberg")
    assert not (tmp_path / "cat.db.t").exists()
