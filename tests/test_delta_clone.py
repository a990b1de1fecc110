"""Delta SHALLOW CLONE: metadata-only table copies referencing the source
table's files by absolute path (spec: add.path may be absolute), with an
independent history from version 0.

Also pins the reader's declared-column-order contract (hive partition
columns must not drift to the end), which OPTIMIZE on partitioned tables
depends on."""

import glob

import pytest
from pyspark.sql import functions as F

from evolution_spark.io.delta_log import (
    clone_delta_table,
    commit_delta,
    delete_delta_rows,
    optimize_delta,
    read_delta_snapshot,
    update_delta_rows,
    vacuum_delta,
    write_delta_snapshot,
)


def _mk(spark, a, b):
    return spark.range(a, b).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("p"),
        (F.col("id") * 2.0).alias("v"),
    )


def test_clone_roundtrip_and_independence(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_delta_snapshot(_mk(spark, 0, 100), src, partition_by=["p"])
    commit_delta(_mk(spark, 100, 110), src, mode="append")
    r = clone_delta_table(src, dst)
    assert r["rows"] == 110 and r["version"] == 0

    back = read_delta_snapshot(spark, dst)
    assert back.columns == ["k", "p", "v"]  # declared order, not hive order
    assert back.count() == 110
    # partition values resolve from the adds' partitionValues
    assert (
        back.select((F.col("k") % 3 == F.col("p")).alias("ok"))
        .where(~F.col("ok")).count() == 0
    )

    # histories diverge independently
    commit_delta(_mk(spark, 200, 205), dst, mode="append")
    assert read_delta_snapshot(spark, dst).count() == 115
    assert read_delta_snapshot(spark, src).count() == 110
    commit_delta(_mk(spark, 300, 302), src, mode="append")
    assert read_delta_snapshot(spark, dst).count() == 115
    # time travel on the clone: v0 is the cloned snapshot
    assert read_delta_snapshot(spark, dst, version=0).count() == 110


def test_clone_dml_and_vacuum_never_touch_source(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_delta_snapshot(_mk(spark, 0, 100), src, partition_by=["p"])
    clone_delta_table(src, dst)
    commit_delta(_mk(spark, 200, 205), dst, mode="append")
    # MOR DELETE attaches a DV to an ABSOLUTE (source-referencing) add
    delete_delta_rows(spark, dst, "k < 5")
    update_delta_rows(spark, dst, "k >= 200", {"v": "v + 0.5"})
    got = read_delta_snapshot(spark, dst)
    assert got.count() == 100
    assert got.where(F.col("k") < 5).count() == 0
    assert got.where(
        (F.col("k") >= 200) & (F.col("v") == F.col("k") * 2.0 + 0.5)
    ).count() == 5
    # the source's rows are untouched by the clone's DML
    assert read_delta_snapshot(spark, src).count() == 100

    n_src = len(glob.glob(src + "/**/*.parquet", recursive=True))
    optimize_delta(spark, dst)
    vacuum_delta(dst, keep_versions=1)
    # vacuum walks only under the clone root: source files all survive
    assert len(glob.glob(src + "/**/*.parquet", recursive=True)) == n_src
    assert read_delta_snapshot(spark, src).count() == 100
    assert read_delta_snapshot(spark, dst).count() == 100


def test_clone_refuses_dv_source_and_existing_dest(spark, tmp_path):
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_delta_snapshot(_mk(spark, 0, 50), src)
    delete_delta_rows(spark, src, "k < 3")  # source now carries a DV
    with pytest.raises(ValueError, match="deletion vectors"):
        clone_delta_table(src, dst)
    optimize_delta(spark, src)  # materializes the delete
    clone_delta_table(src, dst)
    assert read_delta_snapshot(spark, dst).count() == 47
    with pytest.raises(ValueError, match="already a Delta table"):
        clone_delta_table(src, dst)


def test_clone_column_mapped_source(spark, tmp_path):
    from evolution_spark.io.delta_log import (
        rename_delta_column,
        upgrade_delta_to_column_mapping,
    )

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_delta_snapshot(_mk(spark, 0, 20), src)
    upgrade_delta_to_column_mapping(src)
    rename_delta_column(src, "v", "val")
    clone_delta_table(src, dst)
    back = read_delta_snapshot(spark, dst)
    assert back.columns == ["k", "p", "val"]
    assert back.count() == 20
    assert back.where(F.col("val") == F.col("k") * 2.0).count() == 20


def test_optimize_partitioned_table(spark, tmp_path):
    """Regression: the reader used to surface hive partition columns
    LAST, failing OPTIMIZE's order-sensitive schema check on every
    partitioned table."""
    path = str(tmp_path / "partopt")
    write_delta_snapshot(_mk(spark, 0, 60), path, partition_by=["p"])
    commit_delta(_mk(spark, 60, 90), path, mode="append")
    r = optimize_delta(spark, path)
    assert r["version"] == 2
    got = read_delta_snapshot(spark, path)
    assert got.columns == ["k", "p", "v"]
    assert got.count() == 90


def test_table_changes_on_clone(spark, tmp_path):
    """The CDF reader handles clone tables: absolute source-referencing
    adds scan without basePath, partition columns from partitionValues
    (review r7)."""
    from evolution_spark.io.delta_log import table_changes

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_delta_snapshot(_mk(spark, 0, 30), src, partition_by=["p"])
    clone_delta_table(src, dst)
    commit_delta(_mk(spark, 100, 105), dst, mode="append")
    delete_delta_rows(spark, dst, "k < 3")
    ch = table_changes(spark, dst, 0)
    got = {(r.k, r._change_type, r._commit_version) for r in ch.collect()}
    assert (0, "insert", 0) in got and (29, "insert", 0) in got
    assert (100, "insert", 1) in got
    assert (0, "delete", 2) in got and (2, "delete", 2) in got
    # partition values came from partitionValues, not dirs
    assert ch.where((F.col("k") % 3) != F.col("p")).count() == 0


def test_clone_null_partition_values(spark, tmp_path):
    """Absolute adds with NULL partition values group/read correctly
    (review r7: sorted() over mixed None/str group keys crashed)."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(10).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 5, F.col("id") % 2).alias("p"),  # nulls for >=5
        (F.col("id") * 1.0).alias("v"),
    )
    write_delta_snapshot(df, src, partition_by=["p"])
    clone_delta_table(src, dst)
    back = read_delta_snapshot(spark, dst)
    assert back.count() == 10
    assert back.where(F.col("p").isNull()).count() == 5
    assert back.where(F.col("p") == 1).select("k").rdd.isEmpty() is False


def test_resolved_add_path_forms():
    from pathlib import Path

    from evolution_spark.io.delta_log import _resolved_add_path

    root = Path("/tables/t")
    assert _resolved_add_path(root, "part-0.parquet") == "/tables/t/part-0.parquet"
    assert _resolved_add_path(root, "/data/src/p.parquet") == "/data/src/p.parquet"
    assert _resolved_add_path(root, "file:///data/src/p.parquet") == "/data/src/p.parquet"
    # percent-encoded (the spec stores encoded paths)
    assert _resolved_add_path(root, "p%3D1/part.parquet") == "/tables/t/p=1/part.parquet"
    assert (
        _resolved_add_path(root, "file:///data/seg%20a/p.parquet")
        == "/data/seg a/p.parquet"
    )


def test_file_scheme_absolute_adds_read_and_mask(spark, tmp_path):
    """A foreign writer may record absolute adds as file: URIs; the scan
    resolves them and deletion vectors still mask (review r7: the
    mangled join key silently resurrected deleted rows)."""
    import json

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_delta_snapshot(_mk(spark, 0, 30), src)
    clone_delta_table(src, dst)
    delete_delta_rows(spark, dst, "k < 4")  # DV on an absolute add
    # rewrite every absolute stored path to the file: URI form,
    # consistently across all commits (foreign-writer style)
    log = __import__("pathlib").Path(dst) / "_delta_log"
    for f in sorted(log.glob("*.json")):
        lines = []
        for line in f.read_text().splitlines():
            a = json.loads(line)
            for key in ("add", "remove"):
                if key in a and a[key]["path"].startswith("/"):
                    a[key]["path"] = "file://" + a[key]["path"]
            lines.append(json.dumps(a))
        f.write_text("\n".join(lines) + "\n")
    got = read_delta_snapshot(spark, dst)
    assert got.count() == 26
    assert got.where(F.col("k") < 4).count() == 0  # DV still applies


def test_clone_carries_in_commit_timestamp(spark, tmp_path):
    """A source with in-commit timestamps enabled obliges the clone's v0
    to carry ``commitInfo.inCommitTimestamp`` too: the cloned
    configuration declares the feature from the first commit."""
    import json
    from pathlib import Path

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    write_delta_snapshot(
        _mk(spark, 0, 10), src,
        configuration={"delta.enableInCommitTimestamps": "true"},
    )
    clone_delta_table(src, dst)
    v0 = (Path(dst) / "_delta_log" / f"{0:020d}.json").read_text()
    info = [json.loads(ln)["commitInfo"] for ln in v0.splitlines()
            if "commitInfo" in json.loads(ln)]
    assert len(info) == 1 and info[0]["operation"] == "CLONE"
    assert isinstance(info[0].get("inCommitTimestamp"), int)
    # the clone's next commit stamps strictly later
    commit_delta(_mk(spark, 10, 12), dst, mode="append")
    v1 = (Path(dst) / "_delta_log" / f"{1:020d}.json").read_text()
    ict1 = next(json.loads(ln)["commitInfo"]["inCommitTimestamp"]
                for ln in v1.splitlines() if "commitInfo" in json.loads(ln))
    assert ict1 > info[0]["inCommitTimestamp"]
