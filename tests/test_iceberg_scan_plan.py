"""One scan plan for both Iceberg readers.

``read_iceberg_table`` and the ``evolution_iceberg`` DataSource plan
through ``iceberg_meta._plan_scan``. The parity grid compares the two
readers on plan features the per-feature tests do not compare
(test_delta_source.py, test_schema_evolution.py,
test_iceberg_default_values.py, test_iceberg_v3.py and
test_iceberg_transforms.py already compare position deletes, URI delete
targets, rename/widen reads, initial-defaults and merged DVs). The
read-count tests pin which manifests each metadata walk decodes.
"""

from __future__ import annotations

import datetime
from collections import Counter
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from evolution_spark.io import iceberg_meta
from evolution_spark.io.iceberg_meta import (
    _current_schema_and_guards,
    _load_metadata,
    _read_avro,
    append_iceberg_snapshot,
    append_position_deletes,
    delete_iceberg_rows,
    delete_iceberg_rows_dv,
    drop_iceberg_column,
    evolve_iceberg_partition_spec,
    evolve_iceberg_schema,
    iceberg_table_changes,
    read_iceberg_table,
    rename_iceberg_column,
    upgrade_iceberg_format_version,
    widen_iceberg_column,
    write_iceberg_table,
)
from evolution_spark.io.iceberg_source import (
    _IcebergStreamReader,
    register_iceberg_source,
)
from tests.test_iceberg_deletes import _positions_of


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 2 == 0, "a").otherwise("b").alias("seg"),
        (F.col("id") * 10).alias("v"),
    )


def _snapshots(path):
    md, _ = _load_metadata(Path(path))
    return sorted(md["snapshots"], key=lambda s: s["sequence-number"])


# Each case builds a table and returns the read as
# (read_iceberg_table kwargs, evolution_iceberg options).


def _two_spec_epochs_pruned(spark, path):
    write_iceberg_table(_kv(spark, 0, 10), path, partition_by=["seg"])
    evolve_iceberg_partition_spec(path, ["bucket(4, k)"])
    append_iceberg_snapshot(_kv(spark, 10, 20), path)
    # spec 0 prunes on seg; spec 1 cannot express seg and keeps its files
    return {"partition_where": {"seg": "a"}}, {"partition.seg": "a"}


def _bucket_pruned_by_source_column(spark, path):
    write_iceberg_table(_kv(spark, 0, 24), path, partition_by=["bucket(4, k)"])
    return {"partition_where": {"k": 5}}, {"partition.k": "5"}


def _date_identity_pruned(spark, path):
    df = spark.range(9).select(
        F.col("id").alias("k"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 3).cast("int"))
        .alias("d"),
    )
    write_iceberg_table(df, path, partition_by=["d"])
    return (
        {"partition_where": {"d": datetime.date(2024, 1, 2)}},
        {"partition.d": "2024-01-02"},
    )


def _no_partition_matches(spark, path):
    write_iceberg_table(_kv(spark, 0, 6), path, partition_by=["seg"])
    return {"partition_where": {"seg": "zz"}}, {"partition.seg": "zz"}


def _string_partition_values(spark, path):
    df = spark.createDataFrame(
        [(1, None), (2, "a/b=c"), (3, "ünï"), (4, "a/b=c"), (5, "plain")],
        "k long, s string",
    )
    write_iceberg_table(df, path, partition_by=["s"])
    return {}, {}


def _partitioned_position_deletes(spark, path):
    write_iceberg_table(_kv(spark, 0, 20), path, partition_by=["seg"])
    delete_iceberg_rows(spark, path, "k % 3 = 0")
    return {}, {}


def _time_travel_across_rename(spark, path):
    write_iceberg_table(
        _kv(spark, 0, 8).withColumn("k", F.col("k").cast("int")), path
    )
    rename_iceberg_column(path, "v", "val")
    widen_iceberg_column(path, "k", "long")
    append_iceberg_snapshot(
        _kv(spark, 8, 12).withColumnRenamed("v", "val"), path
    )
    first = _snapshots(path)[0]["snapshot-id"]
    return {"snapshot_id": first}, {"snapshot": str(first)}


def _dropped_then_readded_column(spark, path):
    write_iceberg_table(_kv(spark, 0, 8), path)
    drop_iceberg_column(path, "v")
    evolve_iceberg_schema(path, [("v", "long")])
    append_iceberg_snapshot(_kv(spark, 8, 12), path)
    return {}, {}


def _v3_time_travel_before_dv(spark, path):
    write_iceberg_table(_kv(spark, 0, 12), path)
    upgrade_iceberg_format_version(path)
    append_iceberg_snapshot(_kv(spark, 12, 16), path)
    before = _snapshots(path)[-1]["snapshot-id"]
    delete_iceberg_rows_dv(spark, path, "k % 4 = 0")
    return {"snapshot_id": before}, {"snapshot": str(before)}


PARITY_CASES = {
    f.__name__.lstrip("_"): f
    for f in (
        _two_spec_epochs_pruned,
        _bucket_pruned_by_source_column,
        _date_identity_pruned,
        _no_partition_matches,
        _string_partition_values,
        _partitioned_position_deletes,
        _time_travel_across_rename,
        _dropped_then_readded_column,
        _v3_time_travel_before_dv,
    )
}


def _shape(df):
    return df.dtypes, sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("case", sorted(PARITY_CASES))
def test_readers_return_same_rows(spark, tmp_path, case):
    register_iceberg_source(spark)
    path = str(tmp_path / case)
    kwargs, options = PARITY_CASES[case](spark, path)
    lib = read_iceberg_table(spark, path, **kwargs)
    src = spark.read.format("evolution_iceberg").options(**options).load(path)
    lib_shape = _shape(lib)
    assert _shape(src) == lib_shape
    assert lib_shape[1] or case == "no_partition_matches"


# --------------------------------------------------------------------------
# manifest reads per metadata walk
# --------------------------------------------------------------------------


@pytest.fixture()
def manifest_reads(monkeypatch):
    """Names of the manifests (not manifest lists) decoded while active."""
    reads: list[str] = []
    real = iceberg_meta._read_avro_with_meta

    def counting(path):
        if not Path(path).name.startswith("snap-"):
            reads.append(Path(path).name)
        return real(path)

    monkeypatch.setattr(iceberg_meta, "_read_avro_with_meta", counting)
    return reads


def _manifests(snapshot, content=None):
    return {
        Path(mf["manifest_path"]).name
        for mf in _read_avro(Path(snapshot["manifest-list"]))
        if content is None or int(mf.get("content") or 0) == content
    }


def _appended_table(spark, path):
    """Three appends then a position delete: every later snapshot carries
    the earlier manifests by reference."""
    write_iceberg_table(_kv(spark, 0, 6), path)
    append_iceberg_snapshot(_kv(spark, 6, 9), path)
    append_iceberg_snapshot(_kv(spark, 9, 12), path)
    append_position_deletes(path, _positions_of(spark, path, "k = 7"))
    return _snapshots(path)


def test_change_feed_reads_each_manifest_once(spark, tmp_path, manifest_reads):
    path = str(tmp_path / "feed")
    snaps = _appended_table(spark, path)
    manifest_reads.clear()
    iceberg_table_changes(spark, path)
    assert set(manifest_reads) == _manifests(snaps[-1])
    assert max(Counter(manifest_reads).values()) == 1
    # a narrower window: the delete snapshot's target walk re-visits the
    # earlier appends' manifests, each still decoded once
    manifest_reads.clear()
    iceberg_table_changes(spark, path, after_snapshot_id=snaps[1]["snapshot-id"])
    assert set(manifest_reads) == _manifests(snaps[-1])
    assert max(Counter(manifest_reads).values()) == 1


def test_schema_guard_reads_no_data_manifest(spark, tmp_path, manifest_reads):
    path = str(tmp_path / "guard")
    snaps = _appended_table(spark, path)
    manifest_reads.clear()
    _current_schema_and_guards(path, "v", "rename")
    assert set(manifest_reads) == _manifests(snaps[-1], content=1)
    assert not set(manifest_reads) & _manifests(snaps[-1], content=0)


def test_stream_batch_reads_only_its_window(spark, tmp_path, manifest_reads):
    path = str(tmp_path / "stream")
    write_iceberg_table(_kv(spark, 0, 6), path)
    reader = _IcebergStreamReader({"path": path})
    start = reader.latestOffset()
    append_iceberg_snapshot(_kv(spark, 6, 9), path)
    mid = reader.latestOffset()
    append_iceberg_snapshot(_kv(spark, 9, 12), path)
    end = reader.latestOffset()
    s0, s1, s2 = _snapshots(path)

    manifest_reads.clear()
    slices = reader.partitions(start, end)
    assert slices
    assert sorted(manifest_reads) == sorted(_manifests(s2) - _manifests(s0))
    manifest_reads.clear()
    reader.partitions(mid, end)
    assert manifest_reads == sorted(_manifests(s2) - _manifests(s1))
