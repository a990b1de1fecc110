"""Table creation for both formats: ``write_delta_snapshot`` and
``write_iceberg_table`` publish their first commit through the same path
that appends use.

The parity grid pins the normalized shape of a created table (uuids,
timestamps, absolute paths and data-file names dropped; adds and manifest
entries sorted) to ``tests/table_create_parity.json``. Re-record it with
``python tests/test_table_create.py --record tests/table_create_parity.json``
from the repo root; the session settings match ``conftest.py``."""

from __future__ import annotations

import datetime as dt
import json
import sys
from pathlib import Path

import pytest
from pyspark.sql import types as T

from evolution_spark.io.delta_log import read_delta_snapshot, write_delta_snapshot
from evolution_spark.io.iceberg_meta import (
    _read_avro,
    _read_avro_with_meta,
    read_iceberg_table,
    write_iceberg_table,
)

GRID_JSON = Path(__file__).with_name("table_create_parity.json")

SCHEMA = T.StructType([
    T.StructField("id", T.LongType(), False),
    T.StructField("name", T.StringType(), True),
    T.StructField("score", T.DoubleType(), True),
    T.StructField("d", T.DateType(), True),
    T.StructField("flag", T.BooleanType(), True),
    T.StructField("small", T.IntegerType(), True),
])

# NULL, a value that needs path escaping and non-ASCII values
NAMES = [None, "a/b=c", "é日本", "plain", "x y%"]

ICT_CDF = {
    "delta.enableChangeDataFeed": "true",
    "delta.enableInCommitTimestamps": "true",
}

# case name -> (format, keyword arguments of the create call)
CASES = {
    "delta_unpartitioned": ("delta", {}),
    "delta_identity": ("delta", {"partition_by": ["name"]}),
    "delta_column_mapping": (
        "delta", {"partition_by": ["name"], "column_mapping": True}
    ),
    "delta_cdf_ict": ("delta", {"configuration": ICT_CDF}),
    "iceberg_unpartitioned": ("iceberg", {}),
    "iceberg_identity": ("iceberg", {"partition_by": ["name"]}),
    "iceberg_transforms": (
        "iceberg", {"partition_by": ["bucket(4, id)", "months(d)"]}
    ),
    "iceberg_transforms_distributed": (
        "iceberg",
        {"partition_by": ["bucket(4, id)", "months(d)"], "distribute": True},
    ),
}


def grid_frame(spark):
    rows = [
        (
            i,
            NAMES[i % len(NAMES)],
            None if i % 7 == 0 else i * 1.5,
            dt.date(2024, 1 + i % 6, 1 + i % 27),
            i % 2 == 0,
            i % 5,
        )
        for i in range(48)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def create(spark, case: str, path: str, df=None) -> None:
    fmt, kwargs = CASES[case]
    df = grid_frame(spark) if df is None else df
    if fmt == "delta":
        write_delta_snapshot(df, path, **kwargs)
    else:
        write_iceberg_table(df, path, **kwargs)


def _sorted(items: list) -> list:
    return sorted(items, key=lambda x: json.dumps(x, sort_keys=True))


def _rename(obj, names: dict):
    """Replace generated physical column names with stable tokens."""
    if isinstance(obj, dict):
        return {names.get(k, k): _rename(v, names) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_rename(v, names) for v in obj]
    if isinstance(obj, str):
        return names.get(obj, obj)
    return obj


def normalize_delta(table_dir: Path) -> dict:
    log = table_dir / "_delta_log"
    commits = sorted(p.name for p in log.glob("*.json"))
    actions = [
        json.loads(ln)
        for ln in (log / commits[0]).read_text().splitlines()
        if ln.strip()
    ]
    kinds: dict[str, int] = {}
    for a in actions:
        (kind,) = a
        kinds[kind] = kinds.get(kind, 0) + 1
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    schema = json.loads(meta["schemaString"])
    names = {
        f["metadata"]["delta.columnMapping.physicalName"]: f"<phys:{f['name']}>"
        for f in schema["fields"]
        if "delta.columnMapping.physicalName" in (f.get("metadata") or {})
    }
    info = dict(next(a["commitInfo"] for a in actions if "commitInfo" in a))
    info.pop("timestamp")
    info["inCommitTimestamp"] = "inCommitTimestamp" in info
    adds = []
    for a in actions:
        if "add" not in a:
            continue
        add = a["add"]
        adds.append({
            "partitionValues": add["partitionValues"],
            "stats": json.loads(add["stats"]),
            "dataChange": add["dataChange"],
        })
    data_files = [
        p for p in table_dir.rglob("*.parquet")
        if "_delta_log" not in p.parts
    ]
    out = _rename({
        "commits": len(commits),
        "action_kinds": kinds,
        "commitInfo": info,
        "protocol": next(a["protocol"] for a in actions if "protocol" in a),
        "metaData": {
            **{k: v for k, v in meta.items()
               if k not in ("id", "createdTime", "schemaString")},
            "schema": schema,
        },
        "adds": adds,
        "data_files_on_disk": len(data_files),
    }, names)
    # sort after renaming: generated physical names would shuffle the order
    out["adds"] = _sorted(out["adds"])
    return out


def _avro_meta(meta: dict) -> dict:
    return {
        k: v.decode() if isinstance(v, bytes) else v for k, v in meta.items()
    }


def _hex_bounds(bounds):
    if bounds is None:
        return None
    return sorted([b["key"], b["value"].hex()] for b in bounds)


def normalize_iceberg(table_dir: Path) -> dict:
    meta_dir = table_dir / "metadata"
    versions = sorted(p.name for p in meta_dir.glob("*.metadata.json"))
    hint = (meta_dir / "version-hint.text").read_text().strip()
    md = json.loads((meta_dir / hint).read_text())
    (snap,) = md["snapshots"]
    sid = snap["snapshot-id"]
    mlist = _read_avro(Path(snap["manifest-list"]))
    manifests = []
    entries = []
    for mf in mlist:
        recs, mmeta = _read_avro_with_meta(Path(mf["manifest_path"]))
        manifests.append({
            **{k: v for k, v in mf.items()
               if k not in ("manifest_path", "manifest_length",
                            "added_snapshot_id")},
            "added_by_snapshot": mf["added_snapshot_id"] == sid,
            "meta": _avro_meta(mmeta),
        })
        for e in recs:
            df = e["data_file"]
            entries.append({
                "status": e["status"],
                "by_snapshot": e["snapshot_id"] == sid,
                "sequence_number": e["sequence_number"],
                "file_sequence_number": e["file_sequence_number"],
                "content": df["content"],
                "file_format": df["file_format"],
                "partition": df["partition"],
                "record_count": df["record_count"],
                "equality_ids": df["equality_ids"],
                "lower_bounds": _hex_bounds(df["lower_bounds"]),
                "upper_bounds": _hex_bounds(df["upper_bounds"]),
            })
    data_files = list((table_dir / "data").rglob("*.parquet"))
    fixed = (
        "format-version", "last-sequence-number", "last-column-id",
        "current-schema-id", "schemas", "default-spec-id",
        "partition-specs", "last-partition-id", "default-sort-order-id",
        "sort-orders", "properties",
    )
    return {
        "metadata_versions": len(versions),
        "hint_names_version_0": hint == versions[0]
        and hint.startswith("00000-"),
        "metadata_keys": sorted(md),
        "metadata": {k: md[k] for k in fixed},
        "current_is_snapshot": md["current-snapshot-id"] == sid,
        "snapshot_log": len(md["snapshot-log"]),
        "metadata_log": len(md["metadata-log"]),
        "snapshot": {
            "keys": sorted(snap),
            "sequence-number": snap["sequence-number"],
            "schema-id": snap["schema-id"],
            "summary": snap["summary"],
        },
        "manifests": _sorted(manifests),
        "entries": _sorted(entries),
        "data_files_on_disk": len(data_files),
    }


def normalize(case: str, path: str) -> dict:
    fmt, _ = CASES[case]
    fn = normalize_delta if fmt == "delta" else normalize_iceberg
    return fn(Path(path))


@pytest.fixture(scope="module")
def recorded():
    return json.loads(GRID_JSON.read_text())


@pytest.mark.parametrize("case", sorted(CASES))
def test_create_matches_recorded_shape(spark, tmp_path, recorded, case):
    path = str(tmp_path / case)
    create(spark, case, path)
    # round-trip through JSON so tuples/lists compare like the recording
    got = json.loads(json.dumps(normalize(case, path)))
    assert got == recorded[case]


@pytest.mark.parametrize(
    "fmt,reader",
    [("delta", read_delta_snapshot), ("iceberg", read_iceberg_table)],
)
def test_empty_create_reads_back_empty(spark, tmp_path, fmt, reader):
    path = str(tmp_path / fmt)
    create(spark, f"{fmt}_unpartitioned", path,
           df=spark.createDataFrame([], SCHEMA))
    back = reader(spark, path)
    assert back.count() == 0
    assert [(f.name, f.dataType) for f in back.schema] == [
        (f.name, f.dataType) for f in SCHEMA
    ]


def _record(out: str) -> None:
    import tempfile

    from evolution_spark.session import get_spark

    spark = get_spark(
        app_name="table-create-parity", master="local[8]", shuffle_partitions=8
    )
    result = {}
    with tempfile.TemporaryDirectory() as tmp:
        for case in sorted(CASES):
            path = str(Path(tmp) / case)
            create(spark, case, path)
            result[case] = normalize(case, path)
    spark.stop()
    Path(out).write_text(
        json.dumps(result, indent=1, sort_keys=True, ensure_ascii=False) + "\n"
    )


if __name__ == "__main__":
    if len(sys.argv) != 3 or sys.argv[1] != "--record":
        sys.exit("usage: python tests/test_table_create.py --record OUT.json")
    _record(sys.argv[2])
