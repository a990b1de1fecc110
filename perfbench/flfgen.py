"""Seeded FLF batches for the ``table_commits`` workload.

A wide schema: every FLF dtype, every alignment, and one digit pad symbol
(``Zero`` on a right-aligned Int32). About 10% of rows carry non-ASCII
text and about 1% carry one malformed value in a nullable numeric field,
which the converter must turn into exactly one NULL. Nothing else is ever
empty or malformed, so the expected NULL count of each column is known.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

# (name, length, dtype, nullable, alignment, pad symbol)
_COLUMNS = (
    ("id", 12, "Int64", False, "Right", "Whitespace"),
    ("i16", 7, "Int16", True, "Center", "Whitespace"),
    ("i32", 11, "Int32", True, "Right", "Zero"),
    ("i64", 15, "Int64", True, "Left", "Whitespace"),
    ("f16", 8, "Float16", True, "Right", "Whitespace"),
    ("f32", 12, "Float32", True, "Center", "Whitespace"),
    ("f64", 16, "Float64", True, "Left", "Whitespace"),
    ("flag", 6, "Boolean", True, "Right", "Whitespace"),
    ("name", 16, "Utf8", False, "Left", "Whitespace"),
    ("note", 24, "LargeUtf8", True, "Center", "Whitespace"),
)

WIDE_SCHEMA_DICT = {
    "name": "PerfbenchWide",
    "version": 1,
    "columns": [],
}
_offset = 0
for _name, _length, _dtype, _nullable, _align, _pad in _COLUMNS:
    WIDE_SCHEMA_DICT["columns"].append({
        "name": _name, "offset": _offset, "length": _length, "dtype": _dtype,
        "is_nullable": _nullable, "alignment": _align, "pad_symbol": _pad,
    })
    _offset += _length
LINE_RUNES = _offset

# The Iceberg appends read the same bytes with ``i16`` declared Int32:
# ``Converter(target="iceberg", save_mode="append")`` rejects every append
# to a table with an Int16 column (the table stores it as Iceberg ``int``,
# the parsed batch is Spark ``short``). The Delta appends keep Int16.
ICEBERG_SCHEMA_DICT = {
    **WIDE_SCHEMA_DICT,
    "columns": [
        dict(c, dtype="Int32") if c["dtype"] == "Int16" else c
        for c in WIDE_SCHEMA_DICT["columns"]
    ],
}

MALFORMABLE = ("i16", "i32", "i64", "f16", "f32", "f64")
_BAD_INT = ("12x4", "--7", "1.5", "abc", "9-9")
_BAD_FLOAT = ("1.2.3", "x9", "--1", "abc", "7..0")
_ASCII_NAMES = (
    "James", "Mary", "Robert", "Patricia", "John", "Jennifer", "Michael",
    "Linda", "David", "Elizabeth", "William", "Barbara", "Richard", "Susan",
)
_WIDE_NAMES = (
    "Zoë", "Søren", "José", "Łukasz", "Ærøskøbing", "Ἀθηνᾶ", "Дмитрий",
    "李小龙", "Ångström", "Çelik", "Ñandú", "Őrs", "Þórunn", "Émile",
)


# one str.format field per column: fill char, alignment, width
_LINE_FORMAT = "".join(
    "{:" + ("0" if pad == "Zero" else " ") + {"Left": "<", "Right": ">", "Center": "^"}[align]
    + str(length) + "}"
    for _, length, _, _, align, pad in _COLUMNS
)


@dataclass
class Batch:
    path: Path
    rows: int
    id_sum: int
    nulls: dict[str, int] = field(default_factory=dict)
    non_ascii_rows: int = 0
    n_bytes: int = 0


def write_batch(path: Path, seed: int, first_id: int, rows: int) -> Batch:
    """Write ``rows`` lines to ``path``; ids run from ``first_id``."""
    rng = np.random.default_rng(seed)
    wide = rng.random(rows) < 0.10
    ascii_names = np.array(_ASCII_NAMES, dtype=object)
    wide_names = np.array(_WIDE_NAMES, dtype=object)

    def names() -> list[str]:
        return np.where(
            wide,
            wide_names[rng.integers(0, len(_WIDE_NAMES), rows)],
            ascii_names[rng.integers(0, len(_ASCII_NAMES), rows)],
        ).tolist()

    def ints(bound: int) -> list[int]:
        return rng.integers(-bound, bound, rows, endpoint=True).tolist()

    cols = {
        "id": range(first_id, first_id + rows),
        "i16": ints(10_000),
        "i32": ints(1_000_000),
        "i64": ints(10**12),
        "f16": [f"{v / 10:.1f}" for v in ints(2560)],
        "f32": [f"{v / 100:.2f}" for v in ints(10**8)],
        "f64": [f"{v / 1000:.3f}" for v in ints(10**12)],
        "flag": np.where(rng.random(rows) < 0.5, "true", "false").tolist(),
        "name": names(),
        "note": [f"{n} r{r}" for r, n in enumerate(names())],
    }
    nulls = dict.fromkeys(MALFORMABLE, 0)
    for r in np.flatnonzero(rng.random(rows) < 0.01).tolist():
        col = MALFORMABLE[int(rng.integers(len(MALFORMABLE)))]
        bad = _BAD_FLOAT if col.startswith("f") else _BAD_INT
        cols[col][r] = bad[int(rng.integers(len(bad)))]
        nulls[col] += 1
    data = ("\n".join(map(_LINE_FORMAT.format, *cols.values())) + "\n").encode("utf-8")
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_bytes(data)
    id_sum = rows * first_id + rows * (rows - 1) // 2
    return Batch(path, rows, id_sum, nulls, int(wide.sum()), len(data))
