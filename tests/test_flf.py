"""End-to-end FLF parse/encode tests covering reference operators O1, O3-O13
(SURVEY.md §2.1) and the FIXTURES.md edge cases (multibyte runes, negative
numbers, zero padding, strict booleans, center alignment, non-nullable abort).
"""

from __future__ import annotations

import json
import math
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from evolution_spark.io.flf import encode_flf, parse_flf, read_flf, write_flf
from evolution_spark.schema import BENCH_FLF_SCHEMA_DICT, PAD_SYMBOLS, FixedSchema

EDGE = FixedSchema.from_dict(
    {
        "name": "EdgeCases",
        "version": 1,
        "columns": [
            {"name": "uni_name", "offset": 0, "length": 12, "dtype": "Utf8",
             "alignment": "Left", "pad_symbol": "Dot", "is_nullable": True},
            {"name": "neg_int", "offset": 12, "length": 8, "dtype": "Int64",
             "alignment": "Right", "pad_symbol": "Whitespace", "is_nullable": False},
            {"name": "zero_pad", "offset": 20, "length": 9, "dtype": "Int32",
             "alignment": "Right", "pad_symbol": "Zero", "is_nullable": False},
            {"name": "strict", "offset": 29, "length": 6, "dtype": "Boolean",
             "alignment": "Center", "pad_symbol": "Whitespace", "is_nullable": True},
            {"name": "ctr_f64", "offset": 35, "length": 14, "dtype": "Float64",
             "alignment": "Center", "pad_symbol": "Underscore", "is_nullable": True},
        ],
    }
)


def _lines_df(spark, lines):
    return spark.createDataFrame([(l,) for l in lines], ["value"])


# Equivalence grid: every non-string dtype x alignment x {blank, digit} pad,
# each field holding one of GRID_TOKENS padded to GRID_WIDTH runes. The
# expected values (flf_parse_grid.json, repr per token) were recorded with
# _grid_values against the earlier single-projection parse_flf, whose typed
# expressions recomputed each field per CASE branch; the two-projection
# parse must agree with it cell for cell.
GRID_WIDTH = 24
GRID_TOKENS = (
    "+5", " 5", "5 ", "-", "--1", "1.5", "", "0", "-0", "007",
    "-32769", "-32768", "32767", "32768",
    "-2147483649", "-2147483648", "2147483647", "2147483648",
    "-9223372036854775809", "-9223372036854775808",
    "9223372036854775807", "9223372036854775808",
    "NaN", "Infinity", "-Infinity", "inf", "1e3", "true", "TRUE", "false",
)
GRID_DTYPES = ("Boolean", "Float16", "Float32", "Float64", "Int16", "Int32", "Int64")
GRID_COLUMNS = [
    (dt, al, pad)
    for dt in GRID_DTYPES
    for al in ("Left", "Right", "Center")
    for pad in ("Whitespace", "Zero")
]
GRID_EXPECTED = Path(__file__).with_name("flf_parse_grid.json")


def _grid_name(dtype, alignment, pad):
    return f"{dtype}_{alignment}_{pad}"


def _grid_schema(columns, nullable):
    return FixedSchema.from_dict({"name": "Grid", "version": 1, "columns": [
        {"name": _grid_name(dt, al, pad), "offset": i * GRID_WIDTH,
         "length": GRID_WIDTH, "dtype": dt, "alignment": al,
         "pad_symbol": pad, "is_nullable": nullable}
        for i, (dt, al, pad) in enumerate(columns)
    ]})


def _grid_field(token, alignment, pad):
    fill = GRID_WIDTH - len(token)
    left = {"Left": 0, "Right": fill, "Center": fill // 2}[alignment]
    sym = PAD_SYMBOLS[pad]
    return sym * left + token + sym * (fill - left)


def _grid_line(columns, tokens):
    return "".join(
        _grid_field(tok, al, pad) for (_, al, pad), tok in zip(columns, tokens)
    )


def _grid_text_df(spark, tmp_path, lines):
    """Lines read back from a text file: the scan -> projection plan
    ``Converter`` runs (an in-memory relation would be folded on the
    driver instead)."""
    p = tmp_path / "grid.flf"
    p.write_text("".join(l + "\n" for l in lines))
    return spark.read.text(str(p))


def _grid_parse(spark, tmp_path, columns, lines, nullable, mode):
    """Parse ``lines`` in line order -> list of row tuples."""
    df = parse_flf(
        _grid_text_df(spark, tmp_path, lines), _grid_schema(columns, nullable), mode=mode
    )
    rows = df.select(F.monotonically_increasing_id().alias("_i"), "*").collect()
    return [tuple(r)[1:] for r in sorted(rows)]


def _grid_values(spark, tmp_path, columns=GRID_COLUMNS):
    """Permissive parse of the grid -> {column name: [repr per token]}."""
    lines = [_grid_line(columns, [t] * len(columns)) for t in GRID_TOKENS]
    rows = _grid_parse(spark, tmp_path, columns, lines, True, "permissive")
    return {
        _grid_name(*c): [repr(row[i]) for row in rows]
        for i, c in enumerate(columns)
    }


def test_edge_cases_parse(spark):
    # Åström実験 = 8 runes, left-aligned dot-padded to 12
    line = "Åström実験...." + "    -123" + "000000042" + " true " + "__-3.14e2____"
    row = parse_flf(_lines_df(spark, [line]), EDGE).collect()[0]
    assert row.uni_name == "Åström実験"
    assert row.neg_int == -123
    assert row.zero_pad == 42
    assert row.strict is True
    assert row.ctr_f64 == pytest.approx(-314.0)


def test_strict_boolean_rejects_lax_forms(spark):
    base = "x..........." + "       1" + "000000001"
    for field in [" TRUE ", "  yes ", "   t  ", "  1   "]:
        line = base + field + "______1_______"
        row = parse_flf(_lines_df(spark, [line]), EDGE).collect()[0]
        assert row.strict is None, field
    line = base + " false" + "______1_______"
    assert parse_flf(_lines_df(spark, [line]), EDGE).collect()[0].strict is False


def test_nullable_failure_becomes_null(spark):
    # ctr_f64 nullable: garbage -> NULL with no error
    line = "x..........." + "       1" + "000000001" + " true " + "___garbage____"
    row = parse_flf(_lines_df(spark, [line]), EDGE).collect()[0]
    assert row.ctr_f64 is None


def test_non_nullable_failure_aborts(spark):
    # neg_int non-nullable: garbage aborts the job (reference column.rs:123-131)
    line = "x..........." + "   12a34" + "000000001" + " true " + "______1_______"
    with pytest.raises(PySparkException, match="neg_int"):
        parse_flf(_lines_df(spark, [line]), EDGE).collect()


def test_permissive_mode_nulls_everything(spark):
    line = "x..........." + "   12a34" + "0000000x1" + " blorp" + "___garbage____"
    row = parse_flf(_lines_df(spark, [line]), EDGE, mode="permissive").collect()[0]
    assert row.neg_int is None and row.zero_pad is None
    assert row.strict is None and row.ctr_f64 is None


def test_int_overflow_fails(spark):
    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "i16", "offset": 0, "length": 10, "dtype": "Int16", "is_nullable": True},
            {"name": "i32", "offset": 10, "length": 14, "dtype": "Int32", "is_nullable": True},
            {"name": "i64", "offset": 24, "length": 24, "dtype": "Int64", "is_nullable": True},
        ]}
    )
    ok = "     32767" + "    2147483647" + "     9223372036854775807"
    bad = "     32768" + "    2147483648" + "     9223372036854775808"
    rows = parse_flf(_lines_df(spark, [ok, bad]), sch).collect()
    assert (rows[0].i16, rows[0].i32, rows[0].i64) == (32767, 2147483647, 9223372036854775807)
    assert (rows[1].i16, rows[1].i32, rows[1].i64) == (None, None, None)


def test_utf8_empty_stays_empty_not_null(spark):
    # reference Utf8Parser never fails (datatype.rs:170-175): all-pad -> ""
    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "t", "offset": 0, "length": 5, "dtype": "Utf8", "is_nullable": True}]}
    )
    row = parse_flf(_lines_df(spark, ["     "]), sch).collect()[0]
    assert row.t == ""


def test_float16_widens_to_float(spark):
    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "h", "offset": 0, "length": 8, "dtype": "Float16", "is_nullable": True}]}
    )
    df = parse_flf(_lines_df(spark, ["    1.5 "]), sch)
    assert dict(df.dtypes)["h"] == "float"
    assert df.collect()[0].h == pytest.approx(1.5)


def test_regex_metachar_pad_symbols(spark):
    # Asterisk + Backslash pads must not be interpreted as regex
    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "a", "offset": 0, "length": 8, "dtype": "Utf8",
             "alignment": "Left", "pad_symbol": "Asterisk", "is_nullable": True},
            {"name": "b", "offset": 8, "length": 8, "dtype": "Int32",
             "alignment": "Right", "pad_symbol": "Backslash", "is_nullable": True},
        ]}
    )
    row = parse_flf(_lines_df(spark, ["hi******" + "\\\\\\\\\\\\42"]), sch).collect()[0]
    assert row.a == "hi" and row.b == 42


def test_encode_roundtrip(spark):
    line = "Åström実験...." + "    -123" + "000000042" + " true " + "____-314.0____"
    parsed = parse_flf(_lines_df(spark, [line]), EDGE)
    encoded = encode_flf(parsed, EDGE).collect()[0].value
    assert len(encoded) == EDGE.row_length
    reparsed = parse_flf(_lines_df(spark, [encoded]), EDGE).collect()[0]
    orig = parsed.collect()[0]
    assert reparsed == orig


def test_encode_null_roundtrips_to_null(spark):
    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "f", "offset": 0, "length": 10, "dtype": "Float64", "is_nullable": True}]}
    )
    df = spark.createDataFrame([(None,)], sch.to_spark_schema())
    encoded = encode_flf(df, sch).collect()[0].value
    assert encoded == " " * 10
    assert parse_flf(_lines_df(spark, [encoded]), sch).collect()[0].f is None


def test_encode_overflow_errors(spark):
    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "t", "offset": 0, "length": 3, "dtype": "Utf8", "is_nullable": True}]}
    )
    df = spark.createDataFrame([("toolong",)], ["t"])
    with pytest.raises(PySparkException, match="too wide"):
        encode_flf(df, sch).collect()
    assert encode_flf(df, sch, overflow="truncate").collect()[0].value == "too"


def test_encode_gap_filling(spark):
    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "a", "offset": 0, "length": 3, "dtype": "Utf8",
             "alignment": "Left", "is_nullable": True},
            {"name": "b", "offset": 5, "length": 3, "dtype": "Int32", "is_nullable": True},
        ]}
    )
    df = spark.createDataFrame([("x", 1)], sch.to_spark_schema())
    assert encode_flf(df, sch).collect()[0].value == "x  " + "  " + "  1"


def test_file_roundtrip(spark, tmp_path):
    """mock-shaped write -> read_flf -> write_flf -> read_flf: stable fixpoint."""
    sch = EDGE
    rows = [
        ("Åström実験", -123, 42, True, -314.0),
        ("bob", 9, 7, None, None),
        ("", -9999999, 123456789, False, 2.5),
    ]
    df = spark.createDataFrame(rows, sch.to_spark_schema())
    p1 = str(tmp_path / "first.flf")
    p2 = str(tmp_path / "second.flf")
    write_flf(df, sch, p1)
    back = read_flf(spark, p1, sch)
    write_flf(back, sch, p2)
    a = sorted(read_flf(spark, p1, sch).collect())
    b = sorted(read_flf(spark, p2, sch).collect())
    assert a == b
    assert len(a) == 3


def test_crlf_lines(spark, tmp_path):
    # reference supports \r\n rows (evolution-common/src/lib.rs:29-46)
    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "i", "offset": 0, "length": 4, "dtype": "Int32", "is_nullable": False}]}
    )
    p = tmp_path / "crlf.flf"
    p.write_bytes(b"   1\r\n   2\r\n")
    vals = sorted(r.i for r in read_flf(spark, str(p), sch).collect())
    assert vals == [1, 2]


def test_plain_float_format_roundtrip_idempotent(spark, tmp_path):
    """mock -> FLF -> parse -> re-encode(plain) is byte-identical: shortest
    plain decimal rendering (Rust Display parity) is a fixpoint."""
    from evolution_spark.mocker import Mocker

    sch = FixedSchema.from_dict(
        {"name": "s", "version": 1, "columns": [
            {"name": "id", "offset": 0, "length": 12, "dtype": "Int64", "is_nullable": False},
            {"name": "score", "offset": 12, "length": 15, "dtype": "Float64", "is_nullable": True},
            {"name": "ratio", "offset": 27, "length": 12, "dtype": "Float32", "is_nullable": True},
        ]}
    )
    src = str(tmp_path / "src.flf")
    Mocker(sch, 500, src, seed=11).run(spark)
    re1 = encode_flf(read_flf(spark, src, sch), sch, float_format="plain")
    a = sorted(r.value for r in re1.collect())
    b = sorted(l for p in (tmp_path / "src.flf").glob("part-*.txt")
               for l in p.read_text().splitlines())
    assert a == b


def test_max_partition_bytes_controls_splits(spark, tmp_path):
    """The split-size knob must change the ACTION-time task count: Spark
    reads spark.sql.files.maxPartitionBytes when the job runs, so the knob
    is a session conf (a per-reader .option is silently ignored)."""
    from evolution_spark.io.flf import scoped_max_partition_bytes

    p = str(tmp_path / "wide.flf")
    line = "x" * 49 + "\n"
    with open(p, "w") as f:
        f.write(line * 4000)  # ~200 KB
    sch = FixedSchema.from_dict(
        {"name": "W", "version": 1, "columns": [
            {"name": "s", "offset": 0, "length": 49, "dtype": "Utf8",
             "alignment": "Left", "pad_symbol": "Whitespace", "is_nullable": True}]}
    )
    prior = spark.conf.get("spark.sql.files.maxPartitionBytes")
    with scoped_max_partition_bytes(spark, 16 * 1024):
        n_small = read_flf(spark, p, sch).rdd.getNumPartitions()
    assert spark.conf.get("spark.sql.files.maxPartitionBytes") == prior
    n_default = read_flf(spark, p, sch).rdd.getNumPartitions()
    assert n_small > n_default  # ~13 splits at 16 KB vs 1 at 128 MB


def test_gzipped_flf_input(spark, tmp_path):
    """spark.read.text decompresses .gz FLF transparently, so compressed
    fixed-width drops convert without any code path change. (A .gz file is
    NOT splittable — one task per file — so compressed inputs should arrive
    as many files; noted in io/flf.py.)"""
    import glob
    import gzip

    from evolution_spark.converter import Converter
    from evolution_spark.mocker import Mocker
    from evolution_spark.schema import FixedSchema

    sch = FixedSchema.from_dict(
        {"name": "gz", "version": 1, "columns": [
            {"name": "id", "offset": 0, "length": 10, "dtype": "Int64", "is_nullable": False},
            {"name": "tag", "offset": 10, "length": 8, "dtype": "Utf8", "is_nullable": True}]}
    )
    plain = str(tmp_path / "plain.flf")
    Mocker(sch, 200, plain, seed=5).run(spark)
    gzdir = tmp_path / "gz"
    gzdir.mkdir()
    for i, part in enumerate(sorted(glob.glob(f"{plain}/part-*"))):
        with open(part, "rb") as fin, gzip.open(gzdir / f"part-{i}.flf.gz", "wb") as fout:
            fout.write(fin.read())
    ref = Converter(plain, sch, "unused").dataframe(spark)
    got = Converter(str(gzdir), sch, "unused").dataframe(spark)
    assert got.count() == 200
    assert got.exceptAll(ref).count() == 0 and ref.exceptAll(got).count() == 0


def _dtype_columns(dtype):
    return [c for c in GRID_COLUMNS if c[0] == dtype]


@pytest.mark.parametrize("dtype", GRID_DTYPES)
def test_parse_grid_matches_recorded(spark, tmp_path, dtype):
    """Every dtype x alignment x pad x token cell parses to the recorded
    value (compared by repr, so NaN equals NaN)."""
    recorded = json.loads(GRID_EXPECTED.read_text())
    assert recorded["tokens"] == list(GRID_TOKENS)
    got = _grid_values(spark, tmp_path, _dtype_columns(dtype))
    assert got == {n: recorded["expected"][n] for n in got}


@pytest.mark.parametrize("dtype", GRID_DTYPES)
def test_parse_grid_abort_raises_exactly_on_failures(spark, tmp_path, dtype):
    """With every field non-nullable, mode='abort' returns the recorded
    value for each cell that parses and raises, naming the column, for each
    cell that does not."""
    columns = _dtype_columns(dtype)
    names = [_grid_name(*c) for c in columns]
    expected = json.loads(GRID_EXPECTED.read_text())["expected"]
    ok = {n: [t for t, v in zip(GRID_TOKENS, expected[n]) if v != "None"] for n in names}
    bad = [(i, t) for i, n in enumerate(names)
           for t, v in zip(GRID_TOKENS, expected[n]) if v == "None"]
    assert all(ok.values()) and bad

    def good_tokens(k):  # row k: each column cycles through its valid tokens
        return [ok[n][k % len(ok[n])] for n in names]

    # Valid cells, as one scan job: nothing raises, values match.
    depth = max(len(v) for v in ok.values())
    rows = _grid_parse(
        spark, tmp_path, columns,
        [_grid_line(columns, good_tokens(k)) for k in range(depth)], False, "abort",
    )
    for k, row in enumerate(rows):
        for i, n in enumerate(names):
            tok = good_tokens(k)[i]
            assert repr(row[i]) == expected[n][GRID_TOKENS.index(tok)], (n, tok)

    # Failing cells, one per parse of that field alone. A one-row inline
    # table is evaluated on the driver (no task launch), so each cell costs
    # one plan build and optimizer pass; a few threads overlap them.
    def raises_naming(cell):
        i, tok = cell
        _, al, pad = columns[i]
        line = spark.sql(
            "SELECT * FROM VALUES (:l) AS t(value)", args={"l": _grid_field(tok, al, pad)}
        )
        try:
            parse_flf(line, _grid_schema([columns[i]], False)).collect()
        except PySparkException as e:
            return f"column '{names[i]}'" in str(e)
        return False

    with ThreadPoolExecutor(4) as pool:
        outcome = dict(zip(bad, pool.map(raises_naming, bad)))
    assert [c for c, hit in outcome.items() if not hit] == []

    # And the scan plan raises too, naming the first failing cell's column.
    i, tok = bad[0]
    tokens = good_tokens(0)
    tokens[i] = tok
    with pytest.raises(PySparkException, match=f"column '{names[i]}'"):
        _grid_parse(
            spark, tmp_path, columns, [_grid_line(columns, tokens)], False, "abort"
        )


def _executed_plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


PLAN_SCHEMAS = pytest.mark.parametrize(
    "schema", [FixedSchema.from_dict(BENCH_FLF_SCHEMA_DICT), EDGE], ids=["bench", "edge"]
)


@PLAN_SCHEMAS
def test_parse_plan_computes_each_field_once(spark, tmp_path, schema):
    """The executed parse plan holds one regex gate per Int column and one
    try_cast per numeric column: each field's text is extracted and trimmed
    once and referenced from there, not recomputed per CASE branch."""
    p = tmp_path / "one.flf"
    p.write_text(" " * schema.row_length + "\n")
    dtypes = [c.dtype for c in schema.columns]
    n_int = sum(d.startswith("Int") for d in dtypes)
    n_numeric = n_int + sum(d.startswith("Float") for d in dtypes)
    for mode in ("abort", "permissive"):
        plan = _executed_plan(parse_flf(spark.read.text(str(p)), schema, mode=mode))
        assert plan.count("RLIKE(") == n_int, plan
        assert plan.count("try_cast(") == n_numeric, plan
        assert plan.count("trim(") == len(dtypes), plan


@PLAN_SCHEMAS
def test_encode_plan_renders_each_field_once(spark, schema):
    """Each column's text expression (``coalesce(<rendered value>, '')``
    over a nullable input) appears once in the executed encode plan;
    padding, width check and error message read it by reference."""
    from pyspark.sql import types as T

    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in schema.to_spark_schema()]
    )
    df = spark.createDataFrame([tuple([None] * len(nullable))], nullable)
    plan = _executed_plan(encode_flf(df, schema))
    assert plan.count("coalesce(") == len(schema.columns), plan
