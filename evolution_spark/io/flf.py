"""Fixed-length-file read/parse/encode/write as narrow Spark pipelines.

This module is the Spark-native realization of the reference's entire dataflow
(SURVEY.md §2.1):

* ``read_flf``  — O1/O2: ``spark.read.text`` replaces the chunked line-aligned
  slicer (crates/evolution-slicer/src/slicer.rs:62-343); Spark's
  HadoopFileLinesReader realigns rows across split boundaries natively, and the
  read-buffer-size knob maps to ``spark.sql.files.maxPartitionBytes``.
* ``parse_flf`` — O3-O10: fixed-width rune extraction (``substring`` is
  codepoint-based, matching crates/evolution-parser/src/trimmer.rs:55-85),
  pad-trim per alignment (trimmer.rs:88-94), strict casts
  (crates/evolution-parser/src/datatype.rs), and nullability enforcement
  (crates/evolution-builder/src/datatype.rs:72-82: nullable failure -> NULL,
  non-nullable failure -> abort).
* ``encode_flf``/``write_flf`` — O13: the inverse converter
  (crates/evolution-writer/src/writer.rs:35-182).

Parse and encode are each two ``select``s of JVM-side column expressions:
first every field's text (extracted and pad-trimmed, or rendered), then the
typed value (or padded field) over references to that text. Catalyst does not
share sub-expressions across ``CASE WHEN`` branches, so a single ``select``
would recompute a field's text in every branch that reads it; the split
computes each field once. Both projections fuse into one
whole-stage-codegen'd stage: shuffle-free and scale-linear — one task per file
split, no Python in the hot path.

Compressed input: ``spark.read.text`` decompresses ``.gz``/``.bz2``/... FLF
transparently (tested in test_flf.py). A gzip file is NOT splittable — one
task per file — so large compressed drops should arrive as many files (or
use a splittable codec); ``max_partition_bytes`` only affects uncompressed
splits.

Semantics divergences from the reference (documented per SURVEY.md §7):
* Int parsing trims the *declared* pad symbol before the cast instead of
  scanning for the first sign+digit run (trimmer.rs:111-167), so digit pad
  symbols cannot silently merge into values.
* Float parsing accepts Spark's cast grammar (``Infinity``/``NaN`` spellings,
  scientific notation) instead of Rust's (``inf``/``NaN``).
* Multithreaded output order: the reference is arrival-order nondeterministic
  (converter.rs:295-298); Spark is per-split deterministic — strictly stronger.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_spark.schema import FixedColumn, FixedSchema

# try_cast targets (ANSI: out-of-range values and "" become NULL, so no
# separate bounds or empty-text checks are needed).
_CAST_TYPES = {
    "Int16": "smallint",
    "Int32": "int",
    "Int64": "bigint",
    "Float16": "float",
    "Float32": "float",
    "Float64": "double",
}

_INT_RE = r"^-?[0-9]+$"  # optional '-' + digit run (FIXTURES.md oracle rule 3)

_STRING_DTYPES = ("Utf8", "LargeUtf8")


def _text_names(n: int) -> list[str]:
    """Internal names of the per-field text columns between the two
    projections of a parse or an encode."""
    return [f"__flf_text_{i}" for i in range(n)]


def _strip(col: Column, pad: str, side: str) -> Column:
    """Strip `pad` repetitions from one or both ends.

    Spark 4's two-arg ltrim/rtrim/trim strip a character *set* — for a
    single pad char that's exactly pad-run removal, handles all 21 symbols
    (no regex escaping), and codegens to a simple char loop (measurably
    faster than regexp_replace in the convert hot path).
    """
    trim_chars = F.lit(pad)
    if side == "leading":
        return F.ltrim(col, trim_chars)
    if side == "trailing":
        return F.rtrim(col, trim_chars)
    return F.trim(col, trim_chars)


def trim_padding(col: Column, column: FixedColumn) -> Column:
    """Pad-trim per alignment (reference trimmer.rs:88-94):
    Left-aligned -> strip trailing pad; Right-aligned -> strip leading pad;
    Center -> strip both."""
    side = {"Left": "trailing", "Right": "leading", "Center": "both"}[column.alignment]
    return _strip(col, column.pad_char, side)


def raw_field(line: Column, column: FixedColumn) -> Column:
    """The field's runes [offset, offset+length) — ``substring`` is 1-based
    and codepoint-counting, so rune semantics come for free."""
    return F.substring(line, column.offset + 1, column.length)


def split_fields(
    df: DataFrame, schema: FixedSchema, column: str = "value"
) -> tuple[DataFrame, list[Column]]:
    """First projection: the line column plus each field's pad-trimmed text.

    Returns the projected frame and, per schema column, a reference to its
    text. Consumers build on these references, so each field is extracted
    and trimmed exactly once however often the next projection reads it.
    """
    line = F.col(column)
    names = _text_names(len(schema.columns))
    fields = df.select(
        line,
        *[
            trim_padding(raw_field(line, c), c).alias(n)
            for c, n in zip(schema.columns, names)
        ],
    )
    return fields, [F.col(n) for n in names]


def typed_field(text: Column, line: Column, column: FixedColumn) -> Column:
    """Cast a field's pad-trimmed text (a column reference) to its Spark type.

    Boolean is strict (exactly ``true``/``false``, reference
    datatype.rs:62-67 — Spark's native boolean cast is laxer, accepting
    t/f/1/0/yes/no, so it is NOT used). Ints are gated on a sign+digit regex
    (Spark's cast would also take a leading ``+`` and surrounding
    whitespace), then
    ``try_cast`` straight to the target type: overflow -> NULL, matching
    ``atoi_simd``'s ``None``. Floats are one ``try_cast`` (``""`` -> NULL).
    Utf8/LargeUtf8 never fail (datatype.rs:170-175).
    """
    dt = column.dtype
    if dt == "Boolean":
        return F.when(text == "true", F.lit(True)).when(text == "false", F.lit(False))
    if dt in _STRING_DTYPES:
        return text
    if dt.startswith("Float"):
        return text.try_cast(_CAST_TYPES[dt])
    digits = F.when(text.rlike(_INT_RE), text)
    if column.pad_char.isdigit():
        # Digit pad symbols: an all-pad field trims to "" but is a valid
        # number in the reference's digit-run scan (trimmer.rs:111-167 —
        # "000000" with Zero pad is the value 0, "555555" with Five pad is
        # 555555). The raw field is then all pad digits (or empty on a
        # short line, which casts to NULL); only that rare branch
        # re-extracts it.
        digits = F.when(text == "", raw_field(line, column)).otherwise(digits)
    return digits.try_cast(_CAST_TYPES[dt])


def _parse_field(text: Column, line: Column, column: FixedColumn, mode: str) -> Column:
    """Typed value plus nullability enforcement (reference
    crates/evolution-builder/src/datatype.rs:72-82).

    ``mode='abort'``: a cast failure on a non-nullable column raises at
    execution time via ``raise_error`` — a single-pass, distributed analogue
    of the reference's conversion abort (column.rs:123-131) with the failing
    column and raw value in the message. ``coalesce`` evaluates the error
    (and its raw-field extraction) only for a NULL value, so the job aborts
    on the first failing row with no extra work on valid ones.
    ``mode='permissive'``: failures become NULL everywhere.
    """
    typed = typed_field(text, line, column)
    if column.is_nullable or mode == "permissive" or column.dtype in _STRING_DTYPES:
        return typed.alias(column.name)
    message = F.concat(
        F.lit(
            f"could not parse non-nullable column '{column.name}' "
            f"(dtype {column.dtype}) from field value '"
        ),
        raw_field(line, column),
        F.lit("'"),
    )
    return F.coalesce(typed, F.raise_error(message)).alias(column.name)


def parse_flf(
    df: DataFrame,
    schema: FixedSchema,
    column: str = "value",
    mode: str = "abort",
) -> DataFrame:
    """Parse a DataFrame of raw FLF lines into a typed DataFrame
    (reference operators O3-O10).

    Two projections: :func:`split_fields` extracts and pad-trims each
    field, then each typed value is cast from a reference to that text.
    Catalyst does not share sub-expressions across ``CASE WHEN`` branches,
    so one projection would recompute a field's extract+trim in every
    branch that reads it (the regex gate, the cast, the abort check).
    The optimizer keeps the projections apart exactly when some text is
    read more than once, and both fuse into one whole-stage-codegen'd stage
    over the scan.
    """
    if mode not in ("abort", "permissive"):
        raise ValueError(f"unknown mode {mode!r} (expected 'abort' or 'permissive')")
    fields, texts = split_fields(df, schema, column)
    line = F.col(column)
    return fields.select(
        *[_parse_field(t, line, c, mode) for t, c in zip(texts, schema.columns)]
    )


def read_flf(
    spark: SparkSession,
    path: str,
    schema: FixedSchema,
    mode: str = "abort",
    max_partition_bytes: int | None = None,
) -> DataFrame:
    """Read + parse an FLF file into a typed DataFrame (reference O1 + O3-O10).

    ``spark.read.text`` handles ``\\n``/``\\r\\n`` and chunk/line alignment
    across splits (replacing the slicer crate); ``max_partition_bytes`` is the
    moral equivalent of the reference's ``read_buffer_size`` knob
    (examples/full/src/cli.rs:73-82) — at cluster scale it controls the split
    (= task) granularity of the scan.

    Split sizing is a *session* conf (``spark.sql.files.maxPartitionBytes``)
    that Spark reads at ACTION time, not when the DataFrame is defined — a
    per-reader ``.option(...)`` is silently ignored by the text source, and a
    set-then-restore around this call would be a no-op (verified: restoring
    the conf before the action reverts the split count). So when
    ``max_partition_bytes`` is given, this sets the session conf and LEAVES
    it set; callers wanting it scoped to one job wrap the whole read→action
    span in :func:`scoped_max_partition_bytes` (``Converter.run`` does).
    """
    if max_partition_bytes is not None:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(max_partition_bytes))
    lines = spark.read.text(path)
    return parse_flf(lines, schema, column="value", mode=mode)


@contextmanager
def scoped_max_partition_bytes(spark: SparkSession, nbytes: int | None):
    """Scope ``spark.sql.files.maxPartitionBytes`` to a read→action span.

    Spark resolves file splits when the job RUNS, so the conf must still be
    set at action time — this manager wraps the whole span (build the plan
    AND run the action inside the ``with`` block) and restores the prior
    value afterwards. ``nbytes=None`` is a no-op passthrough.
    """
    if nbytes is None:
        yield
        return
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key, None)
    spark.conf.set(key, str(nbytes))
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


# ---------------------------------------------------------------------------
# Encoding (O13 — the FLF sink / inverse converter)
# ---------------------------------------------------------------------------


_JVM_SHORTEST_CACHE: dict[int, bool] = {}


def _jvm_emits_shortest(spark) -> bool:
    """True when the JVM's ``Double.toString``/``Float.toString`` emits
    shortest-roundtrip digits — JDK >= 19 (JDK-4511638, fixed by the Ryu
    rewrite in 19). Pre-19 JVMs (this container runs 17) can emit
    non-shortest digits for rare values, so the plain-float renderer must
    fall back to the numpy pandas-UDF path to keep Rust-Display/NumPy
    parity and bounded field widths. Probed once per session via the public
    ``java_method`` SQL reflection function (no internal JVM handles)."""
    key = id(spark)
    if key not in _JVM_SHORTEST_CACHE:
        ver = str(
            spark.sql(
                "SELECT java_method('java.lang.System', 'getProperty', "
                "'java.specification.version')"
            ).first()[0]
        )
        major = ver.split(".")[1] if ver.startswith("1.") else ver.split(".")[0]
        try:
            _JVM_SHORTEST_CACHE[key] = int(major) >= 19
        except ValueError:
            _JVM_SHORTEST_CACHE[key] = False
    return _JVM_SHORTEST_CACHE[key]


def _plain_float_udf(single_precision: bool):
    """Shortest-roundtrip *plain* decimal rendering via numpy
    (``np.format_float_positional``, Ryu — guaranteed shortest digits on
    any JDK). Arrow-batched pandas UDF; used by ``float_format='plain'``
    encodes only when the JVM cast cannot guarantee shortest digits
    (JDK < 19 — see ``_jvm_emits_shortest``). NULLs are masked out by the
    caller (pandas float series conflate NULL with NaN), so every value
    seen here renders to text."""

    @F.pandas_udf("string")
    def fmt_series(s):  # type: ignore[misc]
        import numpy as np

        ftype = np.float32 if single_precision else np.float64

        def fmt(f):
            v = ftype(f)
            if np.isnan(v):
                return "NaN"
            if np.isinf(v):
                return "Infinity" if v > 0 else "-Infinity"
            return np.format_float_positional(v, unique=True, trim="-")

        return s.map(fmt)

    return fmt_series


def _plain_float_expr(col: Column) -> Column:
    """Shortest-roundtrip *plain* decimal rendering of a float column
    (Rust ``Display`` parity: ``-652053955.456``, never ``-6.52E8``).

    Pure JVM expression — no Python anywhere: on JDK >= 19 the JVM's
    cast-to-string emits the shortest-roundtrip digits (Ryu), just
    sometimes in scientific notation; this expression re-positions the
    decimal point with string ops, all inside whole-stage codegen. On
    older JDKs the caller routes to ``_plain_float_udf`` instead
    (JDK-4511638: pre-19 ``Double.toString`` is not always shortest).
    Precision (Float32 vs Float64 shortest repr) comes from the column's
    own type, exactly as the JVM cast renders it.

    Mechanics: split ``dEe`` into sign, integer digits ``d``, fraction
    digits ``f`` (trailing zeros trimmed — shortest repr only carries them
    in the ``x.0`` integral case), exponent ``e``; the decimal point then
    belongs after ``p = len(d) + e`` digits of ``d||f`` — pad with zeros on
    whichever side ``p`` falls outside.
    """
    s = col.cast("string")
    mant = F.split_part(s, F.lit("E"), F.lit(1))
    exp = F.coalesce(
        F.nullif(F.split_part(s, F.lit("E"), F.lit(2)), F.lit("")).cast("int"),
        F.lit(0),
    )
    neg = mant.startswith("-")
    m = F.when(neg, mant.substr(F.lit(2), F.length(mant))).otherwise(mant)
    d = F.split_part(m, F.lit("."), F.lit(1))
    f = F.regexp_replace(F.split_part(m, F.lit("."), F.lit(2)), "0+$", "")
    digits = F.concat(d, f)
    p = F.length(d) + exp  # digits left of the decimal point
    n = F.length(digits)
    body = (
        F.when(p >= n, F.concat(digits, F.repeat(F.lit("0"), p - n)))
        .when(p <= 0, F.concat(F.lit("0."), F.repeat(F.lit("0"), -p), digits))
        .otherwise(
            F.concat(digits.substr(F.lit(1), p), F.lit("."), digits.substr(p + 1, n))
        )
    )
    plain = F.when(neg, F.concat(F.lit("-"), body)).otherwise(body)
    return F.when(s.isin("NaN", "Infinity", "-Infinity"), s).otherwise(plain)


def _value_as_text(
    col: Column,
    column: FixedColumn,
    float_format: str = "native",
    jvm_shortest: bool = False,
) -> Column:
    """Render a typed value as field text. Booleans render ``true``/``false``
    (Rust Display parity); NULL renders as the empty string (an all-pad field,
    which parses back to NULL). Floats: ``float_format='native'`` uses Spark's
    shortest cast-to-string (scientific notation at >=1e7); ``'plain'``
    matches Rust's plain Display — via a codegen-resident string expression
    when the JVM guarantees shortest digits (``jvm_shortest``, JDK >= 19),
    else via the numpy pandas UDF."""
    if column.dtype == "Boolean":
        text = F.when(col, F.lit("true")).when(~col, F.lit("false"))
    elif float_format == "plain" and column.dtype in ("Float16", "Float32", "Float64"):
        if jvm_shortest:
            text = F.when(col.isNotNull(), _plain_float_expr(col))
        else:
            udf = _plain_float_udf(column.dtype != "Float64")
            text = F.when(col.isNotNull(), udf(col))
    else:
        text = col.cast("string")
    return F.coalesce(text, F.lit(""))


def pad_field(text: Column, column: FixedColumn, overflow: str = "error") -> Column:
    """Pad field text to the declared rune width per alignment+symbol
    (reference: padder crate via writer.rs / mocker.rs:213-221).

    Left -> pad on the right; Right -> pad on the left; Center -> split pad,
    extra pad rune on the right. ``overflow='error'`` raises when a value is
    wider than the field (silent truncation would corrupt data);
    ``overflow='truncate'`` keeps the leftmost ``length`` runes.
    """
    width = column.length
    pad = column.pad_char
    n = F.length(text)
    if column.alignment == "Left":
        padded = F.rpad(text, width, pad)
    elif column.alignment == "Right":
        padded = F.lpad(text, width, pad)
    else:  # Center: left gets floor((width-n)/2), remainder goes right
        left_target = n + F.floor((F.lit(width) - n) / F.lit(2)).cast("int")
        padded = F.rpad(F.lpad(text, left_target, pad), width, pad)
    if overflow == "truncate":
        return F.substring(padded, 1, width)
    return F.when(
        n > width,
        F.raise_error(
            F.concat(
                F.lit(
                    f"value too wide for column '{column.name}' "
                    f"(width {width} runes): '"
                ),
                text,
                F.lit("'"),
            )
        ),
    ).otherwise(padded)


def encode_flf(
    df: DataFrame,
    schema: FixedSchema,
    overflow: str = "error",
    out_column: str = "value",
    float_format: str = "native",
) -> DataFrame:
    """Encode a typed DataFrame into one fixed-width text line per row.

    Columns are laid out at their declared offsets; gaps between fields (and a
    ragged tail up to ``row_length``) are filled with spaces. Returns a
    single-string-column DataFrame ready for ``write.text``.
    """
    jvm_shortest = float_format == "plain" and _jvm_emits_shortest(df.sparkSession)
    layout = sorted(schema.columns, key=lambda c: c.offset)
    names = _text_names(len(layout))
    pieces: list[Column] = []
    cursor = 0
    for c, name in zip(layout, names):
        if c.offset < cursor:
            raise ValueError(
                f"overlapping columns at offset {c.offset} (column {c.name!r})"
            )
        if c.offset > cursor:
            pieces.append(F.lit(" " * (c.offset - cursor)))
        pieces.append(pad_field(F.col(name), c, overflow=overflow))
        cursor = c.offset + c.length
    if cursor < schema.row_length:
        pieces.append(F.lit(" " * (schema.row_length - cursor)))
    # Field text first, padding second: pad_field reads its text up to four
    # times (width, padding, overflow check, error message), and a reference
    # to a projected column renders each value once.
    texts = df.select(
        *[
            _value_as_text(
                F.col(c.name), c, float_format=float_format, jvm_shortest=jvm_shortest
            ).alias(name)
            for c, name in zip(layout, names)
        ]
    )
    return texts.select(F.concat(*pieces).alias(out_column))


def write_flf(
    df: DataFrame,
    schema: FixedSchema,
    path: str,
    overflow: str = "error",
    single_file: bool = False,
    mode: str = "error",
    float_format: str = "native",
) -> None:
    """Encode + write an FLF dataset (reference O13).

    Each task writes its own part file — the reference's single-writer-thread
    bottleneck (converter.rs:295-298) does not exist here. ``single_file=True``
    is the ``coalesce(1)`` fidelity mode for one-output-file parity.
    """
    encoded = encode_flf(df, schema, overflow=overflow, float_format=float_format)
    if single_file:
        encoded = encoded.coalesce(1)
    encoded.write.mode(mode).text(path)
