"""Schemas + validation for the transcript feature engine.

The reference declares schemas up front and validates at ingest
(/root/reference/pkg/storage/duckdb/duckdb.go:122-179,
/root/reference/pkg/storage/parquet/parquet.go:92-160): ``entity_id`` is
mandatory (duckdb.go:133-144), ``timestamp`` optional-but-special
(duckdb.go:946-963), everything else is a feature column. Missing
timestamps get wall-clock "now" substituted (pkg/core/model.go:137-145) —
nondeterministic, so this engine REJECTS null ``ts`` instead (SURVEY C6).

Our spine key is ``(conv_id, ts)`` with a ``turn_idx`` tie-break the
reference lacks (SURVEY C2: the reference's latest-per-entity has no
deterministic order for equal timestamps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

# Authoritative input shape (BASELINE.json input_hint).
TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), nullable=False),
        T.StructField("turn_idx", T.IntegerType(), nullable=False),
        T.StructField("role", T.StringType(), nullable=False),
        T.StructField("text", T.StringType(), nullable=True),
        T.StructField("tool", T.StringType(), nullable=True),
        T.StructField("ts", T.TimestampType(), nullable=False),
    ]
)

# As-of join left side: entity spine points (FIXTURES.md §2).
SPINE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), nullable=False),
        T.StructField("ts", T.TimestampType(), nullable=False),
    ]
)

# Generic feature-log shape: the reference's FeatureVector is
# {entity_id, values map, timestamp} (pkg/core/model.go:25-32); in Spark a
# feature log is any DataFrame with (entity, ts, feature columns...).
RESERVED_COLUMNS = ("conv_id", "ts")


class SchemaValidationError(ValueError):
    """Raised when an input DataFrame violates the declared contract."""


# Arrow-type vocabulary → Spark types (reference type tables:
# pkg/core/model.go:227-252, pkg/storage/duckdb/duckdb.go:305-339,
# python/featherstore_client.py:244-267).  Spark has no unsigned ints, so
# unsigned widens to the next signed size (uint64 → decimal(20,0));
# timestamps normalize to µs TimestampType regardless of source unit —
# ns TRUNCATES (the reference instead had a unit-mismatch bug writing
# UnixNano unconditionally, duckdb.go:882-885; see SURVEY §1.3).
ARROW_TO_SPARK: dict[str, T.DataType] = {
    "bool": T.BooleanType(),
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "uint8": T.ShortType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint64": T.DecimalType(20, 0),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
    "string": T.StringType(),
    "binary": T.BinaryType(),
    "timestamp[s]": T.TimestampType(),
    "timestamp[ms]": T.TimestampType(),
    "timestamp[us]": T.TimestampType(),
    "timestamp[ns]": T.TimestampType(),  # ns -> µs truncation, tested
    "date32": T.DateType(),
    "date64": T.DateType(),
    # time-of-day (reference maps Arrow Time32→DuckDB TIME,
    # duckdb.go:335-336,1001-1002); Spark has no TIME type, so the engine
    # stores a long.  The TYPE mapping alone keeps the source unit
    # (seconds / ms / µs / ns since midnight); ingest paths that want the
    # canonical µs-since-midnight representation must apply
    # ``time_to_us(col, arrow_type)`` — the mapping does not convert values.
    "time32[s]": T.LongType(),
    "time32[ms]": T.LongType(),
    "time64[us]": T.LongType(),
    "time64[ns]": T.LongType(),
}

# Multiplier source-unit -> µs (ns divides).  Used by time_to_us.
_TIME_UNIT_TO_US = {"time32[s]": 1_000_000, "time32[ms]": 1_000, "time64[us]": 1, "time64[ns]": None}


def time_to_us(col, arrow_type_name: str):
    """Normalize an Arrow time-of-day long column to µs-since-midnight.
    ``time32[s]``/``time32[ms]`` scale up exactly; ``time64[ns]`` truncates
    toward zero (same policy as timestamp[ns] -> TimestampType above)."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    name = arrow_type_name.strip()
    if name not in _TIME_UNIT_TO_US:
        raise ValueError(f"not an Arrow time type: {arrow_type_name!r}")
    c = col if isinstance(col, Column) else F.col(col)
    mult = _TIME_UNIT_TO_US[name]
    if mult is None:  # ns -> µs truncation
        return (c.cast("long") / F.lit(1000)).cast("long")
    return (c.cast("long") * F.lit(mult)).cast("long")


def _split_top_level(s: str) -> list[str]:
    """Split on commas at bracket depth 0.  Tracks both ``<>`` (nested type
    params) and ``()`` (parameterized leaves like ``decimal128(10, 2)``) so
    a comma inside either never splits a sibling field — otherwise a whole
    ``struct<a: decimal128(10, 2), b: string>`` would collapse to string
    instead of degrading only the unknown leaf."""
    parts, depth, cur = [], 0, []
    for ch in s:
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur).strip())
    return parts


def arrow_to_spark_type(arrow_type_name: str) -> T.DataType:
    """Reference F4 (type-name lookup, featherstore_client.py:235-272) with
    the unknown-type fallback-to-string of duckdb.go:337-339.  Nested
    Arrow types (list/map/struct) parse recursively — the reference's DDL
    mapping covers their names only (duckdb.go:1005-1008); Spark supports
    all three natively."""
    name = arrow_type_name.strip()
    if name.startswith("list<") and name.endswith(">"):
        return T.ArrayType(arrow_to_spark_type(name[5:-1]))
    if name.startswith("map<") and name.endswith(">"):
        kv = _split_top_level(name[4:-1])
        if len(kv) == 2:
            return T.MapType(arrow_to_spark_type(kv[0]), arrow_to_spark_type(kv[1]))
        return T.StringType()
    if name.startswith("struct<") and name.endswith(">"):
        fields = []
        for part in _split_top_level(name[7:-1]):
            fname, _, ftype = part.partition(":")
            if not ftype:
                return T.StringType()
            fields.append(T.StructField(fname.strip(), arrow_to_spark_type(ftype)))
        return T.StructType(fields)
    return ARROW_TO_SPARK.get(name, T.StringType())


def validate_transcripts(df: DataFrame) -> DataFrame:
    """Fail fast on schema mismatch, mirroring the reference's ingest-time
    checks (parquet.go:897-918: entity/timestamp name+type equality, no
    coercion).  Returns the input (column-ordered) for chaining.
    """
    declared = {f.name: f.dataType for f in TRANSCRIPT_SCHEMA.fields}
    actual = {f.name: f.dataType for f in df.schema.fields}
    missing = [c for c in declared if c not in actual]
    if missing:
        raise SchemaValidationError(f"transcripts missing required columns: {missing}")
    for name, dtype in declared.items():
        if actual[name] != dtype:
            raise SchemaValidationError(
                f"transcripts column {name!r}: expected {dtype.simpleString()}, "
                f"got {actual[name].simpleString()} (no implicit coercion, "
                "matching reference parquet.go:921-925)"
            )
    return df.select(*[f.name for f in TRANSCRIPT_SCHEMA.fields])
