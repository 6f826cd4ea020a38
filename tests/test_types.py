"""Type-system parity (SURVEY §1.3): Arrow→Spark mapping, unsigned
widening, and the explicit ns→µs truncation behavior at the ingest
boundary (the reference had a unit-mismatch bug here, duckdb.go:882-885;
we pin the correct truncation semantics instead)."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from featherstore_spark.schema import arrow_to_spark_type


def test_type_vocabulary():
    assert arrow_to_spark_type("int8") == T.ByteType()
    assert arrow_to_spark_type("uint8") == T.ShortType()
    assert arrow_to_spark_type("uint32") == T.LongType()
    assert arrow_to_spark_type("uint64") == T.DecimalType(20, 0)
    assert arrow_to_spark_type("timestamp[ns]") == T.TimestampType()
    assert arrow_to_spark_type("list<float32>") == T.ArrayType(T.FloatType())
    assert arrow_to_spark_type("no_such_type") == T.StringType()  # fallback (duckdb.go:337-339)


def test_ns_timestamps_fail_fast_or_truncate(spark, tmp_path):
    """Spark 4 REJECTS raw ns-parquet (fail-fast beats the reference's
    silent unit-mismatch bug); the supported ingest path coerces ns→µs via
    Arrow, truncating sub-µs digits deterministically."""
    import pytest
    from pyspark.errors.exceptions.captured import AnalysisException

    ns_value = 1_767_225_600_123_456_789  # ...00.123456789
    table = pa.table(
        {
            "conv_id": pa.array(["c"]),
            "ts": pa.array([ns_value], type=pa.timestamp("ns")),
        }
    )
    raw = str(tmp_path / "ns.parquet")
    pq.write_table(table, raw)
    with pytest.raises(AnalysisException, match="NANOS"):
        spark.read.parquet(raw).collect()

    # ingest-boundary normalization: coerce to µs (truncation, not rounding)
    coerced = str(tmp_path / "us.parquet")
    pq.write_table(table, coerced, coerce_timestamps="us", allow_truncated_timestamps=True)
    row = spark.read.parquet(coerced).collect()[0]
    assert row["ts"].microsecond == 123456


def test_unsigned_parquet_widens(spark, tmp_path):
    table = pa.table(
        {
            "u8": pa.array([255], type=pa.uint8()),
            "u32": pa.array([4_000_000_000], type=pa.uint32()),
            "u64": pa.array([2**63 + 10], type=pa.uint64()),
        }
    )
    path = str(tmp_path / "u.parquet")
    pq.write_table(table, path)
    df = spark.read.parquet(path)
    row = df.collect()[0]
    assert row["u8"] == 255
    assert row["u32"] == 4_000_000_000
    assert int(row["u64"]) == 2**63 + 10  # survives via widening


def test_time_types_map_to_micros_long():
    """Arrow time32/time64 -> LongType µs-since-midnight (SURVEY §1.3;
    reference maps Time32 to DuckDB TIME, duckdb.go:335-336,1001-1002 —
    Spark has no TIME type, so the engine stores long micros)."""
    from pyspark.sql import types as T

    from featherstore_spark.schema import arrow_to_spark_type

    for name in ("time32[s]", "time32[ms]", "time64[us]", "time64[ns]"):
        assert arrow_to_spark_type(name) == T.LongType(), name


def test_nested_type_parsing():
    """map<...>/struct<...> parse recursively (reference has DDL name
    mapping only, duckdb.go:1005-1008; Spark supports both natively)."""
    from pyspark.sql import types as T

    from featherstore_spark.schema import arrow_to_spark_type

    assert arrow_to_spark_type("map<string, int64>") == T.MapType(T.StringType(), T.LongType())
    assert arrow_to_spark_type("struct<a: int64, b: string>") == T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
    ])
    assert arrow_to_spark_type("list<struct<x: float64, tags: map<string, string>>>") == T.ArrayType(
        T.StructType([
            T.StructField("x", T.DoubleType()),
            T.StructField("tags", T.MapType(T.StringType(), T.StringType())),
        ])
    )
    # unknown names still fall back to string (duckdb.go:337-339)
    assert arrow_to_spark_type("decimal256(76, 2)") == T.StringType()


def test_split_top_level_tracks_parens():
    """ADVICE r2: a comma inside a parameterized leaf (decimal128(10, 2))
    must not split the sibling list — only the UNKNOWN leaf degrades to
    string, representable siblings keep their real types."""
    from featherstore_spark.schema import arrow_to_spark_type

    got = arrow_to_spark_type("struct<a: decimal128(10, 2), b: string, c: int64>")
    assert got == T.StructType(
        [
            T.StructField("a", T.StringType()),  # unknown leaf degrades alone
            T.StructField("b", T.StringType()),
            T.StructField("c", T.LongType()),
        ]
    )
    assert arrow_to_spark_type("map<string, decimal128(10, 2)>") == T.MapType(
        T.StringType(), T.StringType()
    )


def test_time_to_us_converts_each_source_unit(spark):
    """ADVICE r2: the type mapping alone keeps the source unit; time_to_us
    is the ingest-side conversion to canonical µs-since-midnight
    (ns truncates, same policy as timestamp[ns])."""
    from pyspark.sql import functions as F

    from featherstore_spark.schema import time_to_us

    df = spark.createDataFrame([(7, 7, 7, 7_999)], "s long, ms long, us long, ns long")
    row = df.select(
        time_to_us("s", "time32[s]").alias("s"),
        time_to_us("ms", "time32[ms]").alias("ms"),
        time_to_us("us", "time64[us]").alias("us"),
        time_to_us(F.col("ns"), "time64[ns]").alias("ns"),
    ).first()
    assert (row["s"], row["ms"], row["us"], row["ns"]) == (7_000_000, 7_000, 7, 7)

    import pytest

    with pytest.raises(ValueError, match="not an Arrow time type"):
        time_to_us("s", "int64")
