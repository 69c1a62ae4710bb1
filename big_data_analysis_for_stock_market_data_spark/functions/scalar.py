"""String / JSON / datetime helpers as pure Column expressions.

Each helper returns (or attaches) Columns built only from
``pyspark.sql.functions`` — they inline into whole-stage codegen and stay
pushdown-transparent. Semi-structured access uses ``get_json_object``
(JsonPath on a string column): at 100 TB, parsing only the referenced path
beats materializing a full struct for every row when a query touches one
key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def json_str(col: Column | str, path: str) -> Column:
    """Extract a JSON string value at ``path`` (e.g. ``'$.k'``); null on
    missing path or malformed JSON."""
    return F.get_json_object(col, path)


def json_long(col: Column | str, path: str) -> Column:
    return F.get_json_object(col, path).cast("bigint")


def json_double(col: Column | str, path: str) -> Column:
    return F.get_json_object(col, path).cast("double")


def normalize_ws(col: Column | str) -> Column:
    """Trim + collapse internal whitespace runs to single spaces — the
    canonicalization step shared by the text fingerprints and dedup."""
    return F.regexp_replace(F.trim(col), r"\s+", " ")


def tokenize(col: Column | str) -> Column:
    """Lowercased whitespace tokens with empties removed (array<string>)."""
    return F.filter(
        F.split(F.lower(F.trim(col)), r"\s+"), lambda t: t != F.lit("")
    )


def md5_60(col: Column | str) -> Column:
    """The md5-60 value of a string: its md5's first 15 hex digits as a
    long. Spark's xxhash64 has no twin in other SQL engines, but md5 hex
    is the same in all of them, so an external oracle recomputes this
    value exactly; 60 bits, not 64, keep it positive in a signed BIGINT
    on both sides."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def first_word(col: Column | str) -> Column:
    return F.regexp_extract(col, r"^(\S+)", 1)


def with_date_parts(
    df: DataFrame, ts_col: str, prefix: str = ""
) -> DataFrame:
    """Attach the standard calendar decomposition of a timestamp column:
    year, month, day, dayofweek (1=Sunday..7, Spark convention), hour, and
    the day-grain date (the reference's ``date_only``, F1)."""
    c = F.col(ts_col)
    p = prefix
    return (
        df.withColumn(f"{p}year", F.year(c))
        .withColumn(f"{p}month", F.month(c))
        .withColumn(f"{p}day", F.dayofmonth(c))
        .withColumn(f"{p}dayofweek", F.dayofweek(c))
        .withColumn(f"{p}hour", F.hour(c))
        .withColumn(f"{p}date_only", F.to_date(c))
    )
