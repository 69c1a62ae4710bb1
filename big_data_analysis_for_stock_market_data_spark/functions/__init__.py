"""Scalar-function surface (SURVEY.md §2.7).

The reference's scalar vocabulary is tiny — ``to_date``, comparison,
arithmetic (F1-F5), all computed in RDD-map Python. The engine keeps those
as native Column arithmetic (queries ``f_scalar_arithmetic`` etc.) and adds
the string / JSON / datetime / array families (F6) a data-pipeline engine
needs. Everything here is a JVM Column expression — codegen'd, no Python.
"""

from big_data_analysis_for_stock_market_data_spark.functions.scalar import (
    first_word,
    json_double,
    json_long,
    json_str,
    md5_60,
    normalize_ws,
    tokenize,
    with_date_parts,
)

__all__ = [
    "first_word",
    "json_double",
    "json_long",
    "json_str",
    "md5_60",
    "normalize_ws",
    "tokenize",
    "with_date_parts",
]
