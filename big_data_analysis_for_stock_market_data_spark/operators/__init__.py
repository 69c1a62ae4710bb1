"""Engine operators (SURVEY.md §2 inventory + north-star extensions).

- ``windows``    : lead/lag label construction, rolling frames (W1-W4)
- ``aggregates`` : grouped aggregates, quality scans, moments (A1-A7)
- ``joins``      : equi-joins and the join-or-fuse builder (J1-J3, Q4)
- ``indicators`` : native technical-indicator computation (SMA/EMA/RSI/...)
- ``dedup``      : exact + near-duplicate detection (MinHash, SimHash, ...)
- ``simsearch``  : cosine similarity / ANN over embedding columns
- ``text``       : language-ID, quality scoring, token counts, fingerprints
- ``multimodal`` : opaque-binary media columns with Pandas-UDF stages
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

_SIZE_SUFFIX = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}


def _parse_bytes(value: str) -> int:
    """Parse a Spark byte-size conf string ('134217728b', '128m', '1g')."""
    s = str(value).strip().lower()
    for suffix in ("kb", "mb", "gb", "tb"):  # long forms first
        if s.endswith(suffix):
            return int(float(s[: -len(suffix)]) * _SIZE_SUFFIX[suffix[0]])
    if s and s[-1] in _SIZE_SUFFIX:
        return int(float(s[:-1]) * _SIZE_SUFFIX[s[-1]])
    return int(s)


def _file_length(sess, uri: str) -> int:
    """Driver-side file-size lookup through the session's Hadoop FS.

    A metadata call against the filesystem (no Spark job, no RDD); works for
    any scheme the session can read (file://, hdfs://, s3a://, gs://)."""
    from big_data_analysis_for_stock_market_data_spark.sources.io import (
        _jvm_class,
    )

    path = _jvm_class(sess, "org.apache.hadoop.fs.Path")(
        _jvm_class(sess, "java.net.URI")(uri)
    )
    fs = path.getFileSystem(sess._jsc.hadoopConfiguration())
    return int(fs.getFileStatus(path).getLen())


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Widen compute-dense pipelines to the session's parallelism.

    Per-row hashing, shingling, and vector math are CPU-bound, not IO-bound:
    a small input arriving as one or two file splits would serialize the
    whole pipeline on one core (observed 32x slowdown on a single-file
    corpus). Round-robin repartitioning the small input costs a negligible
    shuffle and buys full compute width. No-op when the scan already yields
    enough partitions — the 100 TB case, where adding a shuffle would be
    the bug instead.

    Partition-count estimation is pure driver-side metadata: count the
    scan's input files and, only when there are fewer files than the
    target, stat them to account for maxPartitionBytes splitting of large
    files. Never converts the plan to an RDD (``df.rdd`` triggers a full
    plan->RDD translation per call) and never launches a job."""
    sess = df.sparkSession
    target = int(
        min_partitions or sess.conf.get("spark.sql.shuffle.partitions")
    )
    files = df.inputFiles()
    if not files:
        # Derived/in-memory frame: partitioning comes from the upstream
        # shuffle (shuffle.partitions) or parallelize slices — already wide.
        return df
    if len(files) >= target:
        # Each file yields at least one scan partition.
        return df
    try:
        max_split = _parse_bytes(
            sess.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
        )
        estimated = sum(
            max(1, math.ceil(_file_length(sess, f) / max_split)) for f in files
        )
    except Exception:
        # Metadata unavailable (exotic FS): few files -> assume narrow scan.
        estimated = len(files)
    if estimated < target:
        return df.repartition(target)
    return df
