"""Readers/writers for the engine (SURVEY.md §2.1).

Scale notes
-----------
- ``read_parquet``/``read_csv`` accept any Hadoop-FS URI (local, ``gs://``,
  ``s3a://``, ``hdfs://``) — the reference read from GCS buckets
  (``G_2_rf_nordd.py:24``); nothing here is path-scheme-specific.
- Explicit schemas by default: CSV ``inferSchema`` triggers an extra full
  scan of the input (fatal at 100 TB). ``read_parquet`` takes the schema
  from one footer read on the driver instead of Spark's inference job, and
  with a declared StructType it checks only that no declared column is
  missing; it does not compare types.
- ``write_parquet`` supports ``partition_by`` (enables partition pruning +
  dynamic partition pruning downstream) and ``bucket_by`` (enables
  shuffle-free co-located joins on the bucket key).
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_analysis_for_stock_market_data_spark.schema import TESTDATA_SCHEMAS

TABLE_NAMES: tuple[str, ...] = tuple(TESTDATA_SCHEMAS)


def _nanos_to_timestamp(name: str):
    """Epoch-nanos LongType -> microsecond TimestampType, floor semantics.

    Integer arithmetic throughout (float division loses precision —
    epoch-nanos exceed 2^53). Spark's ``div`` truncates toward zero, which
    would round pre-1970 nanos UP by 1µs versus the floor conversion DuckDB
    and Arrow use (-1ns must become -1µs, not 0µs); subtracting ``pmod``
    first makes the operand an exact multiple of 1000, so ``div`` == floor.
    """
    expr = F.expr(f"(`{name}` - pmod(`{name}`, 1000L)) div 1000L")
    return F.timestamp_micros(expr)


def _is_hidden(name: str) -> bool:
    """Names Spark's file listing skips: ``_``/``.`` prefixed (except
    ``key=value`` directories) and in-flight ``._COPYING_`` copies."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _first_data_file(fs, dir_path):
    """``FileStatus`` of the first visible file under ``dir_path``,
    descending into visible subdirectories (``key=value`` partitions) only
    when the directory itself holds none; ``None`` when there is none."""
    subdirs = []
    it = fs.listStatusIterator(dir_path)
    while it.hasNext():
        st = it.next()
        if _is_hidden(st.getPath().getName()):
            continue
        if st.isFile():
            return st
        subdirs.append(st.getPath())
    for d in subdirs:
        found = _first_data_file(fs, d)
        if found is not None:
            return found
    return None


def _jvm_class(spark: SparkSession, name: str):
    """JVM class by its full name. ``spark._jvm.a.b.C`` resolves every
    package segment with its own gateway round trip (about 2 ms a class);
    this makes none until the class is used."""
    return JavaClass(name, spark._jvm._gateway_client)


def _footer(spark: SparkSession, path: str):
    """Parquet footer (``ParquetMetadata``) and Hadoop ``Path`` of the file
    Spark's non-merging schema inference reads for ``path``: a directory's
    ``_common_metadata``, else its ``_metadata``, else its first data file.
    ``path`` is resolved with the session's Hadoop ``FileSystem``, so globs
    and every scheme Spark reads work. The footer is read the way that
    inference reads it (Spark's ``ParquetFooterReader``, row-group metadata
    skipped). ``None`` when no file is found."""
    Path = _jvm_class(spark, "org.apache.hadoop.fs.Path")
    hconf = spark._jsc.hadoopConfiguration()
    hpath = Path(path)
    fs = hpath.getFileSystem(hconf)
    found = None
    for st in fs.globStatus(hpath) or []:
        if st.isFile():
            found = st
            break
        for summary in ("_common_metadata", "_metadata"):
            candidate = Path(st.getPath(), summary)
            if fs.exists(candidate):
                found = fs.getFileStatus(candidate)
                break
        else:
            found = _first_data_file(fs, st.getPath())
        if found is not None:
            break
    if found is None:
        return None
    reader = _jvm_class(
        spark, "org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader"
    )
    skip = _jvm_class(
        spark, "org.apache.parquet.format.converter.ParquetMetadataConverter"
    ).SKIP_ROW_GROUPS
    input_file = _jvm_class(spark, "org.apache.parquet.hadoop.util.HadoopInputFile")
    meta = reader.readFooter(input_file.fromStatus(found, hconf), skip)
    return meta, found.getPath()


def _nano_columns(meta, names) -> set[str]:
    """Those of ``names`` that the footer ``meta`` stores as INT64
    TIMESTAMP(NANOS). Read from the physical parquet schema: legacy INT96
    timestamps, which Spark reads natively as TimestampType, never match."""
    msg = meta.getFileMetaData().getSchema()
    nanos = set()
    for name in names:
        if not msg.containsField(name):
            continue
        logical = msg.getType(name).getLogicalTypeAnnotation()
        if logical is not None and logical.toString().startswith(
            "TIMESTAMP(NANOS"
        ):
            nanos.add(name)
    return nanos


def read_parquet(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Parquet scan that submits no Spark job. ``columns`` prunes the read
    schema at the scan (check ``ReadSchema`` in ``.explain("formatted")``).

    The schema is the one Spark's own inference would return, taken from
    one footer read on the driver (``_footer``, converted by Spark's
    ``ParquetFileFormat.readSchemaFromFooter``) and handed to the reader,
    so Spark skips its schema-inference job. Partition columns of a
    ``key=value`` directory are still discovered and appended by Spark. A
    path with no data file goes to ``spark.read.parquet`` as is, which
    raises Spark's own error. A declared ``schema`` is checked only for
    missing columns; column types are not compared.

    Self-sufficient on vanilla SparkSessions (e.g. a driver harness):

    - Parquet TIMESTAMP(NANOS): Spark rejects the physical type INT64
      (TIMESTAMP(NANOS)) unless ``spark.sql.legacy.parquet.nanosAsLong`` is
      set, so the reader sets the runtime SQL conf itself instead of relying
      on session.py defaults. The column then arrives as LongType
      epoch-nanos and, told apart from plain longs by the same footer
      (``_nano_columns``), is normalized to microsecond TimestampType — so
      a raw epoch-nanos long can never flow downstream silently.
    - Session timezone: engine semantics are UTC (matching the reference
      data and the DuckDB oracle); date-deriving expressions
      (``to_date(ts)``, day grouping) must not depend on the host JVM's
      zone. Pinned here for the same vanilla-session reason.

    Both confs are deliberate session-wide mutations; they match
    ``session.py`` ``ENGINE_DEFAULTS`` so engine-built sessions see no
    change at all.
    """
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if spark.conf.get("spark.sql.session.timeZone") != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    ntz_conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    if spark.conf.get(ntz_conf, "true") != "false":
        spark.conf.set(ntz_conf, "false")
    found = _footer(spark, path)
    if found is None:
        # Spark raises its own error (path not found, schema not inferable)
        spark.read.parquet(path)
        raise FileNotFoundError(f"{path}: no parquet data file")
    meta, file_path = found
    parquet = "org.apache.spark.sql.execution.datasources.parquet."
    jschema = _jvm_class(spark, parquet + "ParquetFileFormat").readSchemaFromFooter(
        _jvm_class(spark, "org.apache.parquet.hadoop.Footer")(file_path, meta),
        _jvm_class(spark, parquet + "ParquetToSparkSchemaConverter")(
            spark._jsparkSession.sessionState().conf()
        ),
    )
    df = spark.read.schema(
        T.StructType.fromJson(json.loads(jschema.json()))
    ).parquet(path)
    # A Spark-written footer carries Spark's own schema, so a column written
    # as TimestampNTZ stays NTZ despite the conf; collapse it to the
    # engine's single timestamp type. Session tz is UTC, so the cast
    # reinterprets the same wall-clock instant — no value shift.
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast(T.TimestampType()))
    actual = {f.name: f.dataType for f in df.schema.fields}
    if schema is not None:
        missing = {f.name for f in schema.fields} - set(actual)
        if missing:
            raise ValueError(f"{path}: missing declared columns {sorted(missing)}")
    longs = [n for n, t in actual.items() if isinstance(t, T.LongType)]
    for name in sorted(_nano_columns(meta, longs)):
        df = df.withColumn(name, _nanos_to_timestamp(name))
    if columns:
        df = df.select(*columns)
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    header: bool = True,
    sep: str = ",",
    infer_schema: bool = False,
) -> DataFrame:
    """CSV ingest (reference S1: ``spark.read.csv(path, header=True,
    inferSchema=True)`` at ``G_2_rf_nordd.py:24``). Engine default is an
    explicit schema — pass ``infer_schema=True`` only for exploration; it
    costs a second full pass over the input."""
    reader = spark.read.option("header", str(header).lower()).option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", "true")
    else:
        raise ValueError("read_csv requires a schema unless infer_schema=True")
    return reader.csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    bucket_by: tuple[int, Sequence[str]] | None = None,
    table_name: str | None = None,
) -> None:
    """Parquet sink (replaces reference pickle sink S3,
    ``G_2_data_exploration.ipynb cell 45``).

    ``partition_by``: hive-style directory partitioning — readers prune
    partitions for free. ``bucket_by=(n, cols)`` requires ``table_name``
    (bucketing is a metastore concept) and makes equi-joins on the bucket
    columns shuffle-free.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if bucket_by:
        if not table_name:
            raise ValueError("bucket_by requires table_name (saveAsTable)")
        n, cols = bucket_by
        writer.bucketBy(n, *cols).sortBy(*cols).option("path", path).saveAsTable(
            table_name
        )
        return
    writer.parquet(path)


def compact_write(
    df: DataFrame,
    path: str,
    target_file_mb: int = 128,
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
    probe_rows: int = 1_000,
) -> int:
    """Write parquet with output files sized near ``target_file_mb`` — the
    small-files guard for pipeline sinks (10k tiny files make the NEXT
    job's scan planning and open() overhead the bottleneck; one giant file
    serializes downstream parallelism).

    The bytes/row estimate comes from an actual compressed parquet probe
    (``probe_rows`` rows written to a temp dir and stat'ed) — schema-based
    guesses miss encoding/compression by 5-50x. Cost: one bounded probe
    write + one count + one full write; returns the partition count used.

    With ``partition_by`` the file count applies per directory partition
    on average — size skew across partition values is the caller's salt to
    add (see operators/skew.py).
    """
    import shutil
    import tempfile

    n_rows = df.count()
    if n_rows == 0:
        write_parquet(df, path, mode=mode, partition_by=partition_by)
        return 1
    probe_dir = tempfile.mkdtemp(prefix="engine_compact_probe_")
    try:
        df.limit(probe_rows).coalesce(1).write.mode("overwrite").parquet(
            probe_dir
        )
        probe_bytes = sum(
            os.path.getsize(os.path.join(probe_dir, f))
            for f in os.listdir(probe_dir)
            if f.endswith(".parquet")
        )
    finally:
        shutil.rmtree(probe_dir, ignore_errors=True)
    sampled = min(n_rows, probe_rows)
    est_total = probe_bytes * (n_rows / max(sampled, 1))
    n_parts = max(1, round(est_total / (target_file_mb * 1024 * 1024)))
    write_parquet(
        df.repartition(n_parts), path, mode=mode, partition_by=partition_by
    )
    return n_parts


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: Sequence[str] | None = None,
) -> dict[str, DataFrame]:
    """Load the driver test tables from ``sf_dir`` (TESTDATA.md)."""
    out: dict[str, DataFrame] = {}
    for name in names or TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        out[name] = read_parquet(spark, path, schema=TESTDATA_SCHEMAS.get(name))
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view (the reference's
    ``createOrReplaceTempView('stock_data')`` idiom, ``G_2_rf_nordd.py:32``)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def to_pandas_sample(df: DataFrame, max_rows: int = 100_000):
    """Bounded driver export (reference S6 ``df.toPandas()`` collected the
    whole table, ``G_2_data_exploration.ipynb cell 12``). The engine caps the
    export so a 100 TB table can never be pulled to the driver."""
    return df.limit(max_rows).toPandas()


def zorder_value(cols: Sequence, bits_per_col: int = 10):
    """Z-value (Morton code) column: each input bucket id contributes its
    bits interleaved, so rows close in EVERY dimension get close z-values.
    Inputs must already be integer bucket ids in [0, 2^bits_per_col)."""
    z = F.lit(0).cast("long")
    k = len(cols)
    for i, c in enumerate(cols):
        cl = F.col(c) if isinstance(c, str) else c
        cl = cl.cast("long")
        for j in range(bits_per_col):
            bit = F.shiftright(cl, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * k + i))
    return z


def zorder_write(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 8,
    bits_per_col: int = 10,
    mode: str = "overwrite",
) -> None:
    """Z-order clustered parquet write: bucket each clustering column by
    range (boundaries from a 2^bits quantile sketch — driver sees only the
    boundary list, control-plane), interleave the bucket bits into a
    Morton z-value, range-partition + sort the output by it.

    Why: parquet scans skip files/row-groups whose min-max stats exclude
    the predicate. A sort by one column gives perfect skipping on that
    column and none on others; z-order gives GOOD skipping on every
    clustering column simultaneously — at 100 TB, a selective filter on
    any clustered dimension reads a small fraction of files instead of all
    of them. One quantile probe + one range-shuffle + local sorts."""
    qcols = list(cols)
    n_buckets = 1 << bits_per_col
    probes = [float(i) / n_buckets for i in range(1, n_buckets)]
    bucketed = df
    bucket_names = []
    for c in qcols:
        bounds = df.approxQuantile(c, probes, 0.001)
        # strictly increasing boundary list (duplicates collapse buckets)
        uniq = sorted(set(bounds))
        arr = F.array(*[F.lit(b).cast("double") for b in uniq])
        # bucket id = count of boundaries <= value (0..len(uniq))
        bid = F.aggregate(
            arr,
            F.lit(0),
            lambda acc, b: acc + (F.col(c).cast("double") >= b).cast("int"),
        )
        # rescale to the FULL bit width: a low-cardinality column (few
        # distinct boundaries) must still occupy high interleave bits, or
        # the wider column's bits dominate the z-value and the narrow
        # column gets no clustering at all
        scaled = F.floor(bid * (n_buckets - 1) / F.lit(len(uniq))).cast("long")
        name = f"__zb_{c}"
        bucketed = bucketed.withColumn(name, scaled)
        bucket_names.append(name)
    z = zorder_value(bucket_names, bits_per_col)
    out = (
        bucketed.withColumn("__z", z)
        .repartitionByRange(n_files, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z", *bucket_names)
    )
    out.write.mode(mode).parquet(path)


def observed_write(
    df: DataFrame,
    path: str,
    metrics: "dict[str, object]",
    mode: str = "overwrite",
    partition_by: Sequence[str] | None = None,
) -> dict:
    """Write parquet while collecting audit metrics IN THE SAME PASS
    (``df.observe`` + ``Observation``): row counts, null counts, value
    sums arrive as a side effect of the write — no second scan. At 100 TB
    the difference between "write, then re-scan to audit" and this is a
    full extra pass over the table; Spark's observation metrics piggyback
    on the tasks the write already runs.

    ``metrics`` maps name -> aggregate Column (e.g. ``F.count(F.lit(1))``,
    ``F.sum(...)``). Returns the observed values as a dict. Metrics are
    exactly-once per action — retried/speculative tasks do not
    double-count (Spark's AccumulatorV2 guarantee for observations)."""
    from pyspark.sql import Observation

    obs = Observation("write_audit")
    audited = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    w = audited.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return obs.get


def write_binary_files(
    df: DataFrame,
    out_dir: str,
    id_col: str = "asset_id",
    payload_col: str = "payload",
    suffix: str = ".bin",
) -> None:
    """One file per row, written FROM THE EXECUTORS (foreachPartition) —
    the standard one-object-per-asset layout multimodal corpora ship as,
    and the shape ``spark.read.format("binaryFile")`` expects back. Each
    task writes only its own partition's blobs; nothing visits the
    driver. In the sandbox ``out_dir`` is a local path shared by the
    single JVM; on a cluster it is an object-store/DFS URI (same code —
    open() becomes the FS client of the deployment)."""
    os.makedirs(out_dir, exist_ok=True)

    def write_part(rows) -> None:
        for r in rows:
            p = os.path.join(out_dir, f"{r[id_col]}{suffix}")
            with open(p, "wb") as f:
                f.write(bytes(r[payload_col]))

    df.select(id_col, payload_col).foreachPartition(write_part)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str = "*.bin",
) -> DataFrame:
    """Spark's ``binaryFile`` source: (path, modificationTime, length,
    content) per file, with directory parallelism and pathGlobFilter
    pushdown — the scan side of the multimodal blob pipeline."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
