"""Structured Streaming tests: batch/stream parity for windowed aggregates,
session windows, dedup, and the stateful streaming EMA (state carried across
micro-batches)."""

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from big_data_analysis_for_stock_market_data_spark import streaming as st

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write_batch(dir_path: str, name: str, pdf: pd.DataFrame, mtime: float):
    # pyarrow writes timestamp[ns] — same physical type as the driver
    # testdata, exercising the nanos->micros normalization path
    path = os.path.join(dir_path, name)
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    os.utime(path, (mtime, mtime))


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    rng = np.random.default_rng(42)
    d = tmp_path_factory.mktemp("stream_events")
    base = pd.Timestamp("2024-01-01")
    frames = []
    for batch in range(2):
        n = 300
        pdf = pd.DataFrame(
            {
                "user_id": rng.integers(0, 5, n),
                "ts": base
                + pd.to_timedelta(
                    batch * 3 * 86_400 + rng.integers(0, 3 * 86_400, n), unit="s"
                ),
                "value": rng.normal(100.0, 5.0, n),
            }
        )
        frames.append(pdf)
        _write_batch(str(d), f"batch_{batch}.parquet", pdf, time.time() - 100 + batch)
    return str(d), pd.concat(frames, ignore_index=True)


def _static_df(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(pdf, schema=EVENTS_SCHEMA)


def test_windowed_agg_stream_equals_batch(spark, stream_dir):
    path, pdf = stream_dir
    stream = st.read_stream_parquet(spark, path, EVENTS_SCHEMA)
    agg = st.windowed_agg(
        stream, "ts", "1 day",
        {"n": ("count", "value"), "mx": ("max", "value")},
        group_by=["user_id"],
    )
    _, sink = st.run_to_memory(agg, output_mode="complete")
    got = {
        (r.user_id, r.window_start, r.window_end): (r.n, r.mx)
        for r in spark.table(sink).collect()
    }
    want = {
        (r.user_id, r.window_start, r.window_end): (r.n, r.mx)
        for r in _static_df(spark, pdf)
        .groupBy("user_id", F.window("ts", "1 day").alias("w"))
        .agg(F.count("value").alias("n"), F.max("value").alias("mx"))
        .select("user_id", F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"), "n", "mx")
        .collect()
    }
    assert got == want


def test_session_agg_stream_equals_batch(spark, stream_dir):
    path, pdf = stream_dir
    stream = st.read_stream_parquet(spark, path, EVENTS_SCHEMA)
    agg = st.session_agg(
        stream, "ts", "30 minutes", {"n": ("count", "value")},
        group_by=["user_id"],
    )
    _, sink = st.run_to_memory(agg, output_mode="complete")
    got = {
        (r.user_id, r.session_start, r.session_end): r.n
        for r in spark.table(sink).collect()
    }
    want = {
        (r.user_id, r.session_start, r.session_end): r.n
        for r in _static_df(spark, pdf)
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count("value").alias("n"))
        .select("user_id", F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n")
        .collect()
    }
    assert got == want


def test_stream_dedup_matches_distinct(spark, stream_dir):
    path, pdf = stream_dir
    stream = st.read_stream_parquet(spark, path, EVENTS_SCHEMA)
    dd = st.stream_dedup(
        stream, keys=["user_id"], ts_col="ts", watermark="30 days"
    ).select("user_id")
    _, sink = st.run_to_memory(dd, output_mode="append")
    got = {r.user_id for r in spark.table(sink).collect()}
    assert got == set(pdf["user_id"].unique())


def test_streaming_ema_state_carries_across_batches(spark, stream_dir):
    path, pdf = stream_dir
    stream = st.read_stream_parquet(spark, path, EVENTS_SCHEMA)
    ema = st.streaming_ema(stream, "user_id", "ts", "value", span=10)
    _, sink = st.run_to_memory(ema, output_mode="append")
    got = (
        spark.table(sink)
        .orderBy("key", "ts")
        .toPandas()
        .set_index(["key", "ts"])["ema"]
    )
    # batch truth: pandas ewm(adjust=False) over each user's full series
    want = (
        pdf.sort_values(["user_id", "ts"], kind="mergesort")
        .set_index(["user_id", "ts"])
        .groupby(level=0)["value"]
        .apply(lambda s: s.droplevel(0).ewm(span=10, adjust=False).mean())
    )
    assert len(got) == len(want)
    np.testing.assert_allclose(
        got.sort_index().to_numpy(), want.sort_index().to_numpy(), rtol=1e-12
    )


def test_streaming_ema_multibatch_resumes(spark, stream_dir):
    path, pdf = stream_dir
    stream = (
        spark.readStream.schema(
            T.StructType(
                [
                    T.StructField("user_id", T.LongType()),
                    T.StructField("ts", T.LongType()),  # nanos-as-long
                    T.StructField("value", T.DoubleType()),
                ]
            )
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    ema = st.streaming_ema(stream, "user_id", "ts", "value", span=10)
    _, sink = st.run_to_memory(ema, output_mode="append")
    got = spark.table(sink).orderBy("key", "ts").toPandas()
    # batches are time-disjoint (batch 1 is 3 days after batch 0), so the
    # full-replay EMA must equal the batch EMA — proving state resumed
    want = (
        pdf.sort_values(["user_id", "ts"], kind="mergesort")
        .groupby("user_id")["value"]
        .transform(lambda s: s.ewm(span=10, adjust=False).mean())
    )
    want_df = pdf.assign(ema=want).sort_values(["user_id", "ts"], kind="mergesort")
    np.testing.assert_allclose(
        got["ema"].to_numpy(), want_df["ema"].to_numpy(), rtol=1e-12
    )


def test_dedup_without_watermark_requires_no_ts(spark, stream_dir):
    path, _ = stream_dir
    stream = st.read_stream_parquet(spark, path, EVENTS_SCHEMA)
    with pytest.raises(ValueError, match="ts_col"):
        st.stream_dedup(stream, keys=["user_id"], watermark="1 day")


def test_watermark_drops_late_rows_in_append(spark, tmp_path):
    """Late-data contract: a row arriving after the watermark passed its
    window is DROPPED from an append-mode windowed aggregate — bounded
    state has a price and this pins it."""
    d = str(tmp_path)
    day = pd.Timestamp("2024-02-01 12:00:00")
    batch0 = pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "ts": [day, day + pd.Timedelta(minutes=5), day + pd.Timedelta(days=3)],
            "value": [1.0, 2.0, 3.0],
        }
    )
    # advances the watermark past the first window's end; the first window
    # is emitted and its state evicted at the end of THIS batch
    batch1 = pd.DataFrame(
        {"user_id": [1], "ts": [day + pd.Timedelta(days=5)], "value": [4.0]}
    )
    # late arrival for the already-emitted first window + a fresh row
    batch2 = pd.DataFrame(
        {
            "user_id": [1, 1],
            "ts": [day + pd.Timedelta(minutes=10), day + pd.Timedelta(days=7)],
            "value": [100.0, 5.0],
        }
    )
    _write_batch(d, "b0.parquet", batch0, time.time() - 50)
    _write_batch(d, "b1.parquet", batch1, time.time() - 30)
    _write_batch(d, "b2.parquet", batch2, time.time() - 10)

    stream = (
        spark.readStream.schema(
            T.StructType(
                [
                    T.StructField("user_id", T.LongType()),
                    T.StructField("ts", T.LongType()),  # nanos-as-long
                    T.StructField("value", T.DoubleType()),
                ]
            )
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    agg = st.windowed_agg(
        stream, "ts", "1 day", {"n": ("count", "value")},
        watermark="1 day", group_by=["user_id"],
    )
    _, sink = st.run_to_memory(agg, output_mode="append")
    rows = {
        str(r.window_start.date()): r.n for r in spark.table(sink).collect()
    }
    # Feb 1 window was emitted+evicted once batch 1 pushed the watermark
    # past its end; batch 2's late value=100 row must NOT appear (append
    # emits each window exactly once, late rows past the watermark drop)
    assert rows.get("2024-02-01") == 2


def test_stream_stream_interval_join_matches_batch(spark, stream_dir):
    path, pdf = stream_dir
    mk = lambda: st.read_stream_parquet(spark, path, EVENTS_SCHEMA)
    left = mk().filter(F.col("value") > 100).select(
        "user_id", F.col("ts").alias("l_ts"), F.col("value").alias("l_v")
    )
    right = mk().filter(F.col("value") <= 100).select(
        "user_id", F.col("ts").alias("r_ts"), F.col("value").alias("r_v")
    )
    joined = st.stream_stream_interval_join(
        left, right, on=["user_id"], left_ts="l_ts", right_ts="r_ts",
        within="1 hour", watermark="30 days",
    )
    _, sink = st.run_to_memory(joined, output_mode="append")
    got = {
        (r.user_id, r.l_ts, r.r_ts) for r in spark.table(sink).collect()
    }
    sdf = _static_df(spark, pdf)
    l = sdf.filter(F.col("value") > 100).select(
        "user_id", F.col("ts").alias("l_ts")
    )
    r = sdf.filter(F.col("value") <= 100).select(
        F.col("user_id").alias("r_uid"), F.col("ts").alias("r_ts")
    )
    want = {
        (row.user_id, row.l_ts, row.r_ts)
        for row in l.join(
            r,
            (l.user_id == r.r_uid)
            & (r.r_ts >= l.l_ts)
            & (r.r_ts <= l.l_ts + F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got == want and len(want) > 0


def test_stream_reads_micros_parquet_timestamps_intact(spark, tmp_path):
    """Regression (round-3 driver red): the driver testdata stores ts as
    timestamp[us]; the stream reader must NOT apply the nanos->micros
    division to micros-backed columns (doing so collapsed 2024 epochs into
    January 1970). Footer-sniffed unit handling must make a micros-backed
    replay equal the batch read, with 2024 timestamps surviving."""
    pdf = pd.DataFrame(
        {
            "user_id": [1, 1, 2],
            "ts": pd.to_datetime(
                ["2024-01-20 00:00:00", "2024-01-20 12:00:00",
                 "2024-03-01 06:30:00"]
            ),
            "value": [1.0, 2.0, 3.0],
        }
    )
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    tbl = tbl.set_column(
        tbl.schema.get_field_index("ts"),
        "ts",
        tbl["ts"].cast(pa.timestamp("us")),
    )
    path = os.path.join(str(tmp_path), "events_us.parquet")
    pq.write_table(tbl, path)
    stream = st.read_stream_parquet(spark, path, EVENTS_SCHEMA)
    _, sink = st.run_to_memory(stream, output_mode="append")
    got = sorted(
        (r.user_id, r.ts, r.value) for r in spark.table(sink).collect()
    )
    want = sorted(
        (r.user_id, r.ts, r.value)
        for r in _static_df(spark, pdf).collect()
    )
    assert got == want
    assert all(t.year == 2024 for _, t, _ in got)


def test_run_to_parquet_exactly_once_across_restarts(spark, tmp_path):
    """Durable sink: re-running the drained query against the same
    checkpoint writes nothing twice; NEW source files resume from the
    recorded offsets and append exactly their rows."""
    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pdf1 = pd.DataFrame(
        {"user_id": [1, 2], "ts": pd.to_datetime(["2024-01-01", "2024-01-02"]),
         "value": [1.0, 2.0]}
    )
    _write_batch(str(src), "b1.parquet", pdf1, time.time() - 50)

    def drain():
        stream = st.read_stream_parquet(spark, str(src), EVENTS_SCHEMA)
        st.run_to_parquet(stream, out, ckpt)

    drain()
    assert spark.read.parquet(out).count() == 2
    drain()  # restart with no new data: exactly-once, still 2
    assert spark.read.parquet(out).count() == 2

    pdf2 = pd.DataFrame(
        {"user_id": [3], "ts": pd.to_datetime(["2024-01-03"]),
         "value": [3.0]}
    )
    _write_batch(str(src), "b2.parquet", pdf2, time.time() - 10)
    drain()  # resumes from offsets: only the new row lands
    got = spark.read.parquet(out)
    assert got.count() == 3
    assert {r.user_id for r in got.collect()} == {1, 2, 3}


def test_upsert_sink_converges_and_is_idempotent(spark, tmp_path):
    """SCD-1 upsert sink: incremental drains over growing source must equal
    the batch latest-per-key resolution; a re-drain with no new data
    changes nothing."""
    src = tmp_path / "usrc"
    src.mkdir()
    target = str(tmp_path / "utarget")
    ckpt = str(tmp_path / "uckpt")
    pdf1 = pd.DataFrame({
        "user_id": [1, 1, 2],
        "ts": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-01"]),
        "value": [10.0, 11.0, 20.0],
    })
    _write_batch(str(src), "b1.parquet", pdf1, time.time() - 50)

    def drain():
        stream = st.read_stream_parquet(spark, str(src), EVENTS_SCHEMA)
        st.run_upsert_to_parquet(
            stream, target, ckpt,
            keys=["user_id"], order=["ts"], payload=["ts", "value"],
        )

    drain()
    got = {r.user_id: (r.ts, r.value)
           for r in spark.read.parquet(target).collect()}
    assert got == {
        1: (pd.Timestamp("2024-01-02"), 11.0),
        2: (pd.Timestamp("2024-01-01"), 20.0),
    }

    drain()  # no new data: target unchanged
    assert {r.user_id: (r.ts, r.value)
            for r in spark.read.parquet(target).collect()} == got

    # key 1 gets a NEWER version, key 2 an OLDER (late) one, key 3 is new
    pdf2 = pd.DataFrame({
        "user_id": [1, 2, 3],
        "ts": pd.to_datetime(["2024-01-05", "2023-12-25", "2024-01-03"]),
        "value": [12.0, 19.0, 30.0],
    })
    _write_batch(str(src), "b2.parquet", pdf2, time.time() - 10)
    drain()
    got2 = {r.user_id: (r.ts, r.value)
            for r in spark.read.parquet(target).collect()}
    assert got2 == {
        1: (pd.Timestamp("2024-01-05"), 12.0),  # upserted
        2: (pd.Timestamp("2024-01-01"), 20.0),  # late row loses
        3: (pd.Timestamp("2024-01-03"), 30.0),  # inserted
    }


class _FlakyRenameFS:
    """In-memory stand-in for Hadoop's FileSystem: paths map to table
    contents, and the ``fail_on``-th rename returns false, as Hadoop's
    ``rename`` does when it fails."""

    def __init__(self, tables: dict, fail_on: int):
        self.tables = dict(tables)
        self.renames = 0
        self.fail_on = fail_on

    def exists(self, p):
        return p in self.tables

    def rename(self, src, dst):
        self.renames += 1
        if self.renames == self.fail_on or src not in self.tables:
            return False
        self.tables[dst] = self.tables.pop(src)
        return True

    def delete(self, p, recursive):
        return self.tables.pop(p, None) is not None


def test_upsert_swap_keeps_old_table_when_rename_fails():
    """The upsert sink's swap renames the old table aside before renaming
    the stage in. If the second rename fails, the swap raises, the old
    table survives aside, and the next batch restores it before merging."""
    from big_data_analysis_for_stock_market_data_spark.streaming import ops

    fs = _FlakyRenameFS({"t": "old", "t__stage_1": "new"}, fail_on=2)
    with pytest.raises(OSError, match="rename"):
        ops._swap_into_place(fs, "t__stage_1", "t", "t__aside")
    assert fs.tables == {"t__aside": "old", "t__stage_1": "new"}

    # next batch: recovery first, then a swap that succeeds
    ops._recover_target(fs, "t", "t__aside")
    assert fs.tables == {"t": "old", "t__stage_1": "new"}
    fs.tables["t__stage_2"] = "newer"
    ops._swap_into_place(fs, "t__stage_2", "t", "t__aside")
    assert fs.tables == {"t": "newer", "t__stage_1": "new"}

    # a crash after the stage went in leaves a stale aside copy: dropped
    fs.tables["t__aside"] = "newer-but-replaced"
    ops._recover_target(fs, "t", "t__aside")
    assert fs.tables == {"t": "newer", "t__stage_1": "new"}


def test_running_totals_state_resumes_across_batches(spark, stream_dir):
    """Running totals must carry (n, sum, max) state across micro-batches:
    the two-file source replays as two batches, and the final per-key
    totals equal the batch computation over everything."""
    d, pdf = stream_dir
    stream = st.read_stream_parquet(spark, d, EVENTS_SCHEMA)
    rt = st.streaming_running_totals(stream, "user_id", "ts", "value")
    _, sink = st.run_to_memory(rt, output_mode="append")
    got = spark.table(sink).toPandas()
    assert len(got) == len(pdf)
    import numpy as np
    for uid, grp in pdf.sort_values("ts").groupby("user_id"):
        sub = got[got.key == uid].sort_values("ts")
        assert sub.n_so_far.tolist() == list(range(1, len(grp) + 1))
        vals = grp.value.to_numpy()
        micros = vals * 1e6
        want_sum = np.cumsum(
            (np.floor(np.abs(micros) + 0.5) * np.sign(micros)).astype("int64")
        )
        assert sub.sum_micros.tolist() == want_sum.tolist()
        assert sub.max_so_far.tolist() == np.maximum.accumulate(vals).tolist()


def test_running_totals_chunk_order_race(spark, stream_dir):
    """Regression for the r04 driver FAIL: Arrow may split one key's
    micro-batch into several chunks delivered in arbitrary order. Force
    maximal splitting (1 record per Arrow batch) and require the fold to
    still equal the batch running window — i.e. the operator must concat
    + sort a key's whole micro-batch before folding, not fold
    chunk-by-chunk in arrival order."""
    d, pdf = stream_dir
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        stream = st.read_stream_parquet(spark, d, EVENTS_SCHEMA)
        rt = st.streaming_running_totals(
            stream, "user_id", "ts", "value", api="apply_in_pandas"
        )
        _, sink = st.run_to_memory(rt, output_mode="append")
        got = spark.table(sink).toPandas()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(got) == len(pdf)
    for uid, grp in pdf.sort_values("ts").groupby("user_id"):
        sub = got[got.key == uid].sort_values("ts")
        assert sub.n_so_far.tolist() == list(range(1, len(grp) + 1))
        vals = grp.value.to_numpy()
        micros = vals * 1e6
        want_sum = np.cumsum(
            (np.floor(np.abs(micros) + 0.5) * np.sign(micros)).astype("int64")
        )
        assert sub.sum_micros.tolist() == want_sum.tolist()
        assert sub.max_so_far.tolist() == np.maximum.accumulate(vals).tolist()


def test_stream_static_join_matches_batch(spark, stream_dir):
    """Stream-static enrichment: replay of the joined stream equals the
    batch join; left rows with no dim match drop (inner) and the stream's
    row count is preserved when every key matches."""
    d, pdf = stream_dir
    stream = st.read_stream_parquet(spark, d, EVENTS_SCHEMA)
    dim = spark.createDataFrame(
        [(int(u), f"seg_{u % 2}") for u in range(4)], "user_id long, seg string"
    )  # user_id 4 intentionally absent from the dim
    joined = st.stream_static_join(stream, dim, on=["user_id"]).select(
        "user_id", "ts", "value", "seg"
    )
    _, sink = st.run_to_memory(joined, output_mode="append")
    got = spark.table(sink).toPandas()

    batch = _static_df(spark, pdf).join(
        F.broadcast(dim), on=["user_id"], how="inner"
    ).select("user_id", "ts", "value", "seg").toPandas()

    key = ["user_id", "ts", "value", "seg"]
    got_s = got.sort_values(key).reset_index(drop=True)
    batch_s = batch.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got_s, batch_s)
    assert (got["user_id"] != 4).all() and len(got) < len(pdf)


def test_interval_join_rejects_unsupported_how(spark, stream_dir):
    d, _ = stream_dir
    s1 = st.read_stream_parquet(spark, d, EVENTS_SCHEMA).select(
        "user_id", F.col("ts").alias("l_ts")
    )
    s2 = st.read_stream_parquet(spark, d, EVENTS_SCHEMA).select(
        "user_id", F.col("ts").alias("r_ts")
    )
    # full_outer became supported (stream_interval_full_join entry);
    # genuinely unsupported types must still be rejected eagerly
    with pytest.raises(ValueError, match="inner/left_outer"):
        st.stream_stream_interval_join(
            s1, s2, on=["user_id"], left_ts="l_ts", right_ts="r_ts",
            how="right_outer",
        )


def test_chained_rollup_two_stateful_ops_below_horizon(spark, stream_dir):
    """Hour->day chained stateful aggregation (SPARK-40925): the drained
    append-mode replay equals the batch hour->day rollup for every day
    window closed below the final watermark horizon."""
    path, pdf = stream_dir
    stream = st.read_stream_parquet(spark, path, EVENTS_SCHEMA)
    rolled = st.chained_windowed_rollup(
        stream, "ts", "1 hour", "1 day", "value",
        watermark="1 hour", group_by=["user_id"],
    )
    _, sink = st.run_to_memory(rolled, output_mode="append")
    bound = pdf["ts"].max().floor("us") - pd.Timedelta(minutes=61)
    got = {
        (r.user_id, r.window_start): (r.n_events, r.n_inner_buckets)
        for r in spark.table(sink).collect()
        if r.window_end <= bound.to_pydatetime()
    }
    batch = (
        _static_df(spark, pdf)
        .groupBy("user_id", F.window("ts", "1 hour").alias("h"))
        .agg(F.count("value").alias("n"))
        .groupBy("user_id", F.window(F.col("h.start"), "1 day").alias("d"))
        .agg(F.sum("n").alias("n_events"), F.count(F.lit(1)).alias("n_hours"))
        .select("user_id", F.col("d.start").alias("ws"),
                F.col("d.end").alias("we"), "n_events", "n_hours")
    )
    want = {
        (r.user_id, r.ws): (r.n_events, r.n_hours)
        for r in batch.collect()
        if r.we <= bound.to_pydatetime()
    }
    assert want and got == want


def test_stream_reads_legacy_int96_timestamps_intact(spark, tmp_path):
    """Legacy INT96 parquet timestamps (Spark's historical default output
    type) must stream-read natively as TimestampType: the footer sniffer
    classifies only physical INT64+Timestamp(nanos) columns for the
    long-read path — arrow reports INT96 as timestamp[ns] too, and
    treating it as nanos breaks the scan with a type mismatch."""
    src = tmp_path / "int96"
    src.mkdir()
    pdf = pd.DataFrame(
        {
            "user_id": [1, 2],
            "ts": pd.to_datetime(["2024-03-01 10:00:00", "2024-03-02 11:30:00"]),
            "value": [1.5, 2.5],
        }
    )
    df = spark.createDataFrame(pdf, schema=EVENTS_SCHEMA)
    old = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        df.write.mode("overwrite").parquet(str(src))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", old)
    stream = st.read_stream_parquet(spark, str(src), EVENTS_SCHEMA)
    _, sink = st.run_to_memory(stream, output_mode="append")
    got = sorted(
        (r.user_id, r.ts.isoformat()) for r in spark.table(sink).collect()
    )
    assert got == [
        (1, "2024-03-01T10:00:00"),
        (2, "2024-03-02T11:30:00"),
    ]
