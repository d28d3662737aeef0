"""Structured Streaming tests: foreachBatch CDC historization, watermarked
windowed aggregation, stateful sessionization (SURVEY.md §7 phase 3/4)."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from pandas_etl_framework_spark import read_parquet_df
from pandas_etl_framework_spark.streaming import (
    sessionize_stream,
    streaming_historize_append,
    windowed_event_counts,
)
from tests.conftest import GRADES_SCHEMA, BASE_ROWS, NEW_KEY_ROWS, CHANGED_FRANKLIN


def _wait(query, timeout=60):
    query.processAllAvailable()
    query.stop()
    query.awaitTermination(timeout)


def test_streaming_historize_append(spark, tmp_path):
    """File-source stream: two micro-batch files flow through the same
    delta-anti-join core; store ends with 17 distinct versions."""
    src = tmp_path / "incoming"
    src.mkdir()
    store = str(tmp_path / "store")
    checkpoint = str(tmp_path / "ckpt")

    batch1 = spark.createDataFrame(BASE_ROWS, GRADES_SCHEMA)
    batch1.coalesce(1).write.parquet(str(src / "b1"))

    stream = spark.readStream.schema(GRADES_SCHEMA).option(
        "pathGlobFilter", "*.parquet"
    ).parquet(f"{src}/*")

    q = streaming_historize_append(
        spark,
        stream,
        store,
        checkpoint,
        key_columns=["Lastname", "Firstname"],
    )
    q.processAllAvailable()
    assert read_parquet_df(spark, store).count() == 14

    time.sleep(1.1)  # distinct second-granularity run ids per micro-batch
    batch2 = spark.createDataFrame(
        NEW_KEY_ROWS + [CHANGED_FRANKLIN], GRADES_SCHEMA
    )
    batch2.coalesce(1).write.parquet(str(src / "b2"))
    q.processAllAvailable()
    q.stop()

    final = read_parquet_df(spark, store)
    assert final.count() == 17
    assert final.select("KEY_HASH", "RECORD_HASH").distinct().count() == 17


def test_windowed_event_counts_batch_parity(spark):
    """The streaming windowed agg runs identically on a batch frame."""
    from pandas_etl_framework_spark.relational import load_events

    events = load_events(spark, "/root/testdata/sf0.001")
    out = windowed_event_counts(events, "1 hour", "10 minutes")
    total = out.agg(F.sum("n")).first()[0]
    assert total == events.count()
    row = out.first()
    assert (row["window_end"] - row["window_start"]).total_seconds() == 3600


def test_windowed_event_counts_streaming(spark, tmp_path):
    from pandas_etl_framework_spark.relational import load_events

    events = load_events(spark, "/root/testdata/sf0.001")
    src = str(tmp_path / "events_src")
    events.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    out = windowed_event_counts(stream, "1 hour", "10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only emits windows the watermark has passed; with a single
    # batch the final windows stay open, so just assert the query ran and
    # produced a consistent subset
    result = spark.sql("select * from win_counts")
    batch = windowed_event_counts(events, "1 hour", "10 minutes")
    assert result.count() <= batch.count()
    if result.count() > 0:
        joined = result.join(
            batch, ["window_start", "window_end", "event_type", "n"], "left_anti"
        )
        assert joined.count() == 0  # every emitted row matches batch truth


def test_windowed_counts_registry_query_cleans_up(spark):
    """The oracle-gated harness query must not leak its memory-sink temp
    view across invocations (views accumulate over repeated
    bench/correctness runs); the result survives the teardown. Scratch
    dirs: test_harness_scratch_uses_sink_root_and_is_removed."""
    from pandas_etl_framework_spark.streaming.windows import (
        q_streaming_windowed_counts,
    )

    views_before = {t.name for t in spark.catalog.listTables()}
    out = q_streaming_windowed_counts(spark, "/root/testdata/sf0.001")
    assert out.count() > 0  # result survives the sink teardown
    views_after = {t.name for t in spark.catalog.listTables()}
    assert not {
        t for t in views_after - views_before if t.startswith("stream_")
    }


def test_windowed_event_counts_equals_batch_hourly_on_any_partitioning(spark):
    """``windowed_event_counts`` is the streaming form of ``events_hourly``:
    per (hour, type) the same ``n`` and the same exact ``sum_value``, and
    the result does not depend on how the input is partitioned (a raw
    double sum differs in the last ulp between partitionings)."""
    from pandas_etl_framework_spark.relational import (
        load_events,
        q_events_hourly,
    )

    sf = "/root/testdata/sf0.01"
    events = load_events(spark, sf)

    def rows(df, hour_col):
        return {
            (r[hour_col], r["event_type"], r["n"], r["sum_value"])
            for r in df.collect()
        }

    batch = rows(q_events_hourly(spark, sf), "hour")
    assert len(batch) > 1000
    for n_parts in (1, 7):
        win = windowed_event_counts(events.repartition(n_parts))
        assert rows(win, "window_start") == batch, n_parts


def test_sessionize_stream_stateful(spark, tmp_path):
    """applyInPandasWithState sessionization: gap-closed sessions emit in
    the data batch; the event-time timeout closes idle sessions once the
    watermark passes last-event + gap; sessions the watermark hasn't
    reached stay open — and the availableNow run terminates (wall-clock
    timers would spin empty micro-batches forever)."""
    import datetime

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    # user 7: two sessions separated by a ~3h gap; the second session ends
    # at the stream's max ts, so the final watermark (max - 10 min) can
    # never pass its last event + 30 min -> stays open
    for i in range(3):
        rows.append((7, base + datetime.timedelta(minutes=5 * i)))
    for i in range(2):
        rows.append((7, base + datetime.timedelta(hours=3, minutes=i)))
    # user 8: one event at base; watermark (3h01 - 10min) passes
    # base + 30 min -> closed by the event-time timeout
    rows.append((8, base,))
    src = str(tmp_path / "sess_src")
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "availableNow sessionize did not terminate"
    closed = {r["user_id"]: r for r in spark.sql("select * from sessions").collect()}
    assert set(closed) == {7, 8}
    s7 = closed[7]  # gap-closed in the data batch
    assert s7["n_events"] == 3
    assert (s7["session_end"] - s7["session_start"]).total_seconds() == 600
    s8 = closed[8]  # closed by the event-time timeout
    assert s8["n_events"] == 1
    assert s8["session_start"] == s8["session_end"]


def test_watermark_drops_late_rows(spark, tmp_path):
    """Rows arriving later than the watermark delay behind the max seen
    event time are excluded from their (already-finalized) window."""
    import datetime

    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    src = tmp_path / "late_src"
    src.mkdir()
    schema = "user_id long, ts timestamp, event_type string, value double"
    # batch 1: events in hour 0 and hour 3 (watermark advances to 02:50)
    b1 = [
        (1, base + datetime.timedelta(minutes=m), "click", 1.0) for m in (0, 10)
    ] + [(1, base + datetime.timedelta(hours=3), "click", 1.0)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))

    stream = spark.readStream.schema(
        spark.createDataFrame(b1, schema).schema
    ).parquet(f"{src}/*")
    q = (
        windowed_event_counts(stream, "1 hour", "10 minutes")
        .writeStream.format("memory")
        .queryName("late_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "late_ckpt"))
        .start()
    )
    q.processAllAvailable()
    # batch 2: a LATE row for hour 0 — far behind watermark (03:00 - 10min)
    b2 = [(1, base + datetime.timedelta(minutes=30), "click", 1.0)]
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "b2"))
    q.processAllAvailable()
    # batch 3: advance event time so hour-0/hour-3 windows finalize
    b3 = [(1, base + datetime.timedelta(hours=6), "click", 1.0)]
    spark.createDataFrame(b3, schema).coalesce(1).write.parquet(str(src / "b3"))
    q.processAllAvailable()
    q.stop()

    rows = {
        r["window_start"].hour: r["n"]
        for r in spark.sql("select * from late_counts").collect()
    }
    # hour-0 window finalized with the 2 on-time rows; the late row was dropped
    assert rows.get(0) == 2
    assert rows.get(3) == 1


def test_streaming_dedup_drops_repeats(spark, tmp_path):
    """Duplicate keys arriving in later micro-batches are suppressed."""
    import datetime

    from pandas_etl_framework_spark.streaming import streaming_dedup

    base = datetime.datetime(2024, 1, 1)
    schema = "k long, ts timestamp"
    src = tmp_path / "dd_src"
    src.mkdir()
    b1 = [(1, base), (2, base), (3, base)]
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(str(src / "b1"))

    stream = spark.readStream.schema(
        spark.createDataFrame(b1, schema).schema
    ).parquet(f"{src}/*")
    q = (
        streaming_dedup(stream, ["k"], event_time_col="ts")
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .start()
    )
    q.processAllAvailable()
    # batch 2: repeats of keys 1,2 (same event time) + a new key
    b2 = [(1, base), (2, base), (9, base)]
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(str(src / "b2"))
    q.processAllAvailable()
    q.stop()
    out = sorted(r["k"] for r in spark.sql("select * from dedup_out").collect())
    assert out == [1, 2, 3, 9]


def test_interval_join_streams_matches_batch(spark, tmp_path):
    """Stream-stream interval join (impression→conversion attribution)
    produces exactly the rows of the identical batch join."""
    from pandas_etl_framework_spark.streaming import interval_join_streams

    imp_rows = [
        (1, "2024-01-01 10:00:00"),
        (1, "2024-01-01 12:00:00"),
        (2, "2024-01-01 10:30:00"),
        (3, "2024-01-01 09:00:00"),
    ]
    conv_rows = [
        (1, "2024-01-01 10:20:00"),  # within 30m of imp@10:00
        (1, "2024-01-01 13:00:00"),  # >30m after imp@12:00 → no match
        (2, "2024-01-01 10:35:00"),  # within 30m
        (4, "2024-01-01 10:00:00"),  # no impression key
    ]
    mk = lambda rows, tscol: spark.createDataFrame(  # noqa: E731
        rows, f"user_id long, {tscol} string"
    ).withColumn(tscol, F.to_timestamp(tscol))

    imp_dir, conv_dir = tmp_path / "imp", tmp_path / "conv"
    mk(imp_rows, "imp_ts").coalesce(1).write.parquet(str(imp_dir / "b"))
    mk(conv_rows, "conv_ts").coalesce(1).write.parquet(str(conv_dir / "b"))

    imp_s = spark.readStream.schema("user_id long, imp_ts timestamp").parquet(
        f"{imp_dir}/*"
    )
    conv_s = spark.readStream.schema("user_id long, conv_ts timestamp").parquet(
        f"{conv_dir}/*"
    )
    joined = interval_join_streams(
        imp_s, conv_s, ["user_id"], "imp_ts", "conv_ts", max_delay="30 minutes"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ij_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ijckpt"))
        .start()
    )
    _wait(q)
    got = {
        (r["user_id"], str(r["imp_ts"]), str(r["conv_ts"]))
        for r in spark.sql("select * from ij_out").collect()
    }
    batch = interval_join_streams(
        mk(imp_rows, "imp_ts"),
        mk(conv_rows, "conv_ts"),
        ["user_id"],
        "imp_ts",
        "conv_ts",
        max_delay="30 minutes",
    )
    want = {
        (r["user_id"], str(r["imp_ts"]), str(r["conv_ts"]))
        for r in batch.collect()
    }
    assert got == want
    assert (1, "2024-01-01 10:00:00", "2024-01-01 10:20:00") in got
    assert all(u != 4 for u, _, _ in got)


def test_streaming_versioned_append(spark, tmp_path):
    """Each micro-batch commits one atomic version; time travel shows the
    stream's history."""
    from pandas_etl_framework_spark.versioned_store import VersionedStore
    from pandas_etl_framework_spark.streaming import streaming_versioned_append

    src = tmp_path / "vsrc"
    src.mkdir()
    spark.range(10).coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema("id long").parquet(f"{src}/*")
    q = streaming_versioned_append(
        spark, stream, str(tmp_path / "vstore"), str(tmp_path / "vckpt")
    )
    q.processAllAvailable()
    spark.range(10, 25).coalesce(1).write.parquet(str(src / "b2"))
    q.processAllAvailable()
    q.stop()

    store = VersionedStore(spark, str(tmp_path / "vstore"))
    assert store.read().count() == 25
    assert store.read(version=0).count() == 10  # time travel to batch 1


def test_streaming_dedup_registry_query_matches_batch_and_cleans_up(spark):
    """The oracle-gated streaming-dedup query equals the batch distinct
    semantics at availableNow granularity (scratch cleanup:
    test_harness_scratch_uses_sink_root_and_is_removed)."""
    from pandas_etl_framework_spark.relational import normalize_event_time
    from pandas_etl_framework_spark.streaming.windows import q_streaming_dedup

    sf = "/root/testdata/sf0.001"
    out = {r["event_type"]: r["n_unique"] for r in q_streaming_dedup(spark, sf).collect()}
    events = normalize_event_time(spark.read.parquet(f"{sf}/events.parquet"), "ts")
    batch = {
        r["event_type"]: r["n"]
        for r in events.select("user_id", "event_type", "ts")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert out == batch


def test_streaming_sessionize_registry_query_matches_batch_and_cleans_up(spark):
    """The oracle-gated stateful-sessionize query emits exactly the
    gap-closed sessions plus the trailing sessions the event-time timeout
    closes (scratch cleanup:
    test_harness_scratch_uses_sink_root_and_is_removed)."""
    import pandas as pd
    from pyspark.sql import Window

    from pandas_etl_framework_spark.relational import (
        SESSION_GAP_SECONDS,
        normalize_event_time,
    )
    from pandas_etl_framework_spark.streaming.windows import (
        q_streaming_sessionize,
    )

    sf = "/root/testdata/sf0.001"
    out = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in q_streaming_sessionize(spark, sf).collect()
    }

    events = normalize_event_time(spark.read.parquet(f"{sf}/events.parquet"), "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")
    sessions = (
        events.withColumn(
            "new_session",
            F.when(gap.isNull() | (gap > SESSION_GAP_SECONDS), 1).otherwise(0),
        )
        .withColumn(
            "session_seq",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .withColumn(
            "max_seq", F.max("session_seq").over(Window.partitionBy("user_id"))
        )
    )

    def ms(dt) -> int:  # exact floor-to-ms, matching Spark's watermark math
        return pd.Timestamp(dt).value // 1_000_000

    max_ts = events.agg(F.max("ts")).collect()[0][0]
    wm_ms = ms(max_ts) - 600_000
    batch = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sessions.collect()
        if r["session_seq"] < r["max_seq"]
        or ms(r["session_end"]) + SESSION_GAP_SECONDS * 1_000 < wm_ms
    }
    assert out == batch
    assert len(out) > 0


def test_streaming_interval_join_registry_query_matches_batch_and_cleans_up(spark):
    """The oracle-gated stream-stream interval join equals the batch
    interval join at availableNow granularity (scratch cleanup:
    test_harness_scratch_uses_sink_root_and_is_removed)."""
    from pandas_etl_framework_spark.relational import normalize_event_time
    from pandas_etl_framework_spark.streaming.windows import (
        q_streaming_interval_join,
    )

    sf = "/root/testdata/sf0.001"
    out_df = q_streaming_interval_join(spark, sf)
    out = {tuple(r) for r in out_df.collect()}

    events = normalize_event_time(spark.read.parquet(f"{sf}/events.parquet"), "ts")
    v = events.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("amount"),
    )
    batch = {
        tuple(r)
        for r in v.join(
            p,
            (v.user_id == p.p_user_id)
            & (p.purchase_ts >= v.view_ts)
            & (p.purchase_ts <= v.view_ts + F.expr("INTERVAL 30 minutes")),
            "inner",
        )
        .drop("p_user_id")
        .select(out_df.columns)
        .collect()
    }
    assert out == batch
    assert len(out) > 0


def test_streaming_enrich_registry_query_matches_batch_and_cleans_up(spark):
    """The oracle-gated stream-static enrichment equals the batch
    join+aggregate and leaks no memory-sink temp view."""
    from pandas_etl_framework_spark.streaming.windows import q_streaming_enrich

    sf = "/root/testdata/sf0.001"
    views_before = {t.name for t in spark.catalog.listTables()}
    out = {tuple(r) for r in q_streaming_enrich(spark, sf).collect()}

    events = spark.read.parquet(f"{sf}/events.parquet")
    customer = spark.read.parquet(f"{sf}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    nation = spark.read.parquet(f"{sf}/nation.parquet").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    batch = {
        tuple(r)
        for r in events.join(customer, "user_id")
        .join(nation, "c_nationkey")
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_events"),
            (
                F.sum(F.round(F.col("value") * 10000).cast("long")).cast("double")
                / 10000
            ).alias("sum_value"),
        )
        .collect()
    }
    assert out == batch
    assert len(out) > 0

    views_after = {t.name for t in spark.catalog.listTables()}
    assert not {
        t for t in views_after - views_before if t.startswith("stream_")
    }


def test_interval_join_outer_eviction_decomposition(spark):
    """The r12 left-outer interval join row decomposes exactly as the
    watermark semantics dictate: streamed = (all inner matches) UNION
    (unmatched views older than final_watermark - max_delay, padded),
    and NO padded row is younger than that bound — the in-state tail is
    held, not emitted."""
    import datetime

    from pyspark.sql import functions as F

    from pandas_etl_framework_spark.relational import normalize_event_time
    from pandas_etl_framework_spark.streaming.windows import (
        q_streaming_interval_join_outer,
    )

    sf = "/root/testdata/sf0.001"
    out = q_streaming_interval_join_outer(spark, sf)
    padded = out.filter(F.col("purchase_id").isNull())
    matched = out.filter(F.col("purchase_id").isNotNull())

    ev = normalize_event_time(spark.read.parquet(f"{sf}/events.parquet"), "ts")
    v = ev.filter("event_type = 'view'").select(
        "user_id", F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    p = ev.filter("event_type = 'purchase'").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    inner = v.join(
        p,
        (v.user_id == p.user_id)
        & (p.purchase_ts >= v.view_ts)
        & (p.purchase_ts <= v.view_ts + F.expr("INTERVAL 30 minutes")),
    )
    assert matched.count() == inner.count()

    # ms-floored final watermark, exactly as the oracle computes it
    max_v = v.agg(F.max("view_ts")).first()[0]
    max_p = p.agg(F.max("purchase_ts")).first()[0]
    def wm_us(t):
        us = t.replace(tzinfo=datetime.timezone.utc).timestamp()
        return (int(us * 1_000_000) // 1000 - 600_000) * 1000
    bound_us = min(wm_us(max_v), wm_us(max_p)) - 1_800_000_000
    unmatched = v.join(inner.select("view_id").distinct(), "view_id", "left_anti")
    expected_padded = unmatched.filter(
        F.unix_micros("view_ts") < F.lit(bound_us)
    ).count()
    assert padded.count() == expected_padded
    assert padded.filter(F.unix_micros("view_ts") >= F.lit(bound_us)).count() == 0
    # the young tail exists and is deliberately NOT emitted
    assert unmatched.count() > expected_padded


def test_stream_sink_root_env_is_honored(tmp_path, monkeypatch):
    from pandas_etl_framework_spark.io import scratch_dir

    root = str(tmp_path / "shared_sink_root")
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SINK_ROOT", root)
    with scratch_dir("t_") as d:
        assert os.path.dirname(d) == root and os.path.isdir(d)
    assert not os.path.exists(d)
    monkeypatch.delenv("SPARK_GRAFT_STREAM_SINK_ROOT")
    with scratch_dir("t_") as d2:
        assert os.path.dirname(d2) != root and os.path.isdir(d2)
    assert not os.path.exists(d2)


@pytest.mark.parametrize(
    "row",
    [
        "streaming_state_redelivery",
        "streaming_interval_join",
        "streaming_windowed_counts",
        "io_csv_roundtrip",
        "streaming_cdc_historize",
    ],
)
def test_harness_scratch_uses_sink_root_and_is_removed(
    spark, tmp_path, monkeypatch, row
):
    """Every harness scratch dir (sink, checkpoint, store) is made under
    SPARK_GRAFT_STREAM_SINK_ROOT when it is set, and removed before the
    row returns; the returned relation no longer needs the files."""
    from pandas_etl_framework_spark.harness import REGISTRY

    root = tmp_path / "sink_root"
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SINK_ROOT", str(root))
    out = REGISTRY[row][0](spark, "/root/testdata/sf0.001")
    assert root.is_dir(), "the row did not use the sink root"
    assert list(root.iterdir()) == []
    assert out.count() > 0


@pytest.mark.parametrize("mode", ["complete", "append"])
def test_stream_once_tears_down_when_the_batch_raises(
    spark, tmp_path, monkeypatch, mode
):
    """A micro-batch that fails inside ``_stream_once`` leaves no temp
    view and no scratch dir, and the shuffle-partition setting is
    restored."""
    from pandas_etl_framework_spark.streaming.windows import _stream_once

    root = tmp_path / "sink_root"
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SINK_ROOT", str(root))
    src = str(tmp_path / "src")
    spark.range(10).write.parquet(src)
    boom = F.when(F.col("id") >= 0, F.raise_error(F.lit("boom"))).alias("k")
    stream = spark.readStream.schema("id long").parquet(src)
    if mode == "complete":
        df = stream.groupBy(boom).count()
    else:
        df = stream.select(boom)

    partitions_before = spark.conf.get("spark.sql.shuffle.partitions")
    views_before = {t.name for t in spark.catalog.listTables()}
    with pytest.raises(Exception, match="boom"):
        with _stream_once(spark, df, mode) as sink:
            sink.localCheckpoint(eager=True)
    assert {t.name for t in spark.catalog.listTables()} == views_before
    assert list(root.iterdir()) == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions_before
