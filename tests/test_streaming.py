"""Streaming semantics: a bounded batch drained through the real streaming
engine must agree with the oracle-checked batch operators."""

from __future__ import annotations

import datetime as dt
import time

from etl_bigquery_pipeline_spark.operators import sessionize, windows
from etl_bigquery_pipeline_spark.streaming import events as stream_events
from tests.crash_window import forge_crash_window


def _event_rows():
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = []
    for i in range(40):
        rows.append(
            (
                i,
                base + dt.timedelta(minutes=7 * i),
                i % 3,
                "click" if i % 2 else "view",
                float(i),
            )
        )
    return rows


SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _write_stream_source(spark, tmp_path):
    df = spark.createDataFrame(_event_rows(), SCHEMA)
    src = str(tmp_path / "src")
    df.repartition(4).write.mode("overwrite").parquet(src)
    return src, df


def test_tumbling_stream_matches_batch(spark, tmp_path):
    src, batch_df = _write_stream_source(spark, tmp_path)
    stream_df = spark.readStream.schema(SCHEMA).parquet(src)
    agg = stream_events.tumbling_counts_stream(
        stream_df, window="1 hour", watermark="2 hours"
    )
    got = stream_events.run_available_now(
        agg, checkpoint=str(tmp_path / "ckpt1")
    )
    expect = {
        (r.window_start, r.event_type): (r.n_events, round(r.value_sum, 6))
        for r in windows.tumbling_agg(batch_df, unit="hour").collect()
    }
    got_map = {
        (r.window_start, r.event_type): (r.n_events, round(r.value_sum, 6))
        for r in got
    }
    assert got_map == expect


def test_session_stream_matches_batch_session_count(spark, tmp_path):
    src, batch_df = _write_stream_source(spark, tmp_path)
    stream_df = spark.readStream.schema(SCHEMA).parquet(src)
    agg = stream_events.session_stats_stream(
        stream_df, gap="30 minutes", watermark="2 hours"
    )
    got = stream_events.run_available_now(
        agg, checkpoint=str(tmp_path / "ckpt2")
    )
    batch_sessions = sessionize.session_stats(
        batch_df, gap_minutes=30
    ).collect()
    # same number of sessions per user, same total events
    def per_user(rows, user_attr="user_id", n_attr="n_events"):
        out = {}
        for r in rows:
            u = getattr(r, user_attr)
            out.setdefault(u, [0, 0])
            out[u][0] += 1
            out[u][1] += getattr(r, n_attr)
        return {u: tuple(v) for u, v in out.items()}

    assert per_user(got) == per_user(batch_sessions)


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data policy: events older than the watermark at their arrival
    are discarded by the windowed aggregate. A live query is synchronized
    with processAllAvailable() so the late file is guaranteed to arrive in
    a second micro-batch, after the watermark advanced."""
    import os

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    src_dir = str(tmp_path / "late_src")
    os.makedirs(src_dir)
    spark.createDataFrame(
        [
            (1, base, 0, "view", 1.0),
            (2, base + dt.timedelta(hours=5), 0, "view", 1.0),  # WM -> ~3h
        ],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src_dir)

    stream_df = spark.readStream.schema(SCHEMA).parquet(src_dir)
    agg = stream_events.tumbling_counts_stream(
        stream_df, window="1 hour", watermark="2 hours"
    )
    name = "late_sink"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1 done -> watermark = 5h - 2h = 3h
        spark.createDataFrame(
            [
                (3, base + dt.timedelta(hours=1), 0, "view", 99.0),  # LATE
                (4, base + dt.timedelta(hours=5, minutes=5), 0, "view", 1.0),
            ],
            SCHEMA,
        ).coalesce(1).write.mode("append").parquet(src_dir)
        q.processAllAvailable()  # batch 2 under the advanced watermark
    finally:
        q.stop()

    rows = spark.sql(f"SELECT * FROM {name}").collect()
    sums = {}
    for r in rows:  # update mode: later emissions override
        sums[r.window_start] = r.value_sum
    assert sums[base + dt.timedelta(hours=5)] == 2.0  # fresh event landed
    assert base + dt.timedelta(hours=1) not in sums  # late event dropped


def test_stream_dedup_drops_repeats(spark, tmp_path):
    rows = _event_rows()
    dup_rows = rows + rows[:10]  # re-deliver 10 events
    df = spark.createDataFrame(dup_rows, SCHEMA)
    src = str(tmp_path / "dedup_src")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    stream_df = spark.readStream.schema(SCHEMA).parquet(src)
    deduped = stream_events.dedup_stream(
        stream_df, key_cols=("event_id",), watermark="10 hours"
    )
    name = "dedup_sink"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql(f"SELECT COUNT(*) AS c FROM {name}").first().c
    assert got == len(rows)


def test_incremental_sink_end_to_end(spark, tmp_path):
    from etl_bigquery_pipeline_spark.streaming import incremental

    rows = _event_rows()
    df = spark.createDataFrame(rows + rows[:5], SCHEMA)  # 5 re-delivered
    src = str(tmp_path / "inc_src")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "inc_out")
    q = incremental.incremental_events_sink(
        spark.readStream.schema(SCHEMA).parquet(src),
        out,
        str(tmp_path / "inc_ckpt"),
        watermark="10 hours",
    )
    q.awaitTermination()
    back = spark.read.parquet(out)
    assert back.count() == len(rows)  # re-deliveries deduped
    assert "event_date" in back.columns
    import os

    # exactly-once layout: each micro-batch owns a batch_id=N directory it
    # can idempotently overwrite on replay; event_date partitions nest
    # inside (both become discovered partition columns on read)
    batch_dirs = [d for d in os.listdir(out) if d.startswith("batch_id=")]
    assert batch_dirs
    assert "batch_id" in back.columns
    assert any(
        d.startswith("event_date=")
        for b in batch_dirs
        for d in os.listdir(os.path.join(out, b))
    )


def test_incremental_sink_batch_replay_is_idempotent(spark, tmp_path):
    """Exactly-once for real: foreachBatch is at-least-once, so force an
    actual replay — delete the newest commit marker from the checkpoint
    (the on-disk state after a crash between write and commit) and
    restart. Structured Streaming re-runs that batch with the same
    batch_id; the sink's overwrite of its own batch_id=N directory must
    leave the output byte-identical instead of appending duplicates."""
    import glob
    import os

    from etl_bigquery_pipeline_spark.streaming import incremental

    rows = _event_rows()
    df = spark.createDataFrame(rows, SCHEMA)
    src = str(tmp_path / "re_src")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    out = str(tmp_path / "re_out")
    ckpt = str(tmp_path / "re_ckpt")

    def run() -> None:
        q = incremental.incremental_events_sink(
            spark.readStream.schema(SCHEMA).parquet(src),
            out,
            ckpt,
            watermark="10 hours",
        )
        q.awaitTermination()

    run()
    first = sorted(
        (r.event_id, str(r.ts)) for r in spark.read.parquet(out).collect()
    )
    commits = sorted(glob.glob(os.path.join(ckpt, "commits", "[0-9]*")))
    assert commits, "checkpoint must have committed batches"
    os.remove(commits[-1])  # crash window: batch written, commit lost
    crc = os.path.join(
        os.path.dirname(commits[-1]), f".{os.path.basename(commits[-1])}.crc"
    )
    if os.path.exists(crc):  # local FS keeps a checksum sidecar
        os.remove(crc)

    run()  # restart replays the uncommitted batch with the SAME batch_id
    again = sorted(
        (r.event_id, str(r.ts)) for r in spark.read.parquet(out).collect()
    )
    assert again == first  # overwrite-by-batch-id absorbed the replay


def test_stateful_user_totals_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-user lifetime totals must carry state
    across micro-batches AND across query restarts (checkpoint-restored
    state). availableNow triggers keep the runs bounded — with
    ProcessingTimeTimeout a default-trigger query schedules micro-batches
    forever to service timeouts, so processAllAvailable never settles."""
    import os
    from etl_bigquery_pipeline_spark.streaming import stateful

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "state_src")
    out_dir = str(tmp_path / "state_out")
    ckpt = str(tmp_path / "state_ckpt")
    os.makedirs(src)

    def run_once():
        stream = stateful.user_lifetime_totals(
            spark.readStream.schema(SCHEMA).parquet(src)
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            stream.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(
        [(1, base, 7, "view", 10.0), (2, base, 7, "view", 5.0),
         (3, base, 8, "view", 1.0)],
        SCHEMA,
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()

    spark.createDataFrame(
        [(4, base + dt.timedelta(minutes=1), 7, "view", 2.5)], SCHEMA
    ).coalesce(1).write.mode("append").parquet(src)
    run_once()  # restart: state restored from checkpoint

    rows = spark.read.parquet(out_dir).collect()
    latest = {}
    for r in sorted(rows, key=lambda r: r.n_events):
        latest[r.user_id] = (r.n_events, r.value_sum)
    assert latest[7] == (3, 17.5)  # 2 events run1 + 1 event run2
    assert latest[8] == (1, 1.0)


def test_stream_stream_join_matches_batch_range_join(spark, tmp_path):
    """Stream-stream time-bounded join must agree with the batch range
    join on the same bounded input."""
    rows = _event_rows()
    df = spark.createDataFrame(rows, SCHEMA)
    src = str(tmp_path / "ss_src")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    signups = stream.filter("event_type = 'view'")  # fixture has no signup
    joined = stream_events.signup_followups_stream(
        signups, stream, within="1 hour", watermark="10 hours"
    )
    name = "ss_sink"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.s_event_id, r.e_event_id)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }

    import pyspark.sql.functions as F

    s = df.filter("event_type = 'view'").select(
        F.col("event_id").alias("s_event_id"),
        F.col("user_id").alias("s_user_id"),
        F.col("ts").alias("s_ts"),
    )
    e = df.select(
        F.col("event_id").alias("e_event_id"),
        F.col("user_id").alias("e_user_id"),
        F.col("ts").alias("e_ts"),
    )
    expect = {
        (r.s_event_id, r.e_event_id)
        for r in s.join(
            e,
            (F.col("e_user_id") == F.col("s_user_id"))
            & (F.col("e_ts") > F.col("s_ts"))
            & (F.col("e_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
        ).collect()
    }
    assert got == expect and len(expect) > 0


def test_streaming_with_rocksdb_state_store(spark, tmp_path):
    """State at scale: the RocksDB state store provider (spillable,
    incremental-checkpoint) must run the same windowed aggregate. At 100 TB
    stream state, the default in-memory HDFS-backed store OOMs; RocksDB is
    the production choice — this pins that it works in this engine."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        src, batch_df = _write_stream_source(spark, tmp_path)
        stream_df = spark.readStream.schema(SCHEMA).parquet(src)
        agg = stream_events.tumbling_counts_stream(
            stream_df, window="1 hour", watermark="2 hours"
        )
        got = stream_events.run_available_now(
            agg, checkpoint=str(tmp_path / "ckpt_rocks")
        )
        expect = windows.tumbling_agg(batch_df, unit="hour").count()
        assert len(got) == expect
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_tws_user_totals_accumulate_across_batches(spark, tmp_path):
    """transformWithStateInPandas: ValueState totals and MapState type
    counts must carry across micro-batches AND across query restarts
    (checkpoint-restored state), matching the applyInPandasWithState
    operator's semantics on the same input.

    Requires google.protobuf (the TWS state-server protocol; bundled with
    standard Spark distros, absent in this container) and the RocksDB
    state store provider."""
    import os

    import pytest

    pytest.importorskip("google.protobuf")
    from etl_bigquery_pipeline_spark.streaming import tws

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    src = str(tmp_path / "tws_src")
    out_dir = str(tmp_path / "tws_out")
    ckpt = str(tmp_path / "tws_ckpt")
    os.makedirs(src)

    def run_once():
        stream = tws.user_totals_tws(
            spark.readStream.schema(SCHEMA).parquet(src)
        )

        def sink(batch_df, batch_id):
            batch_df.write.mode("append").parquet(out_dir)

        q = (
            stream.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        spark.createDataFrame(
            [(1, base, 7, "view", 10.0), (2, base, 7, "click", 5.0),
             (3, base, 8, "view", 1.0)],
            SCHEMA,
        ).coalesce(1).write.mode("append").parquet(src)
        run_once()

        spark.createDataFrame(
            [(4, base + dt.timedelta(minutes=1), 7, "view", 2.5)], SCHEMA
        ).coalesce(1).write.mode("append").parquet(src)
        run_once()  # restart: state restored from checkpoint

        rows = spark.read.parquet(out_dir).collect()
        latest = {}
        for r in sorted(rows, key=lambda r: r.n_events):
            latest[r.user_id] = (r.n_events, r.value_sum, r.type_counts)
        assert latest[7] == (3, 17.5, "click:1,view:2")
        assert latest[8] == (1, 1.0, "view:1")
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_scd2_stream_folds_cdc_batches(spark, tmp_path):
    """Streaming SCD2: two CDC micro-batches fold into a dimension table
    with correct history — batch 1 bootstraps, batch 2 closes the changed
    key at its effective date, no-ops the unchanged key, inserts the new
    key, and within-batch multiple changes per key compact to the latest."""
    import datetime as dt

    from etl_bigquery_pipeline_spark.sources.sinks import ParquetWarehouse
    from etl_bigquery_pipeline_spark.streaming import scd_stream

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    src = str(tmp_path / "cdc_src")
    ckpt = str(tmp_path / "cdc_ckpt")
    schema = "k bigint, name string, bal double, change_ts timestamp"

    def run(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = scd_stream.scd2_stream_sink(
            spark.readStream.schema(schema).parquet(src),
            wh,
            "dim",
            ckpt,
            keys=["k"],
        )
        q.awaitTermination()

    t1 = dt.datetime(2024, 1, 1, 10)
    run([(1, "a", 10.0, t1), (2, "b", 20.0, t1)])
    d = dt.date
    state1 = {tuple(r) for r in wh.read(spark, "dim").collect()}
    assert state1 == {
        (1, "a", 10.0, d(2024, 1, 1), None, True),
        (2, "b", 20.0, d(2024, 1, 1), None, True),
    }

    t2a = dt.datetime(2024, 6, 1, 8)
    t2b = dt.datetime(2024, 6, 1, 9)
    run([
        (1, "a", 50.0, t2a),   # superseded within the batch...
        (1, "a", 99.0, t2b),   # ...by this latest change
        (2, "b", 20.0, t2b),   # identical -> no-op
        (3, "c", 30.0, t2b),   # new key
    ])
    state2 = {tuple(r) for r in wh.read(spark, "dim").collect()}
    assert state2 == {
        (1, "a", 10.0, d(2024, 1, 1), d(2024, 6, 1), False),
        (1, "a", 99.0, d(2024, 6, 1), None, True),
        (2, "b", 20.0, d(2024, 1, 1), None, True),
        (3, "c", 30.0, d(2024, 6, 1), None, True),
    }


def test_rollup_stream_matches_batch_recompute(spark, tmp_path):
    """Incremental rollup maintenance: two micro-batches of events merge
    into per-day aggregates identical to a from-scratch batch groupBy,
    and a forced batch replay (deleted commit marker) changes nothing."""
    import glob
    import os

    import pyspark.sql.functions as F

    from etl_bigquery_pipeline_spark.streaming import rollup_stream

    rows = _event_rows()
    half = len(rows) // 2
    src = str(tmp_path / "ru_src")
    out = str(tmp_path / "ru_out")
    ckpt = str(tmp_path / "ru_ckpt")

    def run(batch):
        spark.createDataFrame(batch, SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        q = rollup_stream.rollup_merge_sink(
            spark.readStream.schema(SCHEMA).parquet(src), out, ckpt
        )
        q.awaitTermination()

    run(rows[:half])
    run(rows[half:])

    got = {
        (r.day, r.event_type): (r.n_events, r.value_sum, r.value_min, r.value_max)
        for r in rollup_stream.read_rollup(spark, out).collect()
    }
    want = {
        (r.day, r.event_type): (r.n_events, r.value_sum, r.value_min, r.value_max)
        for r in (
            spark.createDataFrame(rows, SCHEMA)
            .withColumn("day", F.col("ts").cast("date"))
            .groupBy("day", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("double")
                .alias("value_sum"),
                F.min("value").alias("value_min"),
                F.max("value").alias("value_max"),
            )
            .collect()
        )
    }
    assert got == want

    # force a replay of the newest batch: drop its commit marker and
    # restart — the overwritten batch_id partition must leave the rollup
    # unchanged (no double counting)
    commits = sorted(
        glob.glob(os.path.join(ckpt, "commits", "*")),
        key=lambda p: os.path.basename(p),
    )
    newest = [p for p in commits if not p.endswith(".crc")][-1]
    os.remove(newest)
    crc = os.path.join(
        os.path.dirname(newest), f".{os.path.basename(newest)}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    q = rollup_stream.rollup_merge_sink(
        spark.readStream.schema(SCHEMA).parquet(src), out, ckpt
    )
    q.awaitTermination()
    replayed = {
        (r.day, r.event_type): (r.n_events, r.value_sum, r.value_min, r.value_max)
        for r in rollup_stream.read_rollup(spark, out).collect()
    }
    assert replayed == want


def test_streaming_topk_matches_batch_heavy_hitters(spark, tmp_path):
    """The maintained-counts top-k view must agree exactly with the batch
    heavy-hitters operator over the same drained events, and a replayed
    batch must not double-count."""
    from etl_bigquery_pipeline_spark.operators import skew
    from etl_bigquery_pipeline_spark.streaming import topk_stream

    src, batch_df = _write_stream_source(spark, tmp_path)
    out = str(tmp_path / "topk_out")
    ckpt = str(tmp_path / "topk_ckpt")
    q = topk_stream.key_counts_sink(
        spark.readStream.schema(SCHEMA).parquet(src), out, ckpt
    )
    q.awaitTermination()

    served = topk_stream.read_top_k(spark, out, k=3).collect()
    exact = skew.heavy_hitters(batch_df, ["user_id"], k=3).collect()
    as_tuples = lambda rows: [
        (r.user_id, r.n, r.rnk, r.share, r.cum_share) for r in rows
    ]
    assert as_tuples(served) == as_tuples(exact)

    # replay idempotency: re-writing batch 0's partials changes nothing
    import glob
    import os

    bdir = sorted(glob.glob(os.path.join(out, "batch_id=*")))[0]
    bid = int(bdir.rsplit("=", 1)[1])
    first = spark.createDataFrame(_event_rows(), SCHEMA)
    first.groupBy("user_id").count().withColumnRenamed("count", "n").write.mode(
        "overwrite"
    ).parquet(bdir)
    replayed = topk_stream.read_top_k(spark, out, k=3).collect()
    assert as_tuples(replayed) == as_tuples(exact)


def test_cdc_rollup_retractions(spark, tmp_path):
    """Deletes must subtract from the maintained rollup, a fully-retracted
    key must disappear, and the served view must equal a from-scratch
    aggregate over the surviving rows."""
    import datetime as dt

    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.streaming import rollup_stream

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    cdc_schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, op string"
    )
    inserts = [
        (i, base, i % 3, "click" if i % 2 else "view", float(i), "insert")
        for i in range(20)
    ]
    # retract every click, correct view #0 from 0.0 to 99.0
    deletes = [
        (i, base, i % 3, "click", float(i), "delete")
        for i in range(20) if i % 2
    ]
    correction = [
        (0, base, 0, "view", 0.0, "delete"),
        (0, base, 0, "view", 99.0, "insert"),
    ]
    df = spark.createDataFrame(inserts + deletes + correction, cdc_schema)
    src = str(tmp_path / "cdc_src")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    out = str(tmp_path / "cdc_out")
    q = rollup_stream.cdc_rollup_merge_sink(
        spark.readStream.schema(cdc_schema).parquet(src),
        out,
        str(tmp_path / "cdc_ckpt"),
    )
    q.awaitTermination()

    served = {
        r.event_type: (r.n_events, r.value_sum)
        for r in rollup_stream.read_cdc_rollup(spark, out).collect()
    }
    assert "click" not in served  # fully retracted keys disappear
    n, s = served["view"]
    survivors = [float(i) for i in range(20) if i % 2 == 0 and i != 0] + [99.0]
    assert n == 10
    assert abs(s - sum(survivors)) < 1e-9


def test_incremental_sink_routes_rejects_to_dlq(spark, tmp_path):
    """Malformed rows must land in the DLQ with a reason — never silently
    dropped — while clean rows flow to the normal partitioned sink."""
    import datetime as dt

    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.streaming import incremental

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 1, "view", 1.0),
        (2, base, 1, "click", -5.0),          # negative value
        (None, base, 2, "view", 2.0),         # null key
        (4, None, 2, "view", 3.0),            # null ts
        (5, base, 3, "click", 4.0),
    ]
    df = spark.createDataFrame(rows, SCHEMA)
    src = str(tmp_path / "dlq_src")
    df.coalesce(1).write.mode("overwrite").parquet(src)

    out, dlq = str(tmp_path / "dlq_ok"), str(tmp_path / "dlq_bad")
    q = incremental.incremental_events_sink_with_dlq(
        spark.readStream.schema(SCHEMA).parquet(src),
        out, dlq, str(tmp_path / "dlq_ckpt"), watermark="10 hours",
    )
    q.awaitTermination()

    ok = spark.read.parquet(out)
    assert sorted(r.event_id for r in ok.collect()) == [1, 5]
    bad = spark.read.parquet(dlq)
    reasons = {r.event_id: r.reject_reason for r in bad.collect()}
    assert reasons[2] == "negative_value"
    assert reasons[None] == "null_key"
    assert reasons[4] == "null_ts"
    assert bad.count() == 3  # accepted + rejected = every input row


def test_dlq_catches_rejects_after_watermark_advance(spark, tmp_path):
    """The DLQ guarantee must hold beyond the first micro-batch: null-ts
    rows arriving AFTER the watermark has advanced are routed around the
    stateful dedup (which would silently discard them), and two distinct
    null-key rows in one batch both land in the DLQ (no pre-flag
    collapse)."""
    import datetime as dt
    import shutil

    from etl_bigquery_pipeline_spark.streaming import incremental

    src = str(tmp_path / "wsrc")
    out, dlq = str(tmp_path / "wok"), str(tmp_path / "wbad")
    ckpt = str(tmp_path / "wckpt")

    def run(rows, fname):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "stage"))
        for f in __import__("glob").glob(str(tmp_path / "stage/*.parquet")):
            shutil.copy(f, f"{src}/{fname}")
        q = incremental.incremental_events_sink_with_dlq(
            spark.readStream.schema(SCHEMA).parquet(src),
            out, dlq, ckpt, watermark="1 hour",
        )
        q.awaitTermination()

    __import__("os").makedirs(src)
    # batch 1: clean rows; commits a watermark near 2024-06-01
    run([(1, dt.datetime(2024, 6, 1), 1, "view", 1.0)], "b1.parquet")
    # batch 2: all malformed — null ts (late by construction) and two
    # DISTINCT null-key rows
    run(
        [
            (2, None, 1, "view", 2.0),
            (None, dt.datetime(2024, 6, 1, 2), 2, "view", 3.0),
            (None, dt.datetime(2024, 6, 1, 3), 3, "click", 4.0),
        ],
        "b2.parquet",
    )

    bad = spark.read.parquet(dlq)
    assert bad.count() == 3, "every malformed arrival must reach the DLQ"
    reasons = sorted((r.reject_reason, r.value) for r in bad.collect())
    assert reasons == [
        ("null_key", 3.0), ("null_key", 4.0), ("null_ts", 2.0),
    ]
    assert spark.read.parquet(out).count() == 1


def test_streaming_rollup_routes_to_monthly(spark, tmp_path):
    """The monthly aggregate routed through the STREAMING-maintained
    daily rollup must equal the direct batch aggregate — incremental
    maintenance and summary-table routing compose."""
    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.plans import aggregates
    from etl_bigquery_pipeline_spark.streaming import rollup_stream

    src, batch_df = _write_stream_source(spark, tmp_path)
    out = str(tmp_path / "route_out")
    q = rollup_stream.rollup_merge_sink(
        spark.readStream.schema(SCHEMA).parquet(src),
        out,
        str(tmp_path / "route_ckpt"),
    )
    q.awaitTermination()

    served_daily = rollup_stream.read_rollup(spark, out)
    # read_rollup serves value_sum as double; re-cast for exact merge
    routed = aggregates.rollup_to_monthly(
        served_daily.withColumn(
            "value_sum", F.col("value_sum").cast("decimal(18,4)")
        )
    )
    direct = aggregates.rollup_to_monthly(
        aggregates.build_daily_rollup(batch_df)
    )
    as_rows = lambda df: sorted(
        (str(r.month), r.event_type, r.n_events, float(r.value_sum),
         r.value_min, r.value_max, r.value_avg)
        for r in df.collect()
    )
    assert as_rows(routed) == as_rows(direct)


def test_streaming_ann_index_maintenance(spark, tmp_path):
    """The embedding feed keeps the persisted LSH index current: after
    the stream drains, probes equal a full rebuild over base+fed vectors;
    a replayed micro-batch (newest commit marker deleted) must NOT
    duplicate index rows."""
    import glob
    import os

    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.operators import ann_index
    from etl_bigquery_pipeline_spark.sources.readers import read_table
    from etl_bigquery_pipeline_spark.streaming import ann_stream

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    feed = emb.filter(F.col("vec_id") % 4 == 0)
    ann_index.build_lsh_index(base, "ann_stream_t", dim=64, bits=4, seed=42)

    src = str(tmp_path / "vec_src")
    feed.coalesce(1).write.mode("overwrite").parquet(src)
    ckpt = str(tmp_path / "ann_ckpt")
    schema = feed.schema
    q = ann_stream.incremental_ann_sink(
        spark.readStream.schema(schema).parquet(src), "ann_stream_t", ckpt
    )
    q.awaitTermination()

    n_total = emb.count()
    assert spark.table("ann_stream_t").count() == n_total

    queries = emb.filter(F.col("vec_id") % 50 == 0)
    got = ann_index.probe_lsh_index(spark, "ann_stream_t", queries, k=5)
    ann_index.build_lsh_index(emb, "ann_rebuild_t", dim=64, bits=4, seed=42)
    want = ann_index.probe_lsh_index(spark, "ann_rebuild_t", queries, k=5)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    # replay: delete the newest commit marker (the on-disk state after a
    # crash between insert and commit) so the batch re-runs with the same
    # batch_id; the sink's applied-batch marker makes it a no-op
    newest = sorted(glob.glob(os.path.join(ckpt, "commits", "[0-9]*")))[-1]
    os.remove(newest)
    crc = os.path.join(
        os.path.dirname(newest), f".{os.path.basename(newest)}.crc"
    )
    if os.path.exists(crc):  # local FS keeps a checksum sidecar
        os.remove(crc)
    q2 = ann_stream.incremental_ann_sink(
        spark.readStream.schema(schema).parquet(src), "ann_stream_t", ckpt
    )
    q2.awaitTermination()
    assert spark.table("ann_stream_t").count() == n_total, "replay duplicated rows"

    for t in ("ann_stream_t", "ann_rebuild_t"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.sql(f"DROP TABLE IF EXISTS {t}__meta")


def test_streaming_dedup_against_persisted_corpus(spark, tmp_path):
    """The continuous daily-ingest loop: batch 1 routes corpus near-dups
    to the dup sink and appends novel docs' bands to the index; batch 2
    proves the index grew — a near-copy of a batch-1 NOVEL doc is caught.
    Replaying a micro-batch must not duplicate index rows or outputs."""
    import glob
    import os

    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.operators import dedup
    from etl_bigquery_pipeline_spark.sources.readers import read_table
    from etl_bigquery_pipeline_spark.streaming import dedup_stream

    base = (
        read_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 200)
    )
    dedup.build_band_index(base, "dedup_stream_idx")

    # batch 1: 5 near-copies of corpus docs + 2 novel docs
    near = base.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz tail")).alias("text"),
    )
    novel1 = spark.createDataFrame(
        [
            (2001, "zork blap qwiggle fen marzipan uvula crox dapple nim"),
            (2002, "grue stilton parallax wyvern oboe kelvin thrum vex"),
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "doc_feed")
    ckpt = str(tmp_path / "dd_ckpt")
    out = str(tmp_path / "dd_out")
    dup = str(tmp_path / "dd_dup")
    near.unionAll(novel1).coalesce(1).write.mode("append").parquet(src)
    schema = "doc_id long, text string"

    def run_stream():
        q = dedup_stream.incremental_dedup_sink(
            spark.readStream.schema(schema).parquet(src),
            "dedup_stream_idx",
            ckpt,
            out,
            dup,
        )
        q.awaitTermination()

    run_stream()
    dup1 = {r.doc_id: (r.corpus_id, r.est_jaccard)
            for r in spark.read.parquet(f"{dup}/batch_id=0").collect()}
    assert set(dup1) == {1000 + i for i in range(5)}
    # the routed match is a genuine corpus doc with strong evidence (the
    # synthetic corpus contains natural near-dups, so the argmax match
    # need not be the planted source — but the estimate must clear the
    # bar and the source must be among the index candidates)
    assert all(v[1] >= 0.5 for v in dup1.values())
    out1 = {r.doc_id for r in spark.read.parquet(f"{out}/batch_id=0").collect()}
    assert out1 == {2001, 2002}
    n_idx_after_b1 = spark.table("dedup_stream_idx").count()
    assert n_idx_after_b1 > base.count() * 4 - 1  # novel bands appended

    # batch 2: near-copy of the batch-1 NOVEL doc + one more novel doc
    batch2 = spark.createDataFrame(
        [
            (3001, "zork blap qwiggle fen marzipan uvula crox dapple nim extra"),
            (3002, "entirely fresh walrus cadence polygon drift ember silo"),
        ],
        "doc_id long, text string",
    )
    batch2.coalesce(1).write.mode("append").parquet(src)
    run_stream()
    dup2 = {r.doc_id: r.corpus_id
            for r in spark.read.parquet(f"{dup}/batch_id=1").collect()}
    assert dup2 == {3001: 2001}, "index append must make 2001 findable"
    out2 = {r.doc_id for r in spark.read.parquet(f"{out}/batch_id=1").collect()}
    assert out2 == {3002}
    n_idx_after_b2 = spark.table("dedup_stream_idx").count()

    # replay: delete the newest spark commit marker; the applied-batch
    # marker must make the re-run a no-op
    newest = sorted(glob.glob(os.path.join(ckpt, "commits", "[0-9]*")))[-1]
    os.remove(newest)
    crc = os.path.join(
        os.path.dirname(newest), f".{os.path.basename(newest)}.crc"
    )
    if os.path.exists(crc):
        os.remove(crc)
    run_stream()
    assert spark.table("dedup_stream_idx").count() == n_idx_after_b2
    assert {r.doc_id for r in spark.read.parquet(f"{out}/batch_id=1").collect()} == {3002}

    spark.sql("DROP TABLE IF EXISTS dedup_stream_idx")
    spark.sql("DROP TABLE IF EXISTS dedup_stream_idx__meta")


def test_streaming_curation_loop(spark, tmp_path):
    """The full continuous curation loop: per batch — exact dedup, corpus
    near-dup routing, learned quality filter (pre-trained weights),
    curated output + index growth; replay duplicates nothing."""
    import glob
    import os

    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.operators import dedup, quality_model
    from etl_bigquery_pipeline_spark.sources.readers import read_table
    from etl_bigquery_pipeline_spark.streaming import curation_stream

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    base = docs.select("doc_id", "text").filter(F.col("doc_id") < 200)
    dedup.build_band_index(base, "curation_stream_idx")
    trained = quality_model.train_logreg(quality_model.doc_features(docs))

    long_text = " ".join(
        ["substantial content words repeated meaningfully"] * 10
    )
    feed = spark.createDataFrame(
        [(5001, long_text), (5002, "tiny")],
        "doc_id long, text string",
    )
    # the threshold that separates the two feed docs under THIS round's
    # trained weights (testdata regenerates per round, so fixed cutoffs
    # would be brittle; the stream's routing logic is what's under test)
    from pyspark.sql import functions as _F

    feed_scores = {
        r.doc_id: r.score
        for r in quality_model.score_documents(
            quality_model.doc_features(
                feed.withColumn("n_chars", _F.length("text"))
            ),
            trained.weights,
        ).collect()
    }
    assert feed_scores[5001] > feed_scores[5002]
    threshold = (feed_scores[5001] + feed_scores[5002]) / 2.0
    near = base.filter(F.col("doc_id") < 3).select(
        (F.col("doc_id") + 4000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz tail")).alias("text"),
    )
    src = str(tmp_path / "cur_feed")
    near.unionAll(feed).coalesce(1).write.mode("append").parquet(src)

    ckpt = str(tmp_path / "cur_ckpt")
    out = str(tmp_path / "cur_out")
    dup = str(tmp_path / "cur_dup")
    rej = str(tmp_path / "cur_rej")

    def run():
        q = curation_stream.curation_sink(
            spark.readStream.schema("doc_id long, text string").parquet(src),
            "curation_stream_idx",
            ckpt, out, dup, rej,
            quality_weights=trained.weights,
            quality_threshold=threshold,
        )
        q.awaitTermination()

    run()
    dups = {r.doc_id for r in spark.read.parquet(f"{dup}/batch_id=0").collect()}
    assert dups == {4000, 4001, 4002}
    rejects = {r.doc_id: r.score
               for r in spark.read.parquet(f"{rej}/batch_id=0").collect()}
    assert 5002 in rejects and rejects[5002] < threshold
    curated = {r.doc_id for r in spark.read.parquet(f"{out}/batch_id=0").collect()}
    assert curated == {5001}
    n_idx = spark.table("curation_stream_idx").count()

    # replay the batch: nothing may double
    newest = sorted(glob.glob(os.path.join(ckpt, "commits", "[0-9]*")))[-1]
    os.remove(newest)
    crc = os.path.join(os.path.dirname(newest), f".{os.path.basename(newest)}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    run()
    assert spark.table("curation_stream_idx").count() == n_idx
    assert {r.doc_id for r in spark.read.parquet(f"{out}/batch_id=0").collect()} == {5001}

    spark.sql("DROP TABLE IF EXISTS curation_stream_idx")
    spark.sql("DROP TABLE IF EXISTS curation_stream_idx__meta")


def test_sliding_counts_stream_matches_batch_twin(spark, tmp_path):
    """Each event must land in exactly window/slide overlapping windows;
    the streaming result (availableNow over a file source) must equal
    the batch sliding aggregation on the same data."""
    from pyspark.sql import functions as F

    from conftest import SF0001
    from etl_bigquery_pipeline_spark.sources.readers import read_table
    from etl_bigquery_pipeline_spark.streaming import events as SE

    src_dir = str(tmp_path / "src")
    batch = read_table(spark, SF0001, "events")
    batch.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(batch.schema).parquet(src_dir)
    out = SE.run_available_now(
        SE.sliding_counts_stream(stream, watermark="0 seconds"),
        checkpoint=str(tmp_path / "ck"),
    )
    got = {
        (r.window_start, r.window_end, r.event_type): (r.n_events, r.value_sum)
        for r in out
    }
    expected = {
        (r.window_start, r.window_end, r.event_type): (r.n_events, r.value_sum)
        for r in (
            batch.groupBy(
                F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
            )
            .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("value_sum"))
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type", "n_events", "value_sum",
            )
            .collect()
        )
    }
    assert got == expected
    # sliding doubles the window memberships vs tumbling
    n_tumbling = (
        batch.groupBy(F.window("ts", "1 hour"), "event_type").count().count()
    )
    assert len(got) > n_tumbling


def test_stream_stream_left_outer_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """The null-padded row for a signup with no follow-up is a
    watermark-certified fact: it must appear once the stream drains, and
    matched signups must NOT get a null row."""
    import datetime as _dt

    from pyspark.sql import functions as F

    t0 = _dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # signup 1 with a follow-up 10 min later
        (1, t0, 101, "signup", 0.0, "{}"),
        (2, t0 + _dt.timedelta(minutes=10), 101, "click", 1.0, "{}"),
        # signup 3 with NO follow-up within 1h
        (3, t0 + _dt.timedelta(minutes=5), 202, "signup", 0.0, "{}"),
    ]
    # the watermark only advances at micro-batch boundaries, and
    # outer-join null rows flush in the batch AFTER the one that moved
    # it — so the late watermark-pushing events arrive as separate
    # files consumed one per trigger
    # the global watermark is the MIN across both sides' watermarks, so
    # BOTH sides need late events to advance it past signup 3's
    # no-match-possible point
    late = [
        (4, t0 + _dt.timedelta(hours=30), 303, "click", 1.0, "{}"),
        (5, t0 + _dt.timedelta(hours=30), 404, "signup", 0.0, "{}"),
        (6, t0 + _dt.timedelta(hours=31), 303, "click", 1.0, "{}"),
        (7, t0 + _dt.timedelta(hours=31), 404, "signup", 0.0, "{}"),
    ]
    ddl = ("event_id long, ts timestamp, user_id long, "
           "event_type string, value double, props string")
    df = spark.createDataFrame(rows, ddl)
    src = str(tmp_path / "lo_src")
    df.coalesce(1).write.mode("overwrite").parquet(src)
    for i, r in enumerate(late):
        spark.createDataFrame([r], ddl).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    joined = stream_events.signup_followups_left_stream(
        stream.filter("event_type = 'signup'"),
        stream.filter("event_type != 'signup'"),
        within="1 hour", watermark="10 minutes",
    )
    name = "lo_sink"
    q = (
        joined.writeStream.format("memory").queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "lo_ckpt"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = [
        (r.s_event_id, r.e_event_id)
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    ]
    assert (1, 2) in got            # matched pair
    assert (3, None) in got         # unmatched signup emitted null-padded
    assert (1, None) not in got     # matched signup has no null row


def _drain(query, spark):
    """Wait for an availableNow query, then for its async deregistration."""
    query.awaitTermination()
    query.stop()
    for _ in range(100):
        if not spark.streams.active:
            break
        time.sleep(0.1)


def test_dedup_stream_crash_window_recovery_preserves_routing(
    spark, tmp_path
):
    """r10: the two-marker protocol ported from the image stream — a
    crash AFTER the band-index insert but BEFORE the commit marker must
    (a) not duplicate index rows on replay and (b) not corrupt the
    routed outputs: the recovery probe sees the crashed attempt's own
    inserts, so without the batch-id exclusion every previously-novel
    doc self-collides (est_jaccard 1.0) into dup_dir while out_dir
    loses its rows."""
    import glob
    import os

    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.operators import dedup
    from etl_bigquery_pipeline_spark.sources.readers import read_table
    from etl_bigquery_pipeline_spark.streaming import dedup_stream

    base = (
        read_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 100)
    )
    dedup.build_band_index(base, "dd_cw_idx")
    batch = base.filter(F.col("doc_id") < 1).select(
        (F.col("doc_id") + 1000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz tail")).alias("text"),
    ).unionAll(
        spark.createDataFrame(
            [(2001, "zork blap qwiggle fen marzipan uvula crox dapple")],
            "doc_id long, text string",
        )
    )
    src = str(tmp_path / "src")
    batch.coalesce(1).write.mode("append").parquet(src)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    dup = str(tmp_path / "dup")

    def run():
        _drain(dedup_stream.incremental_dedup_sink(
            spark.readStream.schema("doc_id long, text string").parquet(src),
            "dd_cw_idx", ckpt, out, dup,
        ), spark)

    def routed():
        dups = {
            (r.doc_id, r.corpus_id)
            for r in spark.read.parquet(dup).collect()
        }
        novel = {r.doc_id for r in spark.read.parquet(out).collect()}
        return dups, novel

    run()
    n_idx = spark.table("dd_cw_idx").count()
    dups1, novel1 = routed()
    assert 1000 in {d for d, _ in dups1} and novel1 == {2001}

    # forge the crash window: commit markers gone, pre-markers planted
    forge_crash_window(ckpt)
    run()
    assert spark.table("dd_cw_idx").count() == n_idx, "replay duplicated rows"
    dups2, novel2 = routed()
    assert dups2 == dups1, "recovery replay corrupted dup routing"
    assert novel2 == novel1, "recovery replay lost novel rows"

    spark.sql("DROP TABLE IF EXISTS dd_cw_idx")
    spark.sql("DROP TABLE IF EXISTS dd_cw_idx__meta")


def test_ann_stream_crash_window_replay_no_duplicate_rows(spark, tmp_path):
    """r10: ann_stream's two-marker protocol — a crash between the
    bucketed insert and the commit marker must not duplicate index rows
    when the batch replays in recovery mode."""
    import glob
    import os
    import time

    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.operators import ann_index
    from etl_bigquery_pipeline_spark.sources.readers import read_table
    from etl_bigquery_pipeline_spark.streaming import ann_stream

    emb = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") % 4 != 0)
    feed = emb.filter(F.col("vec_id") % 4 == 0)
    ann_index.build_lsh_index(base, "ann_cw_t", dim=64, bits=4, seed=42)
    src = str(tmp_path / "vsrc")
    feed.coalesce(1).write.mode("overwrite").parquet(src)
    ckpt = str(tmp_path / "vckpt")

    def run():
        _drain(ann_stream.incremental_ann_sink(
            spark.readStream.schema(feed.schema).parquet(src),
            "ann_cw_t", ckpt,
        ), spark)

    run()
    n = spark.table("ann_cw_t").count()
    assert n == emb.count()
    forge_crash_window(ckpt)
    run()
    assert spark.table("ann_cw_t").count() == n, "replay duplicated rows"
    marker_dir = os.path.join(ckpt, "__applied_batches")
    # no leaked pre-markers after the committed replay path
    leftovers = [
        x for x in os.listdir(marker_dir) if x.endswith("__inserting")
    ]
    assert leftovers == []

    spark.sql("DROP TABLE IF EXISTS ann_cw_t")
    spark.sql("DROP TABLE IF EXISTS ann_cw_t__meta")


def test_curation_stream_crash_window_recovery_preserves_routing(
    spark, sf_dir, tmp_path
):
    """A crash after the curation sink's band-index append but before its
    commit marker: the replay must route exactly as the crashed attempt
    did. Without recovery the curated doc probes its own fresh index rows
    and lands in dup_dir as (id, id), emptying the curated output."""
    from pyspark.sql import functions as F

    from etl_bigquery_pipeline_spark.operators import dedup
    from etl_bigquery_pipeline_spark.sources.readers import read_table
    from etl_bigquery_pipeline_spark.streaming import curation_stream

    base = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 100)
    )
    dedup.build_band_index(base, "cur_cw_idx")
    near = base.filter(F.col("doc_id") < 2).select(
        (F.col("doc_id") + 4000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz tail")).alias("text"),
    )
    long_text = " ".join(
        ["substantial content words repeated meaningfully"] * 10
    )
    feed = spark.createDataFrame(
        [(5001, long_text), (5002, "tiny")], "doc_id long, text string"
    )
    src = str(tmp_path / "src")
    near.unionAll(feed).coalesce(1).write.mode("append").parquet(src)
    ckpt = str(tmp_path / "ckpt")
    out, dup, rej = (str(tmp_path / d) for d in ("out", "dup", "rej"))

    def run():
        # a hand-set length model: sigmoid(ln(1 + n_chars) - 5) puts the
        # 480-char doc near 0.76 and the 4-char doc near 0.03
        _drain(curation_stream.curation_sink(
            spark.readStream.schema("doc_id long, text string").parquet(src),
            "cur_cw_idx", ckpt, out, dup, rej,
            quality_weights=[-5.0, 1.0, 0.0, 0.0],
            quality_threshold=0.5,
        ), spark)

    def routed():
        return (
            {(r.doc_id, r.corpus_id)
             for r in spark.read.parquet(dup).collect()},
            {r.doc_id for r in spark.read.parquet(out).collect()},
            {r.doc_id for r in spark.read.parquet(rej).collect()},
        )

    run()
    n_idx = spark.table("cur_cw_idx").count()
    dups1, curated1, rejects1 = routed()
    assert {d for d, _ in dups1} == {4000, 4001}
    assert curated1 == {5001} and rejects1 == {5002}

    forge_crash_window(ckpt)
    run()
    assert spark.table("cur_cw_idx").count() == n_idx, "replay duplicated rows"
    dups2, curated2, rejects2 = routed()
    assert dups2 == dups1, "recovery replay corrupted dup routing"
    assert curated2 == curated1, "recovery replay lost curated rows"
    assert rejects2 == rejects1

    spark.sql("DROP TABLE IF EXISTS cur_cw_idx")
    spark.sql("DROP TABLE IF EXISTS cur_cw_idx__meta")


def test_scd2_stream_keeps_history_after_crash_mid_swap(spark, tmp_path):
    """A crash between ParquetWarehouse.rewrite's two renames leaves the
    dimension parked at ``.__old`` next to a ``.__staging`` dir. The next
    fold must restore and extend that history, not take the table for
    missing and bootstrap over it."""
    import datetime as dt
    import os
    import shutil

    from etl_bigquery_pipeline_spark.sources.sinks import ParquetWarehouse
    from etl_bigquery_pipeline_spark.streaming import scd_stream

    wh = ParquetWarehouse(str(tmp_path / "wh"))
    src = str(tmp_path / "cdc_src")
    ckpt = str(tmp_path / "cdc_ckpt")
    schema = "k bigint, name string, bal double, change_ts timestamp"

    def run(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        scd_stream.scd2_stream_sink(
            spark.readStream.schema(schema).parquet(src),
            wh, "dim", ckpt, keys=["k"],
        ).awaitTermination()

    t1 = dt.datetime(2024, 1, 1, 10)
    run([(1, "a", 10.0, t1), (2, "b", 20.0, t1)])
    table = os.path.join(str(tmp_path / "wh"), "dim")
    shutil.copytree(table, table + ".__staging")
    os.rename(table, table + ".__old")

    run([(3, "c", 30.0, dt.datetime(2024, 6, 1, 9))])
    d = dt.date
    assert {tuple(r) for r in wh.read(spark, "dim").collect()} == {
        (1, "a", 10.0, d(2024, 1, 1), None, True),
        (2, "b", 20.0, d(2024, 1, 1), None, True),
        (3, "c", 30.0, d(2024, 6, 1), None, True),
    }
    assert not os.path.exists(table + ".__old")
    assert not os.path.exists(table + ".__staging")
