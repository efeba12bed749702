"""Structured Streaming: streaming masking + windowed/session aggregates.

Streams are bounded replays of the events fixture (file source +
availableNow trigger) so results are deterministic and comparable to batch.
"""

import pytest
from pyspark.sql import functions as F

from mysql_data_anonymizer_spark.blueprint import Blueprint
from mysql_data_anonymizer_spark.sources import files
import mysql_data_anonymizer_spark.streaming.stream_ops as ms


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Re-materialize events as a micros-timestamp parquet dir for readStream."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    files.read_table(spark, f"{sf_dir}/events.parquet", table_name="events").write.mode(
        "overwrite"
    ).parquet(path)
    return path


@pytest.fixture(scope="module")
def events_stream(spark, events_dir):
    batch = spark.read.parquet(events_dir)
    return spark.readStream.schema(batch.schema).parquet(events_dir)


def test_mask_stream_rejects_batch_df(spark, events):
    plan = Blueprint("events", lambda t: t.primary("event_id")).plan
    with pytest.raises(ValueError, match="streaming"):
        ms.mask_stream(events, plan)


def test_mask_stream_rejects_row_template(events_stream):
    bp = Blueprint(
        "events",
        lambda t: t.primary("event_id").column("props").replaceWith("row_#row#"),
    )
    with pytest.raises(ValueError, match="#row#"):
        ms.mask_stream(events_stream, bp.plan)


def test_mask_stream_masks_user_id(spark, events_stream, events_dir):
    bp = Blueprint(
        "events",
        lambda t: t.primary("event_id")
        .column("user_id")
        .replaceWith(F.col("user_id") + F.lit(500000)),
    )
    masked = ms.mask_stream(events_stream, bp.plan)
    ms.run_to_memory(masked, "masked_events")
    got = spark.sql("SELECT count(*) n, min(user_id) lo FROM masked_events").collect()[0]
    batch = spark.read.parquet(events_dir)
    assert got.n == batch.count()
    assert got.lo >= 500000


def test_tumbling_aggregates_match_batch(spark, events_stream, events_dir):
    ms.run_to_memory(ms.tumbling_aggregates(events_stream), "ev_tumbling")
    streamed = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM ev_tumbling").collect()
    }
    batch = (
        spark.read.parquet(events_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )
        .select(F.col("w.start").alias("ws"), "event_type", "n_events", "total_value")
    )
    expected = {(r.ws, r.event_type): (r.n_events, r.total_value) for r in batch.collect()}
    assert streamed == expected  # bounded replay: no late drops, exact parity


def test_sliding_windows_overlap(spark, events_stream):
    ms.run_to_memory(ms.sliding_counts(events_stream, "1 hour", "30 minutes"), "ev_sliding")
    rows = spark.sql("SELECT * FROM ev_sliding").collect()
    assert rows
    # every event lands in 2 overlapping windows: total count doubles
    total = sum(r.n_events for r in rows)
    per_window = spark.sql("SELECT sum(n_events) FROM ev_sliding").collect()[0][0]
    assert total == per_window
    starts = {r.window_start.minute for r in rows}
    assert starts == {0, 30}


def test_session_aggregates_run(spark, events_stream):
    ms.run_to_memory(ms.session_aggregates(events_stream, gap="30 minutes"), "ev_sessions")
    rows = spark.sql("SELECT * FROM ev_sessions").collect()
    assert rows
    assert all(r.session_end >= r.session_start for r in rows)
    assert all(r.n_events >= 1 for r in rows)


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data semantics, the watermark's actual contract: an event
    arriving in a later micro-batch, whose window end is already behind the
    watermark, must NOT be counted (its window state was finalized and
    evicted). Two files forced into separate micro-batches via
    maxFilesPerTrigger=1 + mtime ordering; append output mode emits only
    finalized windows."""
    import glob
    import os
    import shutil
    import uuid
    from datetime import datetime

    from pyspark.sql import functions as F

    from mysql_data_anonymizer_spark.streaming.stream_ops import tumbling_aggregates

    def write_single_file(rows, dest, mtime):
        df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
        tmp = str(tmp_path / f"stage_{uuid.uuid4().hex[:6]}")
        df.coalesce(1).write.parquet(tmp)
        part = glob.glob(f"{tmp}/part-*.parquet")[0]
        shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    t = lambda h, m: datetime(2024, 1, 1, h, m)
    stream_dir = tmp_path / "stream_in"
    stream_dir.mkdir()
    # batch 1 (on time): 3 events in [10:00, 10:10), then one at 11:00 that
    # pushes the watermark to 10:50 — far past that window's end
    write_single_file(
        [(t(10, 1), "click", 1.0), (t(10, 3), "click", 1.0),
         (t(10, 7), "click", 1.0), (t(11, 0), "click", 1.0)],
        str(stream_dir / "a.parquet"), mtime=1_000,
    )
    # batch 2 (on time): lets the advanced watermark take effect — window
    # state for [10:00, 10:10) is finalized and evicted at this batch's end
    write_single_file(
        [(t(11, 1), "click", 1.0)], str(stream_dir / "b.parquet"), mtime=2_000,
    )
    # batch 3 (late): an event for the long-finalized 10:00 window -> must
    # be dropped (numRowsDroppedByWatermark in the progress metrics)
    write_single_file(
        [(t(10, 5), "click", 99.0)], str(stream_dir / "c.parquet"), mtime=3_000,
    )

    schema = spark.read.parquet(str(stream_dir / "a.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir))
    )
    agg = tumbling_aggregates(stream, window="10 minutes", watermark="10 minutes")
    name = f"late_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")  # only watermark-finalized windows emit
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r.window_start: (r.n_events, float(r.total_value))
            for r in spark.table(name).collect()}
    assert t(10, 0) in rows, f"finalized window missing: {rows}"
    n, total = rows[t(10, 0)]
    assert n == 3 and total == 3.0, f"late event was not dropped: {rows}"


def test_mask_stream_foreachbatch_parquet_sink(spark, events_stream, tmp_path):
    """The streaming writeback path: a masked stream lands in parquet via
    foreachBatch (each micro-batch reuses the batch sink), read back and
    checked - user_id masked, event ids intact."""
    from pyspark.sql import functions as F

    from mysql_data_anonymizer_spark.blueprint import Blueprint
    from mysql_data_anonymizer_spark.streaming.stream_ops import mask_stream

    bp = Blueprint(
        "events",
        lambda t: t.primary("event_id")
        .column("user_id")
        .replaceWith(F.col("user_id") + F.lit(7_000_000)),
    )
    masked = mask_stream(events_stream, bp.plan)
    out_dir = str(tmp_path / "masked_events")

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    q = masked.writeStream.foreachBatch(sink).trigger(availableNow=True).start()
    q.awaitTermination(120)

    back = spark.read.parquet(out_dir)
    assert back.where(F.col("user_id") < 7_000_000).count() == 0
    assert back.count() > 0
    assert back.select("event_id").distinct().count() == back.count()


def test_streaming_dedup_drops_redelivered_events(spark, sf_dir, tmp_path):
    """Two deliveries of the same file -> dedup_stream emits each event_id
    exactly once (at-least-once source semantics)."""
    import os
    import uuid

    from mysql_data_anonymizer_spark.sources import files
    from mysql_data_anonymizer_spark.streaming.stream_ops import dedup_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stage = tmp_path / "replay"
    stage.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", stage / "a.parquet")
    os.symlink(f"{sf_dir}/events.parquet", stage / "b.parquet")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = files.normalize_nanos_ts(
        spark.readStream.schema(schema).parquet(str(stage)), ["ts"]
    )
    deduped = dedup_stream(stream, ["event_id"], watermark="30 minutes")
    name = f"t_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table(name)
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert got.count() == n_src  # 2x delivered, 1x emitted
    assert got.select("event_id").distinct().count() == n_src


def test_dedup_stream_rejects_batch_frame(spark, sf_dir):
    from mysql_data_anonymizer_spark.streaming.stream_ops import dedup_stream

    with pytest.raises(ValueError, match="streaming"):
        dedup_stream(spark.read.parquet(f"{sf_dir}/events.parquet"))


def test_streaming_foreachbatch_incremental_agg(spark, events_stream, events_dir, tmp_path):
    """Streaming IVM: a foreachBatch sink folds each micro-batch into a
    maintained per-user aggregate with operators.incremental.merge_agg_delta;
    after the bounded replay the maintained state must equal the batch
    aggregate over all events (merge == rebuild, across micro-batch
    boundaries)."""
    from mysql_data_anonymizer_spark.operators import incremental

    state_dir = str(tmp_path / "agg_state")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")

    def agg(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum(cents).alias("total_cents")
        )

    def fold(batch_df, batch_id):
        delta = agg(batch_df)
        try:
            state = batch_df.sparkSession.read.parquet(state_dir)
            merged = incremental.merge_agg_delta(
                state, delta, ["user_id"], ["n", "total_cents"]
            )
        except Exception:  # first batch: no state yet
            merged = delta
        # stage-then-swap: collect to driver-free temp write, then replace
        out = str(tmp_path / f"agg_state_next_{batch_id}")
        merged.write.mode("overwrite").parquet(out)
        batch_df.sparkSession.read.parquet(out).write.mode("overwrite").parquet(state_dir)

    q = (
        events_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option("maxFilesPerTrigger", 1)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    state = spark.read.parquet(state_dir)
    full = agg(spark.read.parquet(events_dir))
    assert state.exceptAll(full).count() == 0 and full.exceptAll(state).count() == 0


def test_checkpoint_restart_exactly_once_file_sink(spark, events_dir, tmp_path):
    """Kill-and-resume: a checkpointed file-sink query stopped mid-stream
    and restarted from the same checkpoint must deliver every input row
    exactly once — the recovery contract a production job relies on."""
    import time

    batch = spark.read.parquet(events_dir)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # stage the input as several files so progress is interruptible
    src = str(tmp_path / "src")
    batch.repartition(4).write.mode("overwrite").parquet(src)

    def start():
        stream = spark.readStream.schema(batch.schema).option(
            "maxFilesPerTrigger", 1
        ).parquet(src)
        return (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    q = start()
    # wait for at least one committed batch, then kill mid-stream
    deadline = time.time() + 60
    while time.time() < deadline:
        if q.lastProgress and q.lastProgress.get("sink", {}).get("numOutputRows", -1) != -1:
            break
        time.sleep(0.25)
    q.stop()
    q.awaitTermination(30)
    # resume from the same checkpoint and drain the rest
    q2 = start()
    deadline = time.time() + 120
    while time.time() < deadline:
        p = q2.lastProgress
        if p and p.get("numInputRows") == 0 and p.get("batchId", 0) > 0:
            break
        time.sleep(0.25)
    q2.stop()
    q2.awaitTermination(30)
    got = spark.read.parquet(out_dir)
    assert got.count() == batch.count()  # no loss, no duplication
    assert got.select("event_id").distinct().count() == batch.count()


def test_append_mode_emits_watermark_tie_window(spark, tmp_path):
    """Pin the watermark BOUNDARY semantics the STREAMING_CHAIN_SQL oracle
    depends on (ADVICE r4): in append mode, a window whose end lands
    EXACTLY on the final watermark (max event time - delay) IS emitted.
    The oracle therefore uses the inclusive `window_end <= watermark`
    comparison; if a Spark upgrade ever flips this to strict eviction,
    this test goes red before the driver's correctness gate does.

    Layout (30-min windows, 30-min delay): max ts = 11:30:00 exactly, so
    the final watermark is 11:00:00. Window [10:30, 11:00) has
    end == watermark — the tie. Windows ending after 11:00 stay withheld.
    """
    import uuid
    from datetime import datetime

    from mysql_data_anonymizer_spark.streaming.stream_ops import tumbling_aggregates

    t = lambda h, m: datetime(2024, 1, 1, h, m)
    rows = [
        (t(10, 5), "click", 1.0),   # window [10:00, 10:30): end < wm
        (t(10, 35), "click", 1.0),  # window [10:30, 11:00): end == wm (tie)
        (t(10, 45), "click", 1.0),  # same tie window
        (t(11, 5), "click", 1.0),   # window [11:00, 11:30): end > wm
        (t(11, 30), "click", 1.0),  # max ts; watermark = 11:00:00 exactly
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    stream_dir = str(tmp_path / "tie_in")
    df.coalesce(1).write.parquet(stream_dir)
    stream = spark.readStream.schema(df.schema).parquet(stream_dir)
    agg = tumbling_aggregates(stream, window="30 minutes", watermark="30 minutes")
    name = f"tie_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = {r.window_start for r in spark.table(name).collect()}
    assert t(10, 0) in emitted, f"pre-watermark window missing: {emitted}"
    assert t(10, 30) in emitted, (
        "tie window (end == watermark) was withheld — Spark's boundary "
        f"semantics changed; flip STREAMING_CHAIN_SQL back to strict <: {emitted}"
    )
    assert t(11, 0) not in emitted and t(11, 30) not in emitted, (
        f"unfinalized window leaked into append output: {emitted}"
    )


def test_streaming_jdbc_upsert_exactly_once(spark, sf_dir, tmp_path):
    """Streaming keyed writeback into Derby with exactly-once EFFECT: the
    same rows delivered in TWO micro-batches (at-least-once) through the
    foreachBatch MERGE-upsert sink (stream_ops.jdbc_upsert_sink) converge
    to one row per key, with the last write's values."""
    import os
    import uuid

    from mysql_data_anonymizer_spark.sources import files, jdbc, sinks
    from mysql_data_anonymizer_spark.streaming.stream_ops import jdbc_upsert_sink

    db_dir = str(tmp_path / "derby_ups")
    spark._jvm.java.lang.System.setProperty("derby.system.home", db_dir)  # noqa: SLF001
    cfg = jdbc.derby_config(db_dir, num_partitions=2)
    ev = files.read_table(spark, f"{sf_dir}/events.parquet", table_name="events")
    sl = ev.where(F.col("event_id") % 7 == 0).select("event_id", "event_type", "value")
    sinks.write_jdbc_staging(
        sl.limit(0), cfg.url, "evt_t", cfg.base_options(), staging="evt_t"
    )
    jdbc.run_control_ddl(spark, cfg, ['CREATE UNIQUE INDEX evt_t_pk ON evt_t ("event_id")'])

    stage = tmp_path / "ups_in"
    stage.mkdir()
    os.symlink(f"{sf_dir}/events.parquet", str(stage / "a.parquet"))
    os.symlink(f"{sf_dir}/events.parquet", str(stage / "b.parquet"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
        .where(F.col("event_id") % 7 == 0)
        .select("event_id", "event_type", "value")
    )
    q = (
        stream.writeStream.foreachBatch(
            jdbc_upsert_sink(cfg, "evt_t", key_cols=["event_id"],
                             set_cols=["event_type", "value"])
        )
        .queryName(f"ups_{uuid.uuid4().hex[:8]}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # progress metrics prove BOTH batches ran (the redelivery actually happened)
    assert len(q.recentProgress) >= 2
    back = jdbc.jdbc_reader(spark, cfg, "evt_t").collect()
    assert len(back) == sl.count()  # one row per key despite double delivery
    src = {r["event_id"]: (r["event_type"], r["value"]) for r in sl.collect()}
    got = {r["event_id"]: (r["event_type"], r["value"]) for r in back}
    assert got == src


def test_streaming_jdbc_upsert_checkpoint_restart(spark, sf_dir, tmp_path):
    """Kill-and-resume THROUGH the JDBC upsert sink: a checkpointed
    foreachBatch MERGE-upsert query stopped mid-stream and restarted from
    the same checkpoint must leave exactly one row per key with correct
    values — batch replay after the kill re-merges idempotently instead of
    duplicating (the recovery contract of a production writeback job)."""
    import time
    import uuid

    from mysql_data_anonymizer_spark.sources import files, jdbc, sinks
    from mysql_data_anonymizer_spark.streaming.stream_ops import jdbc_upsert_sink

    db_dir = str(tmp_path / "derby_rs")
    spark._jvm.java.lang.System.setProperty("derby.system.home", db_dir)  # noqa: SLF001
    cfg = jdbc.derby_config(db_dir, num_partitions=2)
    ev = files.read_table(spark, f"{sf_dir}/events.parquet", table_name="events")
    sl = ev.where(F.col("event_id") % 5 == 0).select("event_id", "event_type", "value")
    sinks.write_jdbc_staging(sl.limit(0), cfg.url, "evt_rs", cfg.base_options(), staging="evt_rs")
    jdbc.run_control_ddl(spark, cfg, ['CREATE UNIQUE INDEX evt_rs_pk ON evt_rs ("event_id")'])

    src = str(tmp_path / "src")
    ev.repartition(4).write.mode("overwrite").parquet(src)
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .where(F.col("event_id") % 5 == 0)
            .select("event_id", "event_type", "value")
        )
        return (
            stream.writeStream.foreachBatch(
                jdbc_upsert_sink(cfg, "evt_rs", key_cols=["event_id"],
                                 set_cols=["event_type", "value"])
            )
            .option("checkpointLocation", ckpt)
            .queryName(f"rs_{uuid.uuid4().hex[:8]}")
            .trigger(processingTime="0 seconds")
            .start()
        )

    q = start()
    deadline = time.time() + 60
    while time.time() < deadline:  # wait for >=1 committed batch, then kill
        if q.lastProgress and q.lastProgress.get("batchId", -1) >= 1:
            break
        time.sleep(0.25)
    q.stop()
    q.awaitTermination(30)
    q2 = start()
    deadline = time.time() + 120
    while time.time() < deadline:  # drain the remainder
        p = q2.lastProgress
        if p and p.get("numInputRows") == 0 and p.get("batchId", 0) > 0:
            break
        time.sleep(0.25)
    q2.stop()
    q2.awaitTermination(30)

    back = jdbc.jdbc_reader(spark, cfg, "evt_rs").collect()
    assert len(back) == sl.count()  # exactly one row per key across the restart
    src_rows = {r["event_id"]: (r["event_type"], r["value"]) for r in sl.collect()}
    got = {r["event_id"]: (r["event_type"], r["value"]) for r in back}
    assert got == src_rows


def test_stateful_tws_matches_batch_aggregate(spark, sf_dir, tmp_path):
    """Spark 4 transformWithStateInPandas (ValueState + MapState per user)
    on a bounded replay equals the batch GROUP BY. Skips where the
    protobuf-based streaming state runtime is absent (this container)."""
    import uuid

    import mysql_data_anonymizer_spark.streaming.stream_ops as so

    if not so.HAS_TWS_RUNTIME:
        pytest.skip("protobuf runtime for transformWithStateInPandas not installed")
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = spark.readStream.schema(batch.schema).parquet(f"{sf_dir}")
    agg = so.stateful_user_stats_tws(stream)
    name = f"tws_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {r.user_id: (r.n_events, r.n_types) for r in spark.table(name).collect()}
    want = {
        r.user_id: (r.n, r.t)
        for r in batch.groupBy("user_id").agg(
            F.count("*").alias("n"), F.countDistinct("event_type").alias("t")
        ).collect()
    }
    assert got == want


def test_tws_processor_contract_with_mocked_handle():
    """Unit contract for the transformWithStateInPandas processor body
    (stream_ops.make_user_stats_processor) with a MOCKED state handle — the
    accumulation logic (ValueState (n, total) + MapState per-type counts,
    cross-batch carryover, n_types from state not batch) runs without the
    protobuf state-server runtime, so the one env-gated operator keeps
    non-gated coverage."""
    import pandas as pd

    import mysql_data_anonymizer_spark.streaming.stream_ops as so

    class FakeValueState:
        def __init__(self):
            self._v = None

        def exists(self):
            return self._v is not None

        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    class FakeMapState:
        def __init__(self):
            self._m = {}

        def containsKey(self, k):
            return k in self._m

        def getValue(self, k):
            return self._m[k]

        def updateValue(self, k, v):
            self._m[k] = v

        def keys(self):
            return iter(self._m)

    class FakeHandle:
        def __init__(self):
            self.states = {}

        def getValueState(self, name, schema):
            return self.states.setdefault(name, FakeValueState())

        def getMapState(self, name, kschema, vschema):
            return self.states.setdefault(name, FakeMapState())

    proc = so.make_user_stats_processor()
    handle = FakeHandle()
    proc.init(handle)

    batch1 = pd.DataFrame(
        {"value": [1.0, 2.0, 3.0], "event_type": ["click", "click", "view"]}
    )
    (out1,) = list(proc.handleInputRows((7,), iter([batch1]), None))
    assert out1.iloc[0].to_dict() == {
        "user_id": 7, "n_events": 3, "total_value": 6.0, "n_types": 2,
    }

    # second batch: totals CARRY OVER through state; a repeated type must
    # not double-count n_types, a new type must raise it
    batch2 = pd.DataFrame({"value": [10.0], "event_type": ["purchase"]})
    batch3 = pd.DataFrame({"value": [0.5], "event_type": ["click"]})
    (out2,) = list(proc.handleInputRows((7,), iter([batch2, batch3]), None))
    assert out2.iloc[0].to_dict() == {
        "user_id": 7, "n_events": 5, "total_value": 16.5, "n_types": 3,
    }

    # state is per-key by construction: map contents reflect summed counts
    assert handle.states["types"]._m == {
        ("click",): (3,), ("view",): (1,), ("purchase",): (1,),
    }
    proc.close()


def test_left_outer_eviction_boundary(spark, tmp_path):
    """Pin the LEFT OUTER state-eviction boundary STREAMING_LEFT_JOIN_SQL
    depends on: an unmatched click NULL-extends iff
    click_ts + within < final watermark — STRICT at the tie, where the
    final watermark is the MIN across BOTH watermarked sides. Layout
    (within=10m, delay=30m): batch 2 carries a 12:00 click AND a 12:00
    view so BOTH sides' watermarks land on 11:30 (one-sided constructions
    pin nothing: the joint watermark would be the other side's).
      - click 10:40 (+10m = 10:50 < 11:30)  -> emitted NULL row
      - click 11:20 (+10m = 11:30 == wm)    -> the TIE: withheld
      - click 11:25 (+10m = 11:35 > wm)     -> withheld
    Two micro-batch files so the watermark actually advances; the trailing
    no-data batch performs the flush. If a Spark upgrade flips the tie to
    inclusive, this goes red before the driver's correctness gate does."""
    import uuid
    from datetime import datetime

    from mysql_data_anonymizer_spark.streaming.stream_ops import (
        stream_stream_left_join,
    )

    t = lambda h, m: datetime(2024, 1, 1, h, m)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    batch1 = spark.createDataFrame(
        [
            (1, t(10, 40), 7, "click"),
            (2, t(11, 20), 7, "click"),
            (3, t(11, 25), 7, "click"),
        ],
        schema,
    )
    batch2 = spark.createDataFrame(
        [(8, t(12, 0), 99, "click"), (9, t(12, 0), 98, "view")], schema
    )
    stage = tmp_path / "louter_stage"
    stage.mkdir()
    import os

    for i, b in enumerate([batch1, batch2]):
        tmp = tmp_path / f"w{i}"
        b.coalesce(1).write.parquet(str(tmp))
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        os.rename(str(tmp / part), str(stage / f"half_{i}.parquet"))
    stream = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    j = stream_stream_left_join(stream, "click", "view", within="10 minutes",
                                watermark="30 minutes")
    name = f"lo_tie_{uuid.uuid4().hex[:8]}"
    q = (
        j.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    emitted = {r.click_id for r in spark.table(name).collect()}
    assert 1 in emitted, f"pre-boundary unmatched click missing: {emitted}"
    assert 2 not in emitted, (
        "tie click (click_ts + within == watermark) was emitted — eviction "
        f"became inclusive; flip STREAMING_LEFT_JOIN_SQL to <=: {emitted}"
    )
    assert emitted == {1}, f"in-horizon click leaked: {emitted}"


def test_left_outer_join_one_empty_side_withholds_everything(spark, tmp_path):
    """Stream-stream LEFT OUTER with a completely EMPTY right side: the
    right watermark never advances, so the JOINT watermark stays at the
    floor and append mode withholds every left row — zero output, zero
    crash (VERDICT r6 #7 edge). This is the semantics an oracle naively
    NULL-extending unmatched rows would get wrong: Spark holds them until
    the right side's clock moves, which with no right data is never."""
    import os
    import uuid
    from datetime import datetime

    from mysql_data_anonymizer_spark.streaming.stream_ops import (
        stream_stream_left_join,
    )

    t = lambda h, m: datetime(2024, 1, 1, h, m)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    clicks_only = spark.createDataFrame(
        [(1, t(10, 0), 7, "click"), (2, t(11, 0), 8, "click"),
         (3, t(12, 0), 9, "click")],
        schema,
    )
    stage = tmp_path / "empty_side_stage"
    stage.mkdir()
    tmp = tmp_path / "w0"
    clicks_only.coalesce(1).write.parquet(str(tmp))
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.rename(str(tmp / part), str(stage / "all.parquet"))
    stream = (
        spark.readStream.schema(clicks_only.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    j = stream_stream_left_join(stream, "click", "view", within="10 minutes",
                                watermark="30 minutes")
    name = f"lo_empty_{uuid.uuid4().hex[:8]}"
    q = (
        j.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.table(name).count() == 0


def test_stateful_ewma_fifo_state_across_batches(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1): the per-user FIFO must
    carry the first batch's tail into the second batch's window and
    truncate to the last 20 values — equal to the batch shift-fold over
    the final 20 of all 25 events."""
    import pandas as pd
    from datetime import datetime, timedelta

    from mysql_data_anonymizer_spark.streaming.stream_ops import stateful_user_ewma

    t0 = datetime(2024, 1, 1)
    rows = [
        (i, t0 + timedelta(minutes=i), 1, float(i + 1)) for i in range(25)
    ]  # vm = (i+1) * 1e6
    schema = "event_id long, ts timestamp, user_id long, value double"
    b1 = spark.createDataFrame(rows[:15], schema)
    b2 = spark.createDataFrame(rows[15:], schema)
    b1.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "in" / "b1.parquet"))
    b2.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "in" / "b2.parquet"))
    # one file per trigger -> two stateful updates for the key
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "in" / "*"))
    )
    prepared = stream.select(
        "user_id", "ts", "event_id",
        (F.round(F.col("value") * 1000000.0, 0)).cast("long").alias("vm"),
    )
    out = stateful_user_ewma(prepared)
    q = (
        out.writeStream.format("memory")
        .queryName("t_ewma_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("t_ewma_state").orderBy(F.desc("n_events")).limit(1).collect()[0]
    assert got["n_events"] == 25 and got["n_window"] == 20
    # expected: values 6..25 (millionths), newest weight 2^19
    vals = [(i + 1) * 1_000_000 for i in range(5, 25)]
    num = sum(v << i for i, v in enumerate(vals))
    assert got["ewma_millionths"] == num // ((1 << 20) - 1)


def test_await_stream_deadline_stops_and_raises(spark):
    """A stream still running at its deadline is stopped and reported by
    its registry name — never left active behind a partial sink."""
    from mysql_data_anonymizer_spark import queries as Q

    q = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .writeStream.format("memory").queryName("t_deadline_rate").start()
    )
    try:
        with pytest.raises(TimeoutError, match="probe_unbounded"):
            Q._await_stream(spark, q, 2, name="probe_unbounded")
        assert not q.isActive
    finally:
        q.stop()


def test_bounded_replays_leave_no_stage_dirs(spark, sf_dir):
    """The replay harness removes the temp dirs it stages the fixture in."""
    import os
    import tempfile

    from mysql_data_anonymizer_spark import queries as Q

    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    for name in ("streaming_tumbling_agg", "streaming_dedup_index_probe"):
        Q.QUERIES[name](spark, sf_dir).count()
    leaked = sorted(e for e in set(os.listdir(tmp)) - before if e.startswith("mda_stream"))
    assert not leaked
