"""Structured Streaming tests: file-source ingest → silver merge, the
watermarked window agg, and stateful sessionization — all drained with
availableNow/processAllAvailable so they run deterministically in CI."""

from __future__ import annotations

import datetime as dt
import glob
import os
import sys

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

from securities_pricing_data_pipeline_spark.plans.pipeline import run  # noqa: E402
from securities_pricing_data_pipeline_spark.streaming.ingest import (  # noqa: E402
    dedup_event_stream,
    join_events_quotes_stream,
    stream_ingest_eod,
    windowed_event_stats_stream,
)
from securities_pricing_data_pipeline_spark.streaming.stateful import (  # noqa: E402
    sessionize_stream,
)
from securities_pricing_data_pipeline_spark.tables import Warehouse  # noqa: E402
from tests.fixtures import write_corrupt_eod_csv, write_eod_csv  # noqa: E402


def test_stream_ingest_matches_batch_semantics(spark, tmp_path):
    """The stream lands what the batch ``run`` lands for the same files,
    including a file whose damaged rows ON_ERROR='CONTINUE' skips whole:
    no half-parsed row reaches silver and no null-date partition appears."""
    landing = str(tmp_path / "landing")
    wh = Warehouse(str(tmp_path / "wh"))
    d1, d2, d3 = dt.date(2026, 2, 2), dt.date(2026, 2, 3), dt.date(2026, 2, 4)
    write_eod_csv(landing, d1)
    write_corrupt_eod_csv(landing, d1)
    write_eod_csv(landing, d2)

    q = stream_ingest_eod(spark, landing, wh, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    silver = spark.read.parquet(wh.silver)
    assert silver.count() == 104  # 51 valid keys per date + GOOD1, GOOD2
    assert silver.select("symbol", "trade_date").distinct().count() == 104
    rejects = spark.read.parquet(wh.reject)
    assert rejects.count() == 4  # 2 negative-volume rows per date

    # late file arrives → incremental micro-batch upserts only that date
    write_eod_csv(landing, d3)
    q2 = stream_ingest_eod(spark, landing, wh, str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    assert spark.read.parquet(wh.silver).count() == 155
    assert not glob.glob(
        os.path.join(wh.root, "**", "*__HIVE_DEFAULT_PARTITION__*"), recursive=True
    )

    batch_wh = Warehouse(str(tmp_path / "batch_wh"))
    for d in (d1, d2, d3):
        run(spark, batch_wh, landing, d)
    core = ["trade_date", "symbol", "open", "high", "low", "close", "volume"]
    for table, cols in (("silver", core), ("reject", core + ["reject_reason", "_src_file"])):
        streamed = spark.read.parquet(getattr(wh, table)).select(cols).collect()
        batched = spark.read.parquet(getattr(batch_wh, table)).select(cols).collect()
        assert len(streamed) == len(batched)
        assert set(streamed) == set(batched), table


def test_windowed_stream_matches_batch(spark, tmp_path):
    rows = [
        (1, dt.datetime(2026, 1, 1, 10, 5), "click", 1.0),
        (2, dt.datetime(2026, 1, 1, 10, 55), "click", 2.0),
        (3, dt.datetime(2026, 1, 1, 11, 5), "view", 4.0),
    ]
    schema = "event_id long, event_time timestamp, event_type string, value double"
    src = str(tmp_path / "events_src")
    spark.createDataFrame(rows, schema).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    out = windowed_event_stats_stream(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("win_stats")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start_epoch, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM win_stats").collect()
    }
    # batch twin over the same frame must agree exactly
    batch = windowed_event_stats_stream(spark.read.parquet(src))
    expected = {
        (r.window_start_epoch, r.event_type): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    assert got == expected
    assert got[(1767261600, "click")] == (2, 3.0)  # 10:00 window


def test_watermark_drops_data_later_than_threshold(spark, tmp_path):
    """Run 1 advances the watermark to 11:20 (max 12:20 − 1h, persisted in
    the checkpoint); run 2 delivers a row 35 min late (kept, inside the
    watermark) and one 4+ h late (dropped by the stateful aggregation)."""
    schema = "event_id long, event_time timestamp, event_type string, value double"
    src = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    emitted: list[tuple] = []

    def run_drain():
        stream = spark.readStream.schema(schema).parquet(src)

        def capture(batch, batch_id):
            emitted.extend(
                (r.window_start_epoch, r.event_type, r.n_events, r.total_value)
                for r in batch.collect()
            )

        q = (
            windowed_event_stats_stream(stream, watermark="1 hour")
            .writeStream.foreachBatch(capture)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    b1 = [
        (1, dt.datetime(2026, 1, 1, 12, 10), "click", 1.0),
        (2, dt.datetime(2026, 1, 1, 12, 20), "click", 2.0),
    ]
    spark.createDataFrame(b1, schema).write.parquet(src)
    run_drain()

    emitted.clear()
    b2 = [
        (3, dt.datetime(2026, 1, 1, 11, 45), "click", 8.0),   # 35 min late: inside watermark
        (4, dt.datetime(2026, 1, 1, 8, 0), "click", 100.0),   # hours late: beyond watermark
    ]
    spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
    run_drain()

    windows = {e[0]: (e[2], e[3]) for e in emitted if e[1] == "click"}
    assert windows.get(1767265200) == (1, 8.0)  # 11:00 window updated
    assert 1767254400 not in windows            # 8:00 window never materializes


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """The watermarked stream-stream time-range join must produce exactly
    the batch join's rows once both streams drain."""
    e_schema = "event_id long, symbol string, event_time timestamp"
    q_schema = "symbol string, quote_time timestamp, price double"
    t = dt.datetime(2026, 1, 1, 12, 0)
    m = dt.timedelta
    events = [
        (1, "A", t),                      # quotes at 11:10(out), 11:30, 12:00
        (2, "A", t + m(minutes=90)),      # 13:30: quote 13:00 in window
        (3, "B", t),                      # no B quotes in window
    ]
    quotes = [
        ("A", t - m(minutes=50), 10.0),
        ("A", t - m(minutes=30), 11.0),
        ("A", t, 12.0),
        ("A", t + m(minutes=60), 13.0),
        ("B", t + m(minutes=30), 99.0),   # after event 3 → excluded
    ]
    e_src, q_src = str(tmp_path / "ev"), str(tmp_path / "qt")
    spark.createDataFrame(events, e_schema).write.parquet(e_src)
    spark.createDataFrame(quotes, q_schema).write.parquet(q_src)

    batch = join_events_quotes_stream(
        spark.read.parquet(e_src), spark.read.parquet(q_src), max_delay_minutes=45
    )
    want = sorted((r.event_id, r.quote_time, r.price) for r in batch.collect())
    assert want == [
        (1, t - m(minutes=30), 11.0),
        (1, t, 12.0),
        (2, t + m(minutes=60), 13.0),
    ]

    got: list[tuple] = []
    q = (
        join_events_quotes_stream(
            spark.readStream.schema(e_schema).parquet(e_src),
            spark.readStream.schema(q_schema).parquet(q_src),
            max_delay_minutes=45,
        )
        .writeStream.foreachBatch(
            lambda b, _: got.extend((r.event_id, r.quote_time, r.price) for r in b.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(got) == want


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Redelivered event_ids inside the watermark horizon collapse to the
    first occurrence, including across micro-batch (drain) boundaries."""
    schema = "event_id long, event_time timestamp, event_type string, value double"
    src = str(tmp_path / "dedup_src")
    ckpt = str(tmp_path / "dedup_ckpt")
    emitted: list[tuple] = []

    def drain():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            dedup_event_stream(stream)
            .writeStream.foreachBatch(
                lambda b, _: emitted.extend((r.event_id, r.value) for r in b.collect())
            )
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    t = dt.datetime(2026, 1, 1, 12, 0)
    b1 = [
        (1, t, "click", 1.0),
        (1, t, "click", 1.0),  # same-batch duplicate
        (2, t + dt.timedelta(minutes=5), "view", 2.0),
    ]
    spark.createDataFrame(b1, schema).write.parquet(src)
    drain()

    b2 = [
        (2, t + dt.timedelta(minutes=5), "view", 2.0),  # cross-batch redelivery
        (3, t + dt.timedelta(minutes=10), "click", 3.0),
    ]
    spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
    drain()

    assert sorted(emitted) == [(1, 1.0), (2, 2.0), (3, 3.0)]

    # batch frames fall back to plain dropDuplicates — same output
    batch = dedup_event_stream(spark.createDataFrame(b1 + b2, schema))
    assert sorted((r.event_id, r.value) for r in batch.collect()) == [(1, 1.0), (2, 2.0), (3, 3.0)]


def test_sessionize_stream(spark, tmp_path):
    t0 = dt.datetime(2026, 1, 1, 9, 0)
    rows = [
        (7, t0, 1.0),
        (7, t0 + dt.timedelta(minutes=10), 2.0),
        (7, t0 + dt.timedelta(minutes=90), 5.0),  # gap > 30min → new session
        (9, t0, 3.0),
    ]
    schema = "user_id long, event_time timestamp, value double"
    src = str(tmp_path / "sess_src")
    spark.createDataFrame(rows, schema).write.parquet(src)

    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sessions").collect()
    # with one drained trigger, only sessions CLOSED by a later event emit;
    # user 7's first session (2 events, value 3.0) closed when the +90min
    # event arrived in the same batch
    closed = {(r.user_id, r.n_events, r.total_value) for r in got}
    assert (7, 2, 3.0) in closed


def test_transform_with_state_running_totals(spark, tmp_path):
    """Two microbatches through the Spark 4 stateful-processor API: state
    carries across batches, per-user totals match the batch aggregate.

    transformWithState's control channel is protobuf-serialized; skip
    when google.protobuf is not importable (this container ships no
    protobuf and installs are off-limits)."""
    pytest.importorskip("google.protobuf.descriptor")
    import datetime as dt

    from securities_pricing_data_pipeline_spark.streaming.stateful import (
        running_totals_stream,
    )

    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    schema = "user_id long, event_time timestamp, value double"
    src = str(tmp_path / "twstate_src")
    b1 = [
        (1, dt.datetime(2026, 1, 1, 10, 0), 1.5),
        (1, dt.datetime(2026, 1, 1, 10, 1), 2.5),
        (2, dt.datetime(2026, 1, 1, 10, 2), 10.0),
    ]
    spark.createDataFrame(b1, schema).write.mode("append").parquet(src)
    ckpt = str(tmp_path / "twstate_ckpt")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            running_totals_stream(stream)
            .writeStream.format("memory")
            .queryName("tw_totals")
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            r.user_id: (r.n_events, r.total_value)
            for r in spark.sql("SELECT * FROM tw_totals").collect()
        }

    got = run_once()
    assert got == {1: (2, 4.0), 2: (1, 10.0)}

    # batch 2 arrives: state must accumulate, not reset
    b2 = [(1, dt.datetime(2026, 1, 1, 11, 0), 6.0), (3, dt.datetime(2026, 1, 1, 11, 1), 7.0)]
    spark.createDataFrame(b2, schema).write.mode("append").parquet(src)
    try:
        got2 = run_once()
        assert got2[1] == (3, 10.0)
        assert got2[3] == (1, 7.0)
    finally:
        if old:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


def test_stream_cdc_upsert_matches_batch_lww(spark):
    """The foreachBatch CDC apply (8-file multi-batch replay) lands on
    exactly the batch last-writer-wins table, and cleans up its feed and
    state directories."""
    from pathlib import Path

    from securities_pricing_data_pipeline_spark.queries.helpers import load
    from securities_pricing_data_pipeline_spark.queries.streamq import (
        stream_events_cdc_upsert,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = {
        r.user_id: (r.last_ts, r.last_event_id, r.last_event_type, r.last_value)
        for r in stream_events_cdc_upsert(spark, sf_dir).collect()
    }
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    want = {
        r.user_id: (r.ts, r.event_id, r.event_type, r.value)
        for r in ev.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert got == want
    leftovers = list(
        Path("/root/repo/spark-warehouse").glob("gate_cdc_*")
    )
    assert leftovers == []


def test_stream_cdc_upsert_restart_from_checkpoint(spark, tmp_path):
    """Kill the CDC apply mid-replay and restart it from the checkpoint:
    the final serving table must be IDENTICAL to an uninterrupted run —
    the restart-safety the operator's docstring claims, actually
    exercised. The injected failure aborts batch 3 on the first attempt;
    the restarted query re-delivers it from the checkpoint (at-least-once
    foreachBatch), and last-writer-wins under a total order makes the
    replayed merge idempotent."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from securities_pricing_data_pipeline_spark.queries.helpers import load

    sf_dir = "/root/testdata/sf0.001"
    feed = str(tmp_path / "feed")
    state = tmp_path / "state"
    ckpt = str(tmp_path / "ckpt")

    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type", "value"
    )
    ev.repartition(8, "user_id").write.parquet(feed)

    def lww(df):
        return (
            df.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "event_type", "value")).alias("s"))
            .select("user_id", "s.ts", "s.event_id", "s.event_type", "s.value")
        )

    crashed = {"armed": True}

    def merge(batch, batch_id):
        if batch_id == 3 and crashed["armed"]:
            crashed["armed"] = False
            raise RuntimeError("injected mid-replay crash")
        s = batch.sparkSession
        merged = lww(batch)
        if state.exists():
            merged = lww(s.read.parquet(str(state)).unionByName(merged))
        merged.localCheckpoint(eager=True).write.mode("overwrite").parquet(str(state))

    def start():
        return (
            spark.readStream.schema(spark.read.parquet(feed).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
            .writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start()
    with pytest.raises(StreamingQueryException, match="injected"):
        q1.awaitTermination()
    assert state.exists()  # batches 0-2 landed before the kill
    q2 = start()  # resume from checkpoint; batch 3 is re-delivered
    q2.awaitTermination()

    got = {tuple(r) for r in spark.read.parquet(str(state)).collect()}
    want = {tuple(r) for r in lww(ev).collect()}
    assert got == want


def test_late_audit_drops_stragglers_and_matches_model(spark):
    """The late-audit gate's watermark must genuinely bite: batch-3
    stragglers older than the batch-1 horizon are dropped by the state
    store (observable in numRowsDroppedByWatermark), and the emitted
    window set is exactly the documented filter/eviction model."""
    from securities_pricing_data_pipeline_spark.queries.streamq import _run_late_audit

    sf = "/root/testdata/sf0.001"
    name, dropped = _run_late_audit(spark, sf)
    got = {
        (r.window_start_epoch, r.event_type): (r.n_events, r.total_value)
        for r in spark.table(name).collect()
    }
    assert dropped > 0  # the watermark actually dropped late state groups

    # batch model in plain DataFrame code: batch-2 rows (event_id % 3 == 2)
    # survive iff window end > max(batch-0 event-time ms) - 45 min; only
    # windows with end <= max(all event-time ms) - 45 min emit
    from securities_pricing_data_pipeline_spark.queries.helpers import load

    ev = load(spark, sf, "events").select(
        "event_id",
        "event_type",
        "value",
        F.expr("ts div 1000").alias("us"),
        (F.col("event_id") % 3).alias("b"),
    )
    wm2 = (
        ev.filter("b = 0").agg(F.max("us")).collect()[0][0] // 1000 - 45 * 60000
    ) * 1000
    wmf = (ev.agg(F.max("us")).collect()[0][0] // 1000 - 45 * 60000) * 1000
    wend = (F.expr("us div 3600000000") + 1) * F.lit(3600000000)
    kept = ev.filter((F.col("b") <= 1) | (wend > F.lit(wm2))).filter(
        wend <= F.lit(wmf)
    )
    want = {
        (r.window_start_epoch, r.event_type): (r.n_events, r.total_value)
        for r in kept.groupBy(
            (F.expr("us div 3600000000") * 3600).alias("window_start_epoch"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("total_value"),
        )
        .collect()
    }
    assert got == want


def test_cusum_fn_state_carries_across_batches():
    """Hand-checked online Page–Hinkley across two micro-batches (no
    Spark needed — drive the stateful fn with a fake GroupState):
    batch 1 values 51, 49, 52 → x = +100, −100, +200 → M = 100, 0, 300?
    No: M = 100, 0, 200; run_min = 0 throughout; PH = 100, 0, 200.
    Batch 2 value 48 → x = −200 → M = 0, PH = 0. State must carry
    (M, run_min, n, alarms) exactly; the concatenated result equals one
    pass over all four values."""
    import pandas as pd

    from securities_pricing_data_pipeline_spark.streaming.stateful import cusum_fn

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    st = FakeState()

    def batch(vals, ts0):
        return pd.DataFrame(
            {
                "event_type": ["click"] * len(vals),
                "ts": range(ts0, ts0 + len(vals)),
                "event_id": range(ts0, ts0 + len(vals)),
                "value": vals,
            }
        )

    out1 = list(cusum_fn(("click",), iter([batch([51.0, 49.0, 52.0], 0)]), st))
    assert st._v == (200, 0, 3, 0)
    r1 = out1[0].iloc[0]
    assert (r1.n_seen, r1.m_units, r1.ph_units, r1.n_alarms) == (3, 200, 200, 0)

    out2 = list(cusum_fn(("click",), iter([batch([48.0], 10)]), st))
    assert st._v == (0, 0, 4, 0)
    r2 = out2[0].iloc[0]
    assert (r2.n_seen, r2.m_units, r2.ph_units, r2.n_alarms) == (4, 0, 0, 0)


def test_lsh_dedup_fn_state_carries_across_batches():
    """The per-bucket min-id state must carry across micro-batches and
    flag in-batch AND cross-batch later arrivals (no Spark needed —
    drive the stateful fn with a fake GroupState): batch 1 brings ids
    7, 3 into one bucket → 7 flags against 3, state = 3; batch 2 brings
    ids 9, 1 → 1 flags nothing (it is the new bucket minimum) and 9
    flags against min(3, 1) = 1 — id order, not arrival order, defines
    "earlier", so the kernel matches the batch closed form even on a
    feed that violates the id-ranged batching invariant; state = 1."""
    import pandas as pd

    from securities_pricing_data_pipeline_spark.streaming.stateful import lsh_dedup_fn

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    st = FakeState()

    def batch(ids):
        return pd.DataFrame(
            {"band": [0] * len(ids), "bkey": ["k"] * len(ids), "doc_id": ids}
        )

    out1 = list(lsh_dedup_fn((0, "k"), iter([batch([7, 3])]), st))[0]
    assert st._v == (3,)
    assert list(zip(out1.doc_id, out1.matched_id)) == [(7, 3)]

    out2 = list(lsh_dedup_fn((0, "k"), iter([batch([9, 1])]), st))[0]
    assert st._v == (1,)
    assert list(zip(out2.doc_id, out2.matched_id)) == [(9, 1)]

    # ADVICE r14 empty-batch guard (mirrors emb_stats_fn's): an empty
    # iterator or a zero-row frame must emit nothing and leave state
    # untouched rather than IndexError on ids[0] — unreachable under
    # NoTimeout today, but a timeout/filter change must not crash.
    assert list(lsh_dedup_fn((0, "k"), iter([]), st)) == []
    assert list(lsh_dedup_fn((0, "k"), iter([batch([])]), st)) == []
    assert st._v == (1,)


def test_stream_dedup_incremental_matches_batch_closed_form(spark):
    """The drained streaming gate over the real 4-batch feed must equal
    the batch closed form computed directly with the package's own
    batch machinery (signature band equality, min earlier id) — the
    stream/batch twin contract every streaming gate query carries."""
    from pyspark.sql import functions as F

    from securities_pricing_data_pipeline_spark.llmdata.dedup import (
        minhash_signatures,
        shingles,
    )
    from securities_pricing_data_pipeline_spark.queries.helpers import load
    from securities_pricing_data_pipeline_spark.queries.streamq import (
        stream_dedup_incremental,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r.doc_id: (r.is_dup, r.first_dup_of)
        for r in stream_dedup_incremental(spark, sf).collect()
    }
    sig = minhash_signatures(
        shingles(load(spark, sf, "documents")), id_col="doc_id", portable=True
    )
    rpb = 4
    bexpr = F.array(
        *[
            F.concat_ws(
                ",",
                *[
                    F.element_at("signature", i * rpb + j + 1).cast("string")
                    for j in range(rpb)
                ],
            )
            for i in range(16)
        ]
    )
    b = sig.select(F.col("id").alias("doc_id"), F.posexplode(bexpr))
    pairs = b.alias("a").join(
        b.alias("b"),
        (F.col("a.pos") == F.col("b.pos"))
        & (F.col("a.col") == F.col("b.col"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    want_rows = (
        pairs.groupBy(F.col("b.doc_id").alias("doc_id"))
        .agg(F.min("a.doc_id").alias("first_dup_of"))
        .collect()
    )
    want = {r.doc_id: r.first_dup_of for r in want_rows}
    n_docs = load(spark, sf, "documents").count()
    assert len(got) == n_docs
    for did, (is_dup, fdo) in got.items():
        assert is_dup == (did in want)
        assert fdo == want.get(did)


def test_stream_docs_quality_gate_matches_batch_closed_form(spark):
    """The drained 2-batch admission table must equal the batch closed
    form computed with the package's own batch gates (gopher_rules ⋈
    lang_id → per-(language, verdict) counts) — the stream/batch twin
    contract every streaming gate query carries (VERDICT r12 hygiene;
    stateless gates are arrival-order independent, so equality is
    row-for-row exact)."""
    from pyspark.sql import functions as F

    from securities_pricing_data_pipeline_spark.llmdata.text import (
        gopher_rules,
        lang_id,
    )
    from securities_pricing_data_pipeline_spark.queries.helpers import load
    from securities_pricing_data_pipeline_spark.queries.streamq import (
        stream_docs_quality_gate,
    )

    sf = "/root/testdata/sf0.001"
    got = sorted(
        stream_docs_quality_gate(spark, sf).collect(),
        key=lambda r: (r.pred_lang, r.gopher_pass),
    )
    docs = load(spark, sf, "documents").select("doc_id", "text")
    want = sorted(
        gopher_rules(docs)
        .select("doc_id", "n_words", "gopher_pass")
        .join(lang_id(docs), "doc_id")
        .groupBy("pred_lang", "gopher_pass")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").cast("long").alias("total_words"),
        )
        .collect(),
        key=lambda r: (r.pred_lang, r.gopher_pass),
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_stream_emb_outlier_gate_matches_batch_closed_form(spark):
    """The drained 3-batch per-centroid stat table must equal the batch
    closed form computed with the package's own batch machinery
    (nearest_centroid assignment + exact-unit aggregation) — the
    stream/batch twin contract, with every compared value either an
    exact integer or a deterministic double chain from integer units."""
    from pyspark.sql import functions as F

    from securities_pricing_data_pipeline_spark.llmdata.similarity import (
        cosine_with_norms,
        nearest_centroid,
        norm_grid,
    )
    from securities_pricing_data_pipeline_spark.queries.streamq import (
        stream_emb_outlier_gate,
    )
    from securities_pricing_data_pipeline_spark.streaming.stateful import (
        EMB_OUTLIER_FLAG_UNITS,
    )

    sf = "/root/testdata/sf0.001"
    got = [tuple(r) for r in stream_emb_outlier_gate(spark, sf).collect()]

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cent_vec"),
        norm_grid(F.col("embedding")).alias("cent_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("vec"),
        norm_grid(F.col("embedding")).alias("norm"),
    )
    units = (
        nearest_centroid(c, cents)
        .join(c, "id")
        .join(F.broadcast(cents), "centroid_id")
        .select(
            "centroid_id",
            F.round(
                cosine_with_norms(
                    F.col("vec"), F.col("cent_vec"), F.col("norm"), F.col("cent_norm")
                )
                * 1e12
            )
            .cast("long")
            .alias("u"),
        )
    )
    want = [
        tuple(r)
        for r in units.groupBy("centroid_id")
        .agg(
            F.count("*").alias("n_members"),
            F.sum((F.col("u") < EMB_OUTLIER_FLAG_UNITS).cast("long")).alias(
                "n_flagged"
            ),
            (F.min("u").cast("double") / F.lit(1e12)).alias("min_cos"),
            (
                F.sum("u").cast("double")
                / F.count("*").cast("double")
                / F.lit(1e12)
            ).alias("mean_cos"),
        )
        .orderBy("centroid_id")
        .collect()
    ]
    assert got == want
    assert sum(r[1] for r in got) == emb.count()  # every vector assigned
