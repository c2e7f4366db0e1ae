"""Structured Streaming parity: every streamed pipeline must equal its
batch twin (the central correctness property), plus stateful update-mode
semantics, per-trigger top-k, the idempotent sink, and a live socket
source end-to-end."""

from __future__ import annotations

import os
import socket
import threading
import time

import pytest
from pyspark.sql import functions as F

from spark_streaming_spark.operators import windows as WIN
from spark_streaming_spark.operators.blacklist import make_blacklist
from spark_streaming_spark.operators.wordcount import word_count
from spark_streaming_spark.sources.batch import load_table
from spark_streaming_spark.streaming import replay
from spark_streaming_spark.streaming.pipelines import (
    blacklist_stream,
    sliding_hot_words,
    top3_per_window_foreach_batch,
    wordcount_stream,
)
from tests.conftest import SF_DIR


def _as_sets(df):
    return {tuple(r) for r in df.collect()}


def test_stream_equals_batch_wordcount(spark):
    docs = load_table(spark, SF_DIR, "documents")
    batch = word_count(docs)
    d = replay.chunk_to_dir(docs, 4)
    try:
        streamed = replay.run_to_memory(
            wordcount_stream(replay.stream_from_dir(spark, d)), "complete"
        )
        assert _as_sets(streamed) == _as_sets(batch)
    finally:
        replay.cleanup(d)


def test_stream_equals_batch_blacklist(spark):
    events = load_table(spark, SF_DIR, "events")
    bl = make_blacklist(load_table(spark, SF_DIR, "customer"))
    batch = blacklist_stream(events, bl)
    d = replay.chunk_to_dir(events, 3)
    try:
        streamed = replay.run_to_memory(
            blacklist_stream(replay.stream_from_dir(spark, d), bl), "append"
        )
        assert _as_sets(streamed) == _as_sets(batch)
    finally:
        replay.cleanup(d)


def test_stream_equals_batch_sliding_windows(spark):
    events = load_table(spark, SF_DIR, "events")
    batch = WIN.sliding_counts(events)
    d = replay.chunk_to_dir(events, 3)
    try:
        streamed = replay.run_to_memory(
            sliding_hot_words(replay.stream_from_dir(spark, d)), "complete"
        )
        assert _as_sets(streamed) == _as_sets(batch)
    finally:
        replay.cleanup(d)


def test_update_mode_emits_deltas_converging_to_batch(spark):
    """update-mode state store ≡ updateStateByKey: the last emitted count
    per key equals the batch total."""
    docs = load_table(spark, SF_DIR, "documents")
    d = replay.chunk_to_dir(docs, 4)
    try:
        updates = replay.run_to_memory(
            wordcount_stream(replay.stream_from_dir(spark, d)), "update"
        )
        # multiple rows per word (one per trigger that changed it);
        # final state = max cnt (counts are monotone)
        final = updates.groupBy("word").agg(F.max("cnt").alias("cnt"))
        assert _as_sets(final) == _as_sets(word_count(docs))
    finally:
        replay.cleanup(d)


def test_foreach_batch_top3_ranking(spark):
    """Per-trigger ranked top-3 (Top3HotProduct pattern) on a batch from
    the sliding aggregate."""
    events = load_table(spark, SF_DIR, "events")
    agg = WIN.sliding_counts(events)
    ranked = top3_per_window_foreach_batch(3)(agg, 0)
    per_window = ranked.groupBy("w_start", "w_end").agg(F.count("*").alias("n"))
    assert per_window.filter(F.col("n") > 3).count() == 0
    assert ranked.filter(F.col("rank") > 3).count() == 0


def test_idempotent_sink_no_dupes_on_replay(spark, tmp_path):
    """Re-running the whole stream from scratch (fresh checkpoint, same
    sink dir) must not duplicate data — epochs overwrite their own
    partitions."""
    docs = load_table(spark, SF_DIR, "documents")
    d = replay.chunk_to_dir(docs, 3)
    out = str(tmp_path / "sink")
    try:
        for _ in range(2):  # second run simulates a full replay
            q = (
                replay.stream_from_dir(spark, d)
                .writeStream.foreachBatch(replay.epoch_writer(out))
                .option("checkpointLocation", str(tmp_path / f"ckpt_{_}"))
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
        written = spark.read.parquet(out)
        assert written.count() == docs.count()
    finally:
        replay.cleanup(d)


def test_socket_source_end_to_end(spark):
    """Reference pipeline #1 (socket word count) live: serve lines over
    TCP, stream-read them, check counts."""
    lines = [b"hello world\n", b"hello you\n", b"hello me\n"]
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)
    stop = threading.Event()

    def serve():
        conn, _ = server.accept()
        for ln in lines:
            conn.sendall(ln)
        stop.wait(30)  # keep the connection open until the query stops
        conn.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    stream = (
        spark.readStream.format("socket")
        .option("host", "127.0.0.1").option("port", port).load()
    )
    counts = word_count(stream, text_col="value")
    q = (
        counts.writeStream.format("memory").queryName("socket_wc")
        .outputMode("complete").start()
    )
    try:
        deadline = time.time() + 60
        expected = {("hello", 3), ("me", 1), ("world", 1), ("you", 1)}
        got = set()
        while time.time() < deadline:
            q.processAllAvailable()
            got = {tuple(r) for r in spark.table("socket_wc").collect()}
            if got == expected:
                break
            time.sleep(0.5)
        assert got == expected, f"socket stream produced {got}"
    finally:
        q.stop()
        stop.set()
        server.close()


def test_streamed_top3_equals_batch(spark):
    """Full Top3HotProduct parity pipeline: streamed sliding-window agg +
    foreachBatch ranking into a distributed parquet sink must equal the
    batch hot_words_per_window answer."""
    events = load_table(spark, SF_DIR, "events")
    d = replay.chunk_to_dir(events, 3)
    try:
        streamed = replay.run_to_parquet(
            sliding_hot_words(replay.stream_from_dir(spark, d)),
            "complete", state_partitions=4,
            batch_transform=lambda df: WIN.rank_top_k(df, 3),
        )
        assert _as_sets(streamed) == _as_sets(WIN.hot_words_per_window(events))
    finally:
        replay.cleanup(d)


def test_stream_stream_join_equals_batch(spark):
    """Stream-stream interval self-join (click→purchase funnel) — a
    capability the DStream reference could not express — must equal the
    batch join over the same bounded input."""
    from spark_streaming_spark.operators.conversions import (
        click_purchase_conversions,
    )

    events = load_table(spark, SF_DIR, "events")
    d = replay.chunk_to_dir(events, 3)
    try:
        streamed = replay.run_to_parquet(
            click_purchase_conversions(replay.stream_from_dir(spark, d)),
            "append", state_partitions=4,
        )
        assert _as_sets(streamed) == _as_sets(click_purchase_conversions(events))
    finally:
        replay.cleanup(d)


def test_progress_listener_records_batches(spark):
    """Monitoring parity (SURVEY.md §2.9): a StreamingQueryListener
    records per-micro-batch progress; the stability criterion the
    reference could only eyeball is computable."""
    from spark_streaming_spark.streaming import monitor

    docs = load_table(spark, SF_DIR, "documents")
    d = replay.chunk_to_dir(docs, 3)
    rec = monitor.attach(spark)
    try:
        replay.run_to_memory(
            wordcount_stream(replay.stream_from_dir(spark, d)), "complete"
        ).collect()
        # listener events are delivered asynchronously
        deadline = time.time() + 30
        while time.time() < deadline and len(rec.log.batches) < 3:
            time.sleep(0.5)
        report = monitor.stability_report(rec.log, trigger_interval_ms=10**9)
        assert report["n_batches"] >= 3, report
        assert report["total_input_rows"] >= docs.count()
        assert report["stable"]
    finally:
        monitor.detach(spark, rec)
        replay.cleanup(d)


def test_observed_metrics_on_stream(spark):
    """``df.observe`` (SURVEY.md §2.9 monitoring): named aggregate
    metrics computed INSIDE the streaming plan and delivered with each
    batch's QueryProgress — pipeline health counters (rows, value sums)
    without a second query or a sink round-trip. The per-batch observed
    counts must sum to exactly the input size: metrics ride the same
    exactly-once batch boundary as the data."""
    from pyspark.sql import functions as F

    events = load_table(spark, SF_DIR, "events")
    d = replay.chunk_to_dir(events, 3)
    ckpt = replay.scratch_dir("obs_ckpt_")
    try:
        stream = replay.stream_from_dir(spark, d)
        obs = stream.observe(
            "ingest",
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").cast("decimal(38,2)"))
            .cast("double").alias("sum_value"),
        )
        q = (
            obs.writeStream.format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        per_batch = [
            p["observedMetrics"]["ingest"]
            for p in q.recentProgress
            if p["observedMetrics"] and "ingest" in p["observedMetrics"]
        ]
        q.stop()
        assert per_batch, "no observed metrics delivered"
        assert sum(m["n_rows"] for m in per_batch) == events.count()
    finally:
        replay.cleanup(d)
        replay.cleanup(ckpt)


FS_CHECKPOINT_MANAGER = ("org.apache.spark.sql.execution.streaming."
                         "checkpointing.FileSystemBasedCheckpointFileManager")


def _blacklist_recovery_case(spark):
    events = load_table(spark, SF_DIR, "events")
    bl = make_blacklist(load_table(spark, SF_DIR, "customer"))
    return events, lambda df: blacklist_stream(df, bl)


def _dedup_recovery_case(spark):
    from spark_streaming_spark.streaming.pipelines import dedup_stream

    # a (user, type, day) key recurs in both halves of the input: the
    # restart must remember the first half's keys from the state store,
    # or the second half re-emits them
    keys = ["user_id", "event_type", "day"]
    events = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_type", F.to_date("ts").alias("day"))
    return events, lambda df: dedup_stream(df, keys)


@pytest.mark.parametrize("case", [_blacklist_recovery_case,
                                  _dedup_recovery_case],
                         ids=["blacklist", "dedup_state"])
def test_checkpoint_recovery_exactly_once(spark, tmp_path, case):
    """Fault-tolerance parity (SURVEY.md §2.9): kill a stream partway,
    restart from the same checkpoint — already-committed input is not
    reprocessed, new input is, and the sink ends exactly equal to the
    batch answer (no loss, no dupes). This is the reference's
    recover-from-checkpoint-dir semantics with exactly-once instead of
    at-least-once. The stateful case also re-reads the state-store
    deltas that the session's checkpoint file manager wrote."""
    import glob
    import shutil

    assert spark.conf.get(
        "spark.sql.streaming.checkpointFileManagerClass"
    ) == FS_CHECKPOINT_MANAGER
    data, query = case(spark)
    d = replay.chunk_to_dir(data, 4)
    held_back = str(tmp_path / "held")
    os.makedirs(held_back)
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    try:
        parts = sorted(glob.glob(os.path.join(d, "part-*.parquet")))
        assert len(parts) == 4
        for p in parts[2:]:  # hold back half the input
            shutil.move(p, held_back)
        if case is _dedup_recovery_case:
            first = _as_sets(spark.read.parquet(*parts[:2]))
            held = _as_sets(spark.read.parquet(held_back))
            assert first & held, "no key spans the restart"

        def run_once():
            q = (
                query(replay.stream_from_dir(spark, d))
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            q.stop()

        run_once()  # first run: 2 of 4 chunks, then "failure"
        n_first = spark.read.parquet(sink).count()
        for p in glob.glob(os.path.join(held_back, "part-*.parquet")):
            shutil.move(p, d)
        run_once()  # recovery: same checkpoint + sink

        final = spark.read.parquet(sink)
        batch = query(data)  # same pure fn, batch input
        assert final.count() > n_first
        assert final.count() == batch.count(), "recovery duplicated rows"
        assert _as_sets(final) == _as_sets(batch), "recovery lost or duplicated rows"
    finally:
        replay.cleanup(d)


def test_streaming_dedup_across_batches(spark):
    """dropDuplicates state catches duplicates arriving in DIFFERENT
    micro-batches: events doubled and re-chunked must collapse to
    exactly the original table."""
    from spark_streaming_spark.streaming.pipelines import dedup_stream

    events = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type")
    d = replay.chunk_to_dir(events.union(events), 4)
    try:
        streamed = replay.run_to_parquet(
            dedup_stream(replay.stream_from_dir(spark, d), ["event_id"]),
            "append", state_partitions=4,
        )
        assert _as_sets(streamed) == _as_sets(events)
    finally:
        replay.cleanup(d)


def test_streaming_union_of_two_sources(spark):
    """Multi-source union (≡ the reference's multi-receiver union,
    README.md:941-950): two independent file streams unioned into one
    pipeline must equal the batch word count over both halves."""
    docs = load_table(spark, SF_DIR, "documents")
    half_a = docs.filter(F.col("doc_id") % 2 == 0)
    half_b = docs.filter(F.col("doc_id") % 2 == 1)
    da = replay.chunk_to_dir(half_a, 2)
    db = replay.chunk_to_dir(half_b, 2)
    try:
        unioned = replay.stream_from_dir(spark, da).unionByName(
            replay.stream_from_dir(spark, db)
        )
        streamed = replay.run_to_parquet(
            wordcount_stream(unioned), "complete", state_partitions=4
        )
        assert _as_sets(streamed) == _as_sets(word_count(docs))
    finally:
        replay.cleanup(da)
        replay.cleanup(db)


def test_streaming_sessions_equal_batch(spark):
    """Append-mode session windows over an event-time-ordered replay
    (with watermark-advancing sentinel chunks) finalize to exactly the
    batch session_windows answer."""
    import __spark_entry__ as E

    from spark_streaming_spark.operators.windows import session_windows

    streamed = E.queries()["streaming_session_windows"](spark, SF_DIR)
    batch = session_windows(load_table(spark, SF_DIR, "events"))
    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Watermark semantics (absent in the reference — SURVEY.md §2.9).
    Spark keeps TWO watermarks per batch (SPARK-40925): late-event
    filtering uses the PREVIOUS batch's watermark, state eviction the
    current one — so a late row is reliably dropped once it arrives ≥2
    batches after the data that advanced the watermark past its window.
    The dropped row must not resurrect its already-emitted window (no
    duplicate append-mode emission)."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from spark_streaming_spark.streaming import replay

    def ts(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    rows1 = [(i, ts(10, m)) for i, m in enumerate([0, 1, 2, 6, 7, 9])]
    rows2 = [(101, ts(10, 11)), (102, ts(10, 12))]
    # batch 3: late row into the [10:00, 10:05) window — already evicted
    # AND below last batch's watermark (10:11:30) → dropped, not re-emitted
    rows3 = [(103, ts(10, 1)), (-1, ts(12, 0))]
    rows4 = [(-2, ts(13, 0))]  # flush batch (eviction watermark lags one)
    d = str(tmp_path / "late_chunks")
    os.makedirs(d)
    for i, rows in enumerate([rows1, rows2, rows3, rows4]):
        df = spark.createDataFrame(rows, "event_id long, ts timestamp")
        tmp = str(tmp_path / f"w{i}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
        dst = os.path.join(d, f"chunk-{i:05d}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))

    stream = replay.stream_from_dir(spark, d)
    agg = (
        stream.withWatermark("ts", "30 seconds")
        .groupBy(F.window("ts", "5 minutes"))
        .agg(F.count("*").alias("n"))
        .select(F.col("window.start").alias("w_start"), "n")
    )
    out = replay.run_to_parquet(agg, "append", state_partitions=4)
    got = sorted((r.w_start, r.n) for r in out.collect())
    assert got == [
        (ts(10, 0), 3),   # late row 103 excluded, window emitted ONCE
        (ts(10, 5), 3),
        (ts(10, 10), 2),
        (ts(12, 0), 1),   # first sentinel's own window
    ]


def test_jdbc_sink_end_to_end_embedded_derby(spark, tmp_path):
    """PersistWordCount parity (reference: foreachRDD → foreachPartition →
    pooled MySQL INSERTs, PersistWordCount.java:73-100) done the engine
    way: foreachBatch → batched parameterized df.write.jdbc, epoch-tagged
    rows — against a REAL embedded Derby database, end to end. The final
    per-word state (latest epoch per word) must equal the batch word
    count."""
    import uuid

    from pyspark.sql import functions as F

    from spark_streaming_spark.operators.wordcount import word_count
    from spark_streaming_spark.streaming import replay
    from spark_streaming_spark.streaming.pipelines import (
        jdbc_upsert_sink,
        running_count_stream,
    )

    db = f"memory:wc_{uuid.uuid4().hex}"
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    docs = load_table(spark, SF_DIR, "documents").limit(120)
    chunk_dir = replay.chunk_to_dir(docs, 3)
    try:
        stream = replay.stream_from_dir(spark, chunk_dir)
        counts = running_count_stream(stream)
        ckpt = str(tmp_path / "ckpt_jdbc")
        q = (
            counts.writeStream.foreachBatch(
                jdbc_upsert_sink(url, "wordcount", props)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        q.stop()

        table = spark.read.jdbc(url, "wordcount", properties=props)
        from pyspark.sql import Window

        w = Window.partitionBy("word").orderBy(F.col("epoch_id").desc())
        final = (
            table.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("word", "cnt")
        )
        got = {(r.word, r.cnt) for r in final.collect()}
        want = {(r.word, r.cnt) for r in word_count(docs).collect()}
        assert got == want
    finally:
        replay.cleanup(chunk_dir)


def test_kafka_contract_option_names():
    """Broker-less Kafka contract (round-1 VERDICT "Next round" #8), part
    1: the option NAMES handed to format("kafka") — the part that
    silently no-ops when misspelled — pinned to the Spark Kafka
    integration guide's documented names."""
    from spark_streaming_spark.streaming import sources

    opts = sources.kafka_options(
        "broker1:9092,broker2:9092", "pageviews",
        starting_offsets="latest", max_offsets_per_trigger=50000,
    )
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "pageviews",
        "startingOffsets": "latest",
        "failOnDataLoss": "true",
        "maxOffsetsPerTrigger": "50000",
    }
    assert "maxOffsetsPerTrigger" not in sources.kafka_options("b:9092", "t")


def test_kafka_contract_decode_projection(spark):
    """Part 2: decode_kafka applied to a static frame carrying the EXACT
    wire schema the Kafka source produces — proves the post-load
    projection (binary→string casts, metadata passthrough) compiles and
    computes against the real source shape. Only the TCP handshake
    remains unproven in this container (no broker; documented gap)."""
    import datetime

    from spark_streaming_spark.streaming import sources

    raw = spark.createDataFrame(
        [
            (b"k1", b"hello kafka", "pageviews", 0, 42,
             datetime.datetime(2024, 1, 1, 0, 0, 0), 0),
            (None, b"no key", "pageviews", 1, 7,
             datetime.datetime(2024, 1, 1, 0, 0, 1), 0),
        ],
        schema=sources.KAFKA_WIRE_SCHEMA,
    )
    out = sources.decode_kafka(raw)
    assert out.columns == ["key", "value", "topic", "partition", "offset",
                           "timestamp"]
    rows = {(r.key, r.value, r.partition, r.offset) for r in out.collect()}
    assert rows == {("k1", "hello kafka", 0, 42), (None, "no key", 1, 7)}
    kinds = dict(out.dtypes)
    assert kinds["key"] == "string" and kinds["value"] == "string"


def test_interval_trigger_stability(spark, tmp_path):
    """Long-running processingTime-trigger demo (round-1 VERDICT "Next
    round" #9 / reference README.md:1039-1049): a 1s-interval pipeline
    over the rate source must fire repeated batches whose mean processing
    time stays under the trigger interval — the reference's stability
    criterion asserted from listener progress instead of eyeballed."""
    from spark_streaming_spark.streaming import monitor, sources

    rec = monitor.attach(spark)
    counts = (
        sources.rate_rows(spark, rows_per_second=200)
        .groupBy((F.col("value") % 10).alias("bucket"))
        .count()
    )
    q = (
        counts.writeStream.outputMode("complete")
        .format("noop")
        .trigger(processingTime="2 seconds")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 45
        qid = str(q.id)
        while time.time() < deadline:
            mine = [b for b in rec.log.batches
                    if b.query_id == qid and b.input_rows > 0]
            if len(mine) >= 4:
                break
            time.sleep(0.5)
    finally:
        q.stop()
        monitor.detach(spark, rec)
    mine = [b for b in rec.log.batches if b.query_id == qid and b.input_rows > 0]
    assert len(mine) >= 4, f"expected >=4 interval batches, got {len(mine)}"
    # first batch carries codegen/plan warm-up — steady state is what the
    # stability criterion is about (the reference's too: README.md:1039)
    report = monitor.stability_report(
        monitor.ProgressLog(batches=mine[1:]), trigger_interval_ms=2000
    )
    assert report["stable"], report
    assert report["total_input_rows"] > 0


def test_processing_time_window_parity(spark):
    """PROCESSING-TIME parity mode end-to-end (reference semantics:
    reduceByKeyAndWindow over ARRIVAL-time batches, WindowHotWord.java:
    52-57): replay events as micro-batches, stamp arrival time with
    sources.with_processing_time, and window on proc_ts. Arrival-time
    results are inherently non-reproducible run-to-run, so the assertion
    is conservation + shape: every input row lands in exactly one
    tumbling arrival window, keyed counts sum to the batch totals, and
    the window column derives from proc_ts (not the event-time ts)."""
    from spark_streaming_spark.streaming import sources

    events = load_table(spark, SF_DIR, "events").select(
        "event_id", "event_type")
    chunk_dir = replay.chunk_to_dir(events, 3)
    try:
        stream = sources.with_processing_time(
            replay.stream_from_dir(spark, chunk_dir))
        counted = (
            stream.groupBy(
                F.window("proc_ts", "10 seconds").alias("win"), "event_type")
            .count()
        )
        out = replay.run_to_memory(counted, "complete", state_partitions=4)
        got = out.groupBy("event_type").agg(
            F.sum("count").alias("n")).collect()
        want = {r.event_type: r["count"]
                for r in events.groupBy("event_type").count().collect()}
        assert {r.event_type: r.n for r in got} == want
        # window bounds must be wall-clock (today), not the 1996-era
        # synthetic event time — proves the window keyed on arrival time
        import datetime
        for r in out.select("win").limit(5).collect():
            assert r.win.start.year >= 2020
    finally:
        replay.cleanup(chunk_dir)


def test_streaming_left_outer_join_equals_batch(spark):
    """Watermarked stream-stream LEFT OUTER interval join finalizes to
    exactly the batch left-outer answer: matched clicks keep their
    purchases, unmatched clicks emit one null-extended row once the
    watermark (advanced by the sentinel chunks) proves no match can
    still arrive."""
    import __spark_entry__ as E

    from spark_streaming_spark.operators import conversions as CV

    streamed = E.queries()["streaming_click_attribution_outer"](spark, SF_DIR)
    batch = CV.click_purchase_conversions(
        load_table(spark, SF_DIR, "events"), how="left_outer")
    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    # the outer semantics are non-vacuous: some clicks never convert
    assert any(r[2] is None for r in want)


def test_streaming_two_level_agg_equals_batch(spark):
    """Two chained streaming aggregations in one query (multiple
    stateful operators): the finalized per-window rollup equals the
    batch two-level answer."""
    import __spark_entry__ as E

    from spark_streaming_spark.streaming.pipelines import two_level_agg_stream

    streamed = E.queries()["streaming_two_level_agg"](spark, SF_DIR)
    events = load_table(spark, SF_DIR, "events")
    batch = (
        events.groupBy(F.window("ts", "60 seconds").alias("win"),
                       "event_type")
        .agg(F.count("*").alias("cnt"))
        .groupBy("win")
        .agg(F.sum("cnt").alias("n_events"), F.count("*").alias("n_types"))
        .select(F.col("win.start").alias("w_start"),
                F.col("win.end").alias("w_end"), "n_events", "n_types")
    )
    assert _as_sets(streamed) == _as_sets(batch)


def test_dedup_within_watermark_bounds_state(spark):
    """dropDuplicatesWithinWatermark: the bounded-state production
    dedup — seen-key state is evicted once the watermark passes a key's
    event time + delay, so duplicates arriving within the watermark
    horizon collapse while state stays O(keys-in-horizon), not O(all
    keys ever). Replay: doubled events chunked in event-time order (the
    duplicate pairs land within the horizon) must still dedup exactly;
    state rows after the run must be far below the total key count."""
    events = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "event_type")
    doubled = events.union(events)
    d = replay.chunk_to_dir_ordered(doubled, 4, order_col="ts")
    from spark_streaming_spark.streaming import monitor

    rec = monitor.attach(spark)
    try:
        stream = replay.stream_from_dir(spark, d)
        deduped = stream.withWatermark("ts", "10 seconds") \
            .dropDuplicatesWithinWatermark(["event_id"])
        out = replay.run_to_parquet(deduped, "append", state_partitions=4)
        assert out.count() == events.count()
        assert {r.event_id for r in out.collect()} == \
               {r.event_id for r in events.collect()}
        # state stayed bounded: final batch's state rows ≪ distinct keys
        states = [b.state_rows for b in rec.log.batches
                  if b.state_rows is not None]
        assert states and min(states[-2:]) < events.count() / 2
    finally:
        monitor.detach(spark, rec)
        replay.cleanup(d)


def test_update_mode_pivot_per_trigger_output_bounded(spark, tmp_path):
    """Update-mode streamed pivot (round-3 VERDICT #2): a trigger's delta
    contains exactly the users whose counters changed in that chunk —
    never the complete-mode O(all keys ever) re-emission — and the
    last-epoch-wins merge over the epoch-partitioned sink equals the
    batch answer of the same operator."""
    import os
    import shutil

    from spark_streaming_spark.streaming.pipelines import pivot_counts_stream

    events = load_table(spark, SF_DIR, "events").select(
        "user_id", "event_type")
    users = sorted(r.user_id for r in events.select("user_id")
                   .distinct().limit(4).collect())
    chunks = [
        events,                                        # epoch 0: all users
        events.filter(F.col("user_id") == users[0]),   # epoch 1: one user
        events.filter(F.col("user_id").isin(users[1:])),  # epoch 2: three
    ]
    d = tmp_path / "chunks"
    os.makedirs(d)
    base_t = 1_600_000_000
    for i, cdf in enumerate(chunks):
        tmp = str(tmp_path / f"c{i}")
        cdf.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
        dst = str(d / f"chunk-{i:05d}.parquet")
        shutil.move(os.path.join(tmp, part), dst)
        os.utime(dst, (base_t + i, base_t + i))

    raw = replay.run_to_parquet(
        pivot_counts_stream(replay.stream_from_dir(spark, str(d))),
        "update", state_partitions=4, keep_epoch=True)
    per_epoch = {
        int(r.epoch_id): set()
        for r in raw.select("epoch_id").distinct().collect()
    }
    for r in raw.collect():
        per_epoch[int(r.epoch_id)].add(r.user_id)
    n_users = events.select("user_id").distinct().count()
    assert per_epoch[0] == {r.user_id for r in
                            chunks[0].select("user_id").distinct().collect()}
    assert per_epoch[1] == {users[0]}          # NOT all n_users keys
    assert per_epoch[2] == set(users[1:])
    assert len(per_epoch[1]) < n_users and len(per_epoch[2]) < n_users

    # last-epoch-wins merge == batch pivot over the concatenated input
    merged = replay.run_to_parquet(
        pivot_counts_stream(replay.stream_from_dir(spark, str(d))),
        "update", state_partitions=4, last_epoch_keys=["user_id"])
    batch = pivot_counts_stream(
        chunks[0].union(chunks[1]).union(chunks[2]))
    assert _as_sets(merged) == _as_sets(batch)


def test_streaming_full_outer_join_equals_batch(spark):
    """Watermarked stream-stream FULL OUTER interval join finalizes to
    exactly the batch full-outer answer: matched pairs, dead clicks
    (null purchase side), and organic purchases (null click side) each
    emitted exactly once."""
    import __spark_entry__ as E

    from spark_streaming_spark.operators import conversions as CV

    streamed = E.queries()["streaming_click_attribution_full"](spark, SF_DIR)
    batch = CV.click_purchase_conversions(
        load_table(spark, SF_DIR, "events"), how="full_outer")
    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    # non-vacuous on BOTH sides
    assert any(r[2] is None for r in want)  # dead clicks
    assert any(r[1] is None for r in want)  # organic purchases


def test_multiple_watermark_policy_min_vs_max(spark, tmp_path):
    """Global watermark across MULTIPLE watermarked inputs in one query
    (SPARK-24730, `spark.sql.streaming.multipleWatermarkPolicy`): the
    default `min` tracks the LAGGARD input, so a row that is late only
    relative to the fast input survives; `max` tracks the leader and
    drops it. Two file streams: A races ahead (event time 12:00), B lags
    (10:02); a B row at 11:00 then arrives TWO batches after A raced
    ahead (late-record filtering uses the previous batch's watermark,
    SPARK-40925, so a one-batch-late row survives either policy) — kept
    under min, dropped under max."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from spark_streaming_spark.streaming import replay

    def ts(h, m):
        return dt.datetime(2024, 1, 1, h, m)

    def chunk_dir(name, batches):
        d = str(tmp_path / name)
        os.makedirs(d)
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(rows, "event_id long, ts timestamp")
            tmp = str(tmp_path / f"{name}_w{i}")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
            dst = os.path.join(d, f"chunk-{i:05d}.parquet")
            os.rename(os.path.join(tmp, part), dst)
            os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))
        return d

    # the same input files serve both policy runs (each run keeps its
    # own throwaway checkpoint) — build once, not once per policy
    a_dir = chunk_dir("a_src", [
        [(1, ts(10, 0))],
        [(2, ts(12, 0))],   # A watermark races to 12:00
        [(3, ts(12, 0))],
        [(4, ts(12, 0))],
    ])
    b_dir = chunk_dir("b_src", [
        [(101, ts(10, 0))],
        [(102, ts(10, 1))],  # B watermark lags
        [(103, ts(10, 2))],
        [(104, ts(11, 0))],  # late vs A's watermark only, by 2 batches
    ])

    def run(policy):
        old = spark.conf.get("spark.sql.streaming.multipleWatermarkPolicy")
        spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", policy)
        try:
            a = replay.stream_from_dir(spark, a_dir).withWatermark(
                "ts", "0 seconds")
            b = replay.stream_from_dir(spark, b_dir).withWatermark(
                "ts", "0 seconds")
            counts = (
                a.unionByName(b)
                .groupBy(F.window("ts", "5 minutes").alias("w"))
                .agg(F.count("*").alias("n"))
            )
            out = replay.run_to_parquet(counts, "update",
                                        state_partitions=2)
            return {
                (r.w.start.hour, r.w.start.minute): r.n
                for r in out.collect()
            }
        finally:
            spark.conf.set(
                "spark.sql.streaming.multipleWatermarkPolicy", old)

    kept = run("min")
    dropped = run("max")
    assert (11, 0) in kept          # laggard-relative on-time row counted
    assert (11, 0) not in dropped   # leader policy discards it


def test_dynamic_session_gap_splits_where_static_would_merge(spark):
    """A purchase's 2-minute gap closes the session even though the
    5-minute static gap would have merged the next event in."""
    from spark_streaming_spark.operators.windows import (
        dynamic_session_windows, session_windows)

    rows = [
        (1, "2024-01-01 00:00:00", "purchase"),  # reach 00:02
        (1, "2024-01-01 00:03:00", "view"),      # 3 min later: new sess
        (2, "2024-01-01 00:00:00", "view"),      # reach 00:05
        (2, "2024-01-01 00:03:00", "view"),      # merges
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts_s string, event_type string"
    ).selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type")
    dyn = dynamic_session_windows(ev).collect()
    per_user = {}
    for r in dyn:
        per_user[r.user_id] = per_user.get(r.user_id, 0) + 1
    assert per_user == {1: 2, 2: 1}
    stat = session_windows(ev).collect()
    assert {r.user_id: len([x for x in stat if x.user_id == r.user_id])
            for r in stat} == {1: 1, 2: 1}


def test_final_epoch_noop_intermediates_equal_full(spark):
    """run_to_parquet(final_epoch=...): intermediate epochs run to a
    noop sink (the state fold MUST still execute) and only the last
    epoch pays the parquet write — result identical to writing every
    epoch."""
    ev = load_table(spark, SF_DIR, "events")
    chunk_dir = replay.chunk_to_dir(ev, 3)
    agg = lambda: replay.stream_from_dir(  # noqa: E731
        spark, chunk_dir, files_per_trigger=2
    ).groupBy("event_type").count()
    full = replay.run_to_parquet(agg(), "complete", state_partitions=4)
    hinted = replay.run_to_parquet(agg(), "complete", state_partitions=4,
                                   final_epoch=1)
    assert full.exceptAll(hinted).count() == 0
    assert hinted.exceptAll(full).count() == 0


def test_final_epoch_mispredicted_fails_loud(spark):
    """A final_epoch beyond the replay's real batch count must raise,
    never return an empty scan as if it were the result."""
    import pytest as _pytest

    ev = load_table(spark, SF_DIR, "events")
    chunk_dir = replay.chunk_to_dir(ev, 2)
    stream = replay.stream_from_dir(spark, chunk_dir, files_per_trigger=2)
    with _pytest.raises(RuntimeError, match="never fired"):
        replay.run_to_parquet(stream.groupBy("event_type").count(),
                              "complete", state_partitions=4,
                              final_epoch=5)


def test_complete_mode_batch_must_execute(spark):
    """The lesson the noop intermediate write encodes: a foreachBatch
    body that does NOTHING with the batch fails a complete-mode
    stateful query (the state commit rides on plan execution). Pinned
    so nobody 'optimizes' the noop write away."""
    import pytest as _pytest

    ev = load_table(spark, SF_DIR, "events")
    chunk_dir = replay.chunk_to_dir(ev, 2)
    stream = replay.stream_from_dir(spark, chunk_dir, files_per_trigger=1)
    ckpt = replay.scratch_dir("spark_ckpt_")
    q = (
        stream.groupBy("event_type").count()
        .writeStream.foreachBatch(lambda b, e: None)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    with _pytest.raises(Exception):
        q.awaitTermination(120)
        q.processAllAvailable()
    q.stop()


def test_final_epoch_overprediction_fails_loud(spark):
    """VERDICT r8 #7 failure injection: a replay that produces FEWER
    micro-batches than ``final_epoch`` predicted must raise — the noop
    fast path skipped every epoch, so returning the (empty) scan as if
    it were the result would be a silent wrong answer."""
    import pytest as _pytest

    df = spark.range(40).select(
        (F.col("id") % 4).alias("k"), F.lit(1).alias("v"))
    d = replay.chunk_to_dir(df, 4)
    agg = (replay.stream_from_dir(spark, d)
           .groupBy("k").agg(F.sum("v").alias("s")))
    with _pytest.raises(RuntimeError, match="never fired"):
        replay.run_to_parquet(agg, "complete", final_epoch=10)


def test_final_epoch_underprediction_returns_true_final_snapshot(spark):
    """The converse injection: MORE micro-batches than predicted. Every
    epoch >= final_epoch takes the real write path, so the extra epochs
    OVERWRITE with later (cumulative, still-correct) complete-mode
    snapshots and the returned scan is the true final state — pinned
    equal to the batch answer, not merely non-empty."""
    df = spark.range(40).select(
        (F.col("id") % 4).alias("k"), F.lit(1).alias("v"))
    d = replay.chunk_to_dir(df, 4)
    agg = (replay.stream_from_dir(spark, d)
           .groupBy("k").agg(F.sum("v").alias("s")))
    # 4 chunks / 1 per trigger = epochs 0..3; predict only 2
    out = replay.run_to_parquet(agg, "complete", final_epoch=1)
    got = {r["k"]: r["s"] for r in out.collect()}
    assert got == {0: 10, 1: 10, 2: 10, 3: 10}


def test_run_all_matches_serial(spark):
    """Co-scheduled replays return exactly what serial replays return —
    the contract the co-scheduled groups' result cache relies on."""
    import functools

    df = spark.range(300).select(
        (F.col("id") % 5).alias("k"), F.lit(1).alias("v"))
    d = replay.chunk_to_dir(df, 3)

    def build(mod):
        return (replay.stream_from_dir(spark, d, files_per_trigger=2)
                .filter(F.col("k") != mod)
                .groupBy("k").agg(F.sum("v").alias("s")))

    serial = [sorted(tuple(r) for r in replay.run_to_parquet(
        build(m), "complete", state_partitions=4).collect())
        for m in (0, 1, 2)]
    outs = replay.run_all({
        m: functools.partial(replay.start_to_parquet, build(m), "complete",
                             state_partitions=4)
        for m in (0, 1, 2)})
    co = [sorted(tuple(r) for r in outs[m].collect()) for m in (0, 1, 2)]
    assert serial == co and all(len(s) == 4 for s in serial)


def _counting_replay(spark, d):
    """A started availableNow replay over chunk dir ``d`` (one file per
    trigger, so it runs several micro-batches)."""
    return replay.start_to_parquet(
        replay.stream_from_dir(spark, d).groupBy("k").count(), "complete")


def test_run_all_aborts_started_siblings_when_a_start_fails(spark):
    """A starter that raises after siblings have started: the started
    queries are stopped (none left on the session, checkpoints gone) and
    the starter's error re-raises."""
    import os

    import pytest as _pytest

    d = replay.chunk_to_dir(
        spark.range(300).select((F.col("id") % 5).alias("k")), 3)
    started, active_at_failure = [], []

    def start_ok():
        started.append(_counting_replay(spark, d))
        return started[-1]

    def start_bad():
        active_at_failure.append(len(spark.streams.active))
        raise RuntimeError("starter failed")

    with _pytest.raises(RuntimeError, match="starter failed"):
        replay.run_all({"a": start_ok, "b": start_ok, "c": start_bad})
    assert active_at_failure == [2]
    assert spark.streams.active == []
    assert not any(os.path.exists(r.ckpt) for r in started)


def test_run_all_finishes_every_member_before_raising(spark):
    """A member whose finish raises does not stop the others from being
    finished (awaited, read, stopped); the first error surfaces after."""
    import pytest as _pytest

    d = replay.chunk_to_dir(
        spark.range(300).select((F.col("id") % 5).alias("k")), 3)
    reads = []

    def start_timing_out():
        run = _counting_replay(spark, d)
        run.budget_s = 0.001  # finish times out at once: no sleep
        return run

    def start_ok():
        run = _counting_replay(spark, d)
        read = run.read
        run.read = lambda: reads.append(read()) or reads[-1]
        return run

    with _pytest.raises(TimeoutError, match="did not finish"):
        replay.run_all({"slow": start_timing_out, "ok": start_ok})
    assert len(reads) == 1 and reads[0].count() == 5
    assert spark.streams.active == []


def test_merged_replay_budget_scales_with_sinks(spark):
    """One merged query hosting n sibling sinks awaits n sinks' budget
    (read off the handle; nothing waits)."""
    import __spark_entry__ as E

    noop = ((lambda batch_df, epoch_id: None), (lambda: None))
    subs = {"a": noop, "b": noop, "c": noop}
    run = E._merged_fold_starter("events", lambda s, d: subs)(spark, SF_DIR)
    try:
        assert run.budget_s == 3 * replay.SINK_BUDGET_S
    finally:
        run.abort()
    d = replay.chunk_to_dir(spark.range(3).select(F.col("id").alias("k")), 1)
    single = _counting_replay(spark, d)
    try:
        assert single.budget_s == replay.SINK_BUDGET_S
    finally:
        single.abort()


def _provider_scope(session, i):
    from spark_streaming_spark.streaming.statestore import (
        state_store_provider)

    return state_store_provider(session, ("rocksdb", "hdfs")[i])


@pytest.mark.parametrize("scope", [
    lambda session, i: replay._state_partitions(session, 3 + 2 * i),
    _provider_scope,
], ids=["state_partitions", "state_store_provider"])
def test_state_partitions_restores_confs_across_threads(monkeypatch, scope):
    """Two threads start replays concurrently (the misc_replays group):
    A is inside a conf scope (the replay's state partitions, or the
    RocksDB member's state-store provider) when B tries to enter its
    own. Whatever B saves, once both have left every conf is back to
    its original value. Without the conf lock B saves A's scoped values
    as the "originals" and restores them last, leaving the session at
    A's settings. Driven by events: A leaves as soon as B has either
    entered (read a conf) or blocked on the lock."""
    import types

    errors = []
    a_in, a_out, b_progress = (threading.Event(), threading.Event(),
                               threading.Event())

    def b_moves():
        if threading.current_thread() is tb:
            b_progress.set()

    class _Conf:
        def __init__(self):
            self.d = {"spark.sql.shuffle.partitions": "200"}

        def get(self, k):
            b_moves()
            return self.d[k]  # KeyError for an unset key, like Spark

        def set(self, k, v):
            self.d[k] = v

        def unset(self, k):
            self.d.pop(k, None)

    class _SpyLock:
        def __init__(self):
            self.lock = threading.RLock()

        def __enter__(self):
            b_moves()
            self.lock.acquire()

        def __exit__(self, *exc):
            self.lock.release()

    monkeypatch.setattr(replay, "_CONF_LOCK", _SpyLock(), raising=False)
    session = types.SimpleNamespace(conf=_Conf())
    original = dict(session.conf.d)

    def run_a():
        try:
            with scope(session, 0):
                a_in.set()
                assert b_progress.wait(30)
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)
        finally:
            a_in.set()
            a_out.set()

    def run_b():
        try:
            assert a_in.wait(30)
            with scope(session, 1):
                assert a_out.wait(30)
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    tb = threading.Thread(target=run_b)
    ta = threading.Thread(target=run_a)
    tb.start()
    ta.start()
    ta.join(60)
    tb.join(60)
    assert not errors
    assert session.conf.d == original


def test_cosched_redeem_once_reruns_group(spark):
    """The bench-honesty contract: each member redeems a cached group
    run exactly once; a second invocation of the same member re-runs
    the whole group (min-of-2 would otherwise report ~0). Runs through
    the one group runner (replay.run_all) with stub handles."""
    import __spark_entry__ as E

    calls = {"n": 0}

    class _H:
        def finish(self, timeout_sec=None):
            calls["n"] += 1
            return spark.range(3)

    members = {"a": (lambda s, d: _H(), None),
               "b": (lambda s, d: _H(), None)}
    key = ("t_redeem", "sfX", spark.sparkContext.applicationId)
    E._COSCHED_RESULTS.pop(key, None)
    E._cosched_group(spark, "sfX", "t_redeem", members, "a")
    assert calls["n"] == 2          # first call runs BOTH members
    E._cosched_group(spark, "sfX", "t_redeem", members, "b")
    assert calls["n"] == 2          # b redeems the cached run
    E._cosched_group(spark, "sfX", "t_redeem", members, "a")
    assert calls["n"] == 4          # a again -> fresh group run
    E._COSCHED_RESULTS.pop(key, None)


def test_transition_fold_rejects_out_of_order_replay(spark, tmp_path):
    """The cross-batch stitch is only exact on an ordered feed; the
    sink's per-epoch guard must raise on a violation instead of
    silently undercounting."""
    import datetime

    import pytest as _pytest

    from spark_streaming_spark.streaming.pipelines import (
        transition_fold_sink)

    sink = transition_fold_sink(spark, str(tmp_path / "st"))
    t0 = datetime.datetime(2024, 1, 1)

    def batch(rows):
        return spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long, "
                  "event_type string")

    sink(batch([(1, t0 + datetime.timedelta(seconds=10), 1, "click")]), 0)
    with _pytest.raises(RuntimeError, match="ordered replay"):
        sink(batch([(1, t0, 2, "view")]), 1)
    # ts EQUAL to the stored last event but a SMALLER event_id must also
    # be rejected — the stitch window sorts on the full (ts, event_id)
    # key, so this row would sort BEFORE the state row and silently
    # produce a different stitch than the one-shot batch fold
    with _pytest.raises(RuntimeError, match="ordered replay"):
        sink(batch([(1, t0 + datetime.timedelta(seconds=10), 0, "view")]), 1)
    # an ordered second batch folds fine and stitches the boundary pair
    sink(batch([(1, t0 + datetime.timedelta(seconds=20), 3, "buy")]), 1)
    with open(str(tmp_path / "st" / "CURRENT")) as fh:
        pairs = spark.read.parquet(
            str(tmp_path / "st" / fh.read().strip() / "pairs")).collect()
    assert {(r["from_type"], r["to_type"], r["n_trans"])
            for r in pairs} == {("click", "buy", 1)}


def test_replay_input_cache_memo_disk_and_sentinel_labels(spark, tmp_path,
                                                          monkeypatch):
    """The one replay-input cache (__spark_entry__._replay_input): a
    second call returns the memo, a fresh process (empty memo) reuses
    the marked disk dir without rebuilding, a dir without its marker (a
    crashed builder's) is rebuilt, and the ordered layout's sentinel
    types are part of the label — a stale dir of other sentinel types
    would leave watermarked outer/session state unevicted."""
    import os

    import __spark_entry__ as E

    # builds are renamed into the cache: keep both on one file system
    monkeypatch.setattr(replay, "_SCRATCH_BASE", str(tmp_path))
    monkeypatch.setattr(E, "_CHUNK_CACHE_BASE", str(tmp_path / "cache"))
    monkeypatch.setattr(E, "_CHUNK_CACHE", {})
    builds = []

    def build():
        d = tmp_path / f"built{len(builds)}"
        d.mkdir()
        (d / "chunk-00000.parquet").write_text(str(len(builds)))
        builds.append(d)
        return str(d)

    first = E._replay_input("sfX", "rr|t|3", build)
    assert os.path.exists(os.path.join(first, "_CHUNKS_READY"))
    assert not builds[0].exists()           # renamed into the cache
    assert E._replay_input("sfX", "rr|t|3", build) == first
    assert len(builds) == 1                 # the memo
    monkeypatch.setattr(E, "_CHUNK_CACHE", {})
    assert E._replay_input("sfX", "rr|t|3", build) == first
    assert len(builds) == 1                 # the marked disk dir
    os.remove(os.path.join(first, "_CHUNKS_READY"))
    monkeypatch.setattr(E, "_CHUNK_CACHE", {})
    assert E._replay_input("sfX", "rr|t|3", build) == first
    assert len(builds) == 2                 # unmarked: rebuilt
    with open(os.path.join(first, "chunk-00000.parquet")) as fh:
        assert fh.read() == "1"
    assert E._replay_input("sfY", "rr|t|3", build) != first

    def sentinel_types(d):
        return {r.event_type for r in
                spark.read.parquet(d).filter("user_id < 0").collect()}

    layouts = {st: E._ordered_chunked_events(spark, SF_DIR,
                                             sentinel_types=st)
               for st in [("sentinel",), ("click", "purchase"), ()]}
    assert len(set(layouts.values())) == 3
    for st, d in layouts.items():
        assert sentinel_types(d) == set(st)


@pytest.mark.skipif(not os.path.isdir("/dev/shm"), reason="no tmpfs")
def test_replay_input_cache_publishes_across_file_systems(tmp_path,
                                                          monkeypatch):
    """A build on tmpfs scratch is published into a cache dir on another
    file system, where ``os.rename`` raises EXDEV: the build is copied
    beside the cache and renamed into place, not retried until the
    publish gives up."""
    import __spark_entry__ as E

    cache = tmp_path / "cache"
    cache.mkdir()
    if os.stat(cache).st_dev == os.stat("/dev/shm").st_dev:
        pytest.skip("the temp dir is on the same file system as /dev/shm")
    monkeypatch.setattr(replay, "_SCRATCH_BASE", "/dev/shm")
    monkeypatch.setattr(E, "_CHUNK_CACHE_BASE", str(cache))
    monkeypatch.setattr(E, "_CHUNK_CACHE", {})
    builds = []

    def build():
        d = replay.scratch_dir("spark_exdev_test_")
        with open(os.path.join(d, "chunk-00000.parquet"), "w") as fh:
            fh.write("rows")
        builds.append(d)
        return d

    t0 = time.monotonic()
    final = E._replay_input("sfX", "rr|t|3", build)
    assert time.monotonic() - t0 < 5
    assert os.path.dirname(final) == str(cache)
    with open(os.path.join(final, "chunk-00000.parquet")) as fh:
        assert fh.read() == "rows"
    assert os.path.exists(os.path.join(final, "_CHUNKS_READY"))
    assert sorted(os.listdir(cache)) == [os.path.basename(final)]
    assert not os.path.exists(builds[0])      # the tmpfs build is gone
    monkeypatch.setattr(E, "_CHUNK_CACHE", {})
    assert E._replay_input("sfX", "rr|t|3", build) == final
    assert len(builds) == 1                   # the marked disk dir


def _replay_cache_spellings(path):
    """(line, what) of every spelling of the replay-input cache outside
    ``_replay_input`` in ``path``: its marker, a publish or cache-path
    helper, or a subscript of the memo dict. Docstrings are prose."""
    import ast

    tree = ast.parse(path.read_text())
    docs = {id(n.body[0].value) for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                              ast.AsyncFunctionDef))
            and n.body and isinstance(n.body[0], ast.Expr)}
    owner = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.FunctionDef) and n.name == "_replay_input":
            owner |= {id(c) for c in ast.walk(n)}
    spelled = {"_CHUNKS_READY", "_persistent_cache_dir", "_publish_chunks"}
    memos = {"_CHUNK_CACHE", "_ORDERED_CHUNK_CACHE"}
    found = []
    for n in ast.walk(tree):
        if id(n) in owner or id(n) in docs:
            continue
        text = (n.value if isinstance(n, ast.Constant)
                and isinstance(n.value, str) else
                n.id if isinstance(n, ast.Name) else
                n.attr if isinstance(n, ast.Attribute) else
                n.name if isinstance(n, ast.FunctionDef) else None)
        hit = [w for w in spelled if text and w in text]
        if hit:
            found.append((n.lineno, hit[0]))
        elif (isinstance(n, ast.Subscript) and isinstance(n.value, ast.Name)
              and n.value.id in memos):
            found.append((n.lineno, f"{n.value.id}[...]"))
    return found


def test_replay_input_cache_has_one_owner(tmp_path):
    """Every streamed replay input goes through the one cache: the
    marker, the publish and the memo are spelled only inside
    ``__spark_entry__._replay_input``, across the package and the
    driver entry, so no second hand-written cache can creep back in."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    files = [root / "__spark_entry__.py",
             *sorted((root / "spark_streaming_spark").rglob("*.py"))]
    found = {str(f.relative_to(root)): _replay_cache_spellings(f)
             for f in files}
    assert {f: s for f, s in found.items() if s} == {}
    # the check is not vacuous: a pasted cache copy is caught
    copy = tmp_path / "copy.py"
    copy.write_text(
        "import os\n"
        "def _ordered(key, build):\n"
        "    if key not in _CHUNK_CACHE:\n"
        "        final = _persistent_cache_dir('ord', key)\n"
        "        if not os.path.exists(os.path.join(final, '_CHUNKS_READY')):\n"
        "            _publish_chunks(build(), final)\n"
        "        _CHUNK_CACHE[key] = final\n"
        "    return _CHUNK_CACHE[key]\n")
    assert sorted(w for _, w in _replay_cache_spellings(copy)) == [
        "_CHUNKS_READY", "_CHUNK_CACHE[...]", "_CHUNK_CACHE[...]",
        "_persistent_cache_dir", "_publish_chunks"]
