"""Reference-parity streaming pipelines on Structured Streaming.

Each pipeline reuses the *batch* operator library unchanged (the
operators are pure DataFrame→DataFrame functions), so the streamed result
provably equals the batch/oracle answer — the property the whole engine
is built around. The replay harness (replay.py) drives them with
``trigger(availableNow=True)`` over chunked input.

Pipeline ↔ reference map:

* wordcount_stream       ≡ WordCount/HDFSWordCount/Kafka*WordCount
  (``WordCount.java:32-53``) — per-key counts, complete mode
* running_count_stream   ≡ UpdateStateByKeyWordCount
  (``UpdateStateByKeyWordCount.java:54-78``) — the state store replaces
  updateStateByKey; update mode emits per-trigger deltas
* blacklist_stream       ≡ TransformBlacklist
  (``TransformBlacklist.java:48-73``) — stream-static broadcast anti-join
* sliding_hot_words      ≡ WindowHotWord (``WindowHotWord.java:52-87``)
* top3_per_window_stream ≡ Top3HotProduct (``Top3HotProduct.java:62-109``)
  — rank-over-aggregate isn't allowed in a streaming plan, so ranking
  runs per trigger in foreachBatch: exactly what the reference computed
  every slide interval
* jdbc-style sink        ≡ PersistWordCount (``PersistWordCount.java:
  73-100``) — epoch-keyed idempotent writes instead of row-at-a-time
  INSERT strings
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_streaming_spark.operators.blacklist import blacklist_filter
from spark_streaming_spark.operators.wordcount import word_count


def wordcount_stream(lines: DataFrame, text_col: str = "text") -> DataFrame:
    """Streaming word count: same operator as batch. Run in UPDATE mode
    (per-trigger changed words, the reference's per-batch counts) with a
    last-epoch-wins merge for the cumulative answer; complete mode also
    works but re-emits the full vocabulary every trigger — O(total
    state) per trigger at corpus scale."""
    return word_count(lines, text_col)


def running_count_stream(lines: DataFrame, text_col: str = "text") -> DataFrame:
    """updateStateByKey parity: streaming groupBy over the state store.
    Run with outputMode('update') for per-trigger changed keys, or
    'complete' for the full state. Unlike the reference (unbounded state,
    ``README.md:295``), bound state by adding a watermark on an event-time
    column before the groupBy when the key space is unbounded."""
    return word_count(lines, text_col)


def blacklist_stream(events: DataFrame, blacklist: DataFrame) -> DataFrame:
    """Stream-static anti-join: the static side is broadcast to every
    task; no state, no shuffle of the stream side. Append mode."""
    return blacklist_filter(events, blacklist)


def sliding_hot_words(events: DataFrame, width: str = "60 seconds",
                      slide: str = "10 seconds",
                      watermark: str | None = None) -> DataFrame:
    """Event-time sliding-window counts per event_type. With a watermark,
    append mode emits finalized windows and the state store evicts old
    windows — the late-data handling the reference lacked entirely."""
    src = events.withWatermark("ts", watermark) if watermark else events
    agg = (
        src.groupBy(F.window("ts", width, slide), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    return agg.select(
        F.col("window.start").alias("w_start"),
        F.col("window.end").alias("w_end"),
        "event_type", "cnt",
    )


def top3_per_window_foreach_batch(k: int = 3):
    """foreachBatch body for per-trigger partitioned top-k over the
    sliding-window aggregate — the Top3HotProduct pattern. Returns a
    (DataFrame, epoch_id) -> DataFrame function; callers sink the result
    (console/parquet/jdbc)."""
    from pyspark.sql.window import Window as W

    def rank_batch(batch_df: DataFrame, _epoch_id: int) -> DataFrame:
        w = W.partitionBy("w_start", "w_end").orderBy(
            F.col("cnt").desc(), F.col("event_type").asc()
        )
        return (
            batch_df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    return rank_batch


def dedup_stream(records: DataFrame, keys: list[str],
                 watermark: tuple[str, str] | None = None) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicates`` on key columns holds
    seen-keys in the state store, so duplicates are caught even when the
    copies arrive in DIFFERENT micro-batches — semantics a per-batch
    DStream pipeline cannot express at all (SURVEY.md §7 stage 3).
    Pass ``watermark=(ts_col, delay)`` in production so seen-key state is
    evicted once duplicates can no longer arrive; without it state grows
    with distinct keys (fine for bounded replays only)."""
    src = records
    if watermark is not None:
        src = src.withWatermark(*watermark)
    return src.dropDuplicates(keys)


def dedup_stream_within_watermark(records: DataFrame, keys: list[str],
                                  ts_col: str = "ts",
                                  delay: str = "10 seconds") -> DataFrame:
    """Streaming dedup with BOUNDED state — ``dropDuplicatesWithinWatermark``
    (SPARK-42931, the modern spelling): a key's seen-state is EVICTED as
    soon as the watermark passes its event time + ``delay``, so the state
    store holds only the keys of the last dedup window — O(arrival rate ×
    window), not :func:`dedup_stream`'s O(every key ever), which is the
    difference between a bounded and an unbounded state store on an
    infinite stream. The contract is weaker by exactly the window:
    duplicates farther apart than ``delay`` in event time pass through —
    the right trade for at-least-once transports, whose redeliveries
    cluster near the original. First arrival is emitted immediately
    (append mode, no finalization latency)."""
    return records.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(
        keys)


class VersionedState:
    """The one owner of the fold sinks' on-disk state: one ``v{epoch}``
    parquet directory per published epoch under ``state_dir``, plus a
    ``CURRENT`` marker file naming the published version. A version is
    one parquet directory, or a directory of named parquet directories
    when :meth:`publish` gets a ``{name: frame}`` dict
    (:func:`transition_fold_sink`'s ``pairs``/``last``); :meth:`before`
    and :meth:`current` return the shape that was published.

    This is the Structured Streaming spelling of the reference's MySQL
    running-state upsert (``PersistWordCount.java:76-97``), and the
    versioned-state-store half of Structured Streaming's exactly-once
    recipe (SIGMOD 2018: an offset log plus a state store that keeps the
    last few versions):

    * publishes are ATOMIC for readers: the new version is written in
      full before ``CURRENT`` is swapped to it (a temp marker moved over
      the old one with ``os.replace``);
    * epoch replay is IDEMPOTENT: a sink folds epoch n into
      ``before(n)`` — the newest version BELOW n, never CURRENT — so
      re-running epoch n rewrites v{n} from v{n-1}: same input, same
      bytes. On a replay CURRENT already points at v{n}; reading it
      while overwriting the same directory would race the lazy scan
      against the rewrite (observed FAILED_READ_FILE);
    * retention is BUILT IN: after each swap only the newest ``KEEP`` =
      2 versions stay (never CURRENT's target) — enough for a replay of
      the newest epoch to find its predecessor, the state store's
      ``minBatchesToRetain`` = 2. Without it a live fold keeps one full
      table per epoch on disk, without bound;
    * state between epochs rides the version directories, so a restart
      resumes from the newest version without replaying the stream.

    A full rewrite per epoch is the honest cost of a keyed fold on raw
    parquet — bounded by state size, not stream length; a table
    format's (Delta/Iceberg) MERGE amortizes it with file-level pruning.

    A read of the version this handle last published uses that frame's
    schema, so the forward fold's predecessor read skips the parquet
    footer inference, a Spark job per read. Any other version (a fresh
    handle after a restart, a final-state reader, an epoch replay) is
    inferred: a fold's schema can change between versions (a decimal
    SUM widens its precision), so one version's schema must not read
    another. Parquet reads come back all-nullable either way."""

    KEEP = 2

    def __init__(self, spark, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir
        # (version, {part name: schema}) of the last publish; "" = one frame
        self._published = (None, {})

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.state_dir):
            return []
        return sorted(int(d[1:]) for d in os.listdir(self.state_dir)
                      if d.startswith("v") and d[1:].isdigit())

    def _read(self, version: str):
        vdir = os.path.join(self.state_dir, version)
        published, schemas = self._published
        if version != published:
            parts = [d for d in os.listdir(vdir) if d[0] not in "_."
                     and os.path.isdir(os.path.join(vdir, d))] or [""]
            schemas = {
                p: self.spark.read.parquet(os.path.join(vdir, p)).schema
                for p in parts}
        frames = {p: self.spark.read.schema(s).parquet(
            os.path.join(vdir, p)) for p, s in schemas.items()}
        return frames[""] if "" in frames else frames

    def before(self, epoch: int):
        """The newest version below ``epoch``, or ``None`` (first epoch)."""
        prior = [v for v in self._versions() if v < epoch]
        return self._read(f"v{max(prior)}") if prior else None

    def publish(self, epoch: int, frames) -> None:
        """Write ``frames`` (a DataFrame, or ``{name: DataFrame}``) as
        v{epoch}, swap CURRENT to it, then drop all but the newest
        ``KEEP`` versions."""
        parts = frames if isinstance(frames, dict) else {"": frames}
        version = f"v{epoch}"
        for p, df in parts.items():
            df.write.mode("overwrite").parquet(
                os.path.join(self.state_dir, version, p))
        self._published = (version, {p: df.schema
                                     for p, df in parts.items()})
        tmp = os.path.join(self.state_dir, "CURRENT.tmp")
        with open(tmp, "w") as fh:
            fh.write(version)
        os.replace(tmp, os.path.join(self.state_dir, "CURRENT"))
        for v in self._versions()[:-self.KEEP]:
            if v != epoch:
                shutil.rmtree(os.path.join(self.state_dir, f"v{v}"),
                              ignore_errors=True)

    def current(self):
        """The published state: the version CURRENT names."""
        with open(os.path.join(self.state_dir, "CURRENT")) as fh:
            return self._read(fh.read().strip())


def scd1_merge_sink(spark, base: DataFrame, key: str, state_dir: str):
    """foreachBatch SCD1 merge sink: maintain a keyed TABLE (not a log)
    from a stream of upserts — each micro-batch full-outer-merges into
    the accumulated state (operators/merge.scd1_merge; ``base`` seeds
    the first epoch) and publishes a new state version. This is the
    Structured Streaming spelling of the reference's MySQL running-count
    upsert (``PersistWordCount.java:76-97``) generalized to whole-row
    type-1 merges, and the documented "upsert with foreachBatch" pattern
    from the Spark guide. State is published through
    :class:`VersionedState` — atomic for readers, idempotent under epoch
    replay, restartable from the newest version; the JDBC twin
    (jdbc_upsert_sink) pays per-row instead of per-table."""
    from spark_streaming_spark.operators.merge import scd1_merge

    state = VersionedState(spark, state_dir)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        prev = state.before(epoch_id)
        state.publish(epoch_id, scd1_merge(
            base if prev is None else prev, batch_df, key))

    return write_batch


def scd2_merge_sink(spark, key: str, ts_col: str, tracked: list[str],
                    state_dir: str):
    """foreachBatch SCD2 sink: maintain a VERSIONED-HISTORY table from a
    stream of change rows — each micro-batch folds into the accumulated
    history via operators/merge.scd2_merge (untouched keys anti-join
    through; affected keys rebuild from compressed-history ∪ batch).
    Published through :class:`VersionedState`, so publishes are atomic
    and epoch replay is idempotent. The stream must be replayed in
    event-time order (scd2_merge's forward-in-time contract — exactly
    what a live change feed delivers); a backfill instead rebuilds from
    the raw log."""
    from spark_streaming_spark.operators.merge import (
        scd2_from_changes, scd2_merge)

    state = VersionedState(spark, state_dir)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        prev = state.before(epoch_id)
        state.publish(epoch_id, (
            scd2_from_changes(batch_df, key, ts_col, tracked)
            if prev is None
            else scd2_merge(prev, batch_df, key, ts_col, tracked)))

    return write_batch


def kmv_sketch_sink(spark, group_col: str, value_col: str,
                    uid_cols: list[str], state_dir: str, k: int = 200):
    """foreachBatch sink maintaining the KMV quantile sketch
    (operators/sketch.kmv_quantile_registers) as STREAMING STATE: each
    micro-batch's registers merge into the accumulated per-group
    bottom-k by hash. The merge is EXACT (bottom-k of a union is the
    bottom-k of the merged bottom-ks), so the final state equals the
    one-shot sketch over the whole stream — the streamed quantile entry
    shares the batch oracle verbatim. State is min(k, n) rows per group
    at ANY stream length, published through :class:`VersionedState` —
    replay-idempotent."""
    from spark_streaming_spark.operators.sketch import (
        kmv_merge, kmv_quantile_registers)

    state = VersionedState(spark, state_dir)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        regs = kmv_quantile_registers(
            batch_df, group_col, value_col, uid_cols, k)
        prev = state.before(epoch_id)
        state.publish(epoch_id,
                      regs if prev is None else kmv_merge(prev, regs, k))

    return write_batch


def counts_fold_sink(spark, batch_counts, key_cols: list[str],
                     sum_cols: list[str], state_dir: str,
                     agg_fns: dict[str, str] | None = None):
    """foreachBatch sink maintaining any MERGEABLE summary table as
    streaming state: ``batch_counts(batch_df)`` summarizes the
    micro-batch into (key_cols, sum_cols) rows, and the fold merges the
    new rows into the accumulated table by key — SUM per column by
    default (the additive case: Σ per-batch tables ≡ one-shot table),
    or any commutative-semigroup merge via ``agg_fns`` (col ->
    "sum"|"min"|"max" — min/max are idempotent semilattice merges, so
    per-column mergeability is exactly what makes the streamed entry
    share the batch oracle verbatim). The stateful-wordcount shape
    generalized: state is O(|keys|) like updateStateByKey, the merge is
    one partial-agged groupBy over state ∪ batch-summary. Published
    through :class:`VersionedState` — replay-idempotent."""
    state = VersionedState(spark, state_dir)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        new = batch_counts(batch_df)
        prev = state.before(epoch_id)
        if prev is not None:
            new = (
                prev.unionByName(new)
                .groupBy(*key_cols)
                .agg(*[getattr(F, (agg_fns or {}).get(c, "sum"))(c)
                       .alias(c) for c in sum_cols])
            )
        state.publish(epoch_id, new)

    return write_batch


def theta_sketch_sink(spark, group_col: str, key_col: str,
                      state_dir: str, k: int = 256):
    """foreachBatch sink maintaining per-group Theta/KMV bottom-k
    DISTINCT sketches (operators/sketch.theta_registers) as streaming
    state: each micro-batch sketches itself, then
    :func:`~spark_streaming_spark.operators.sketch.theta_merge` folds it
    into the accumulated registers. The merge is EXACT (bottom-k of a
    distinct union), so the final state — and every set-algebra estimate
    derived from it — equals the one-shot batch sketch: the streamed
    entry shares the batch oracle verbatim. State is min(k, n_distinct)
    rows per group at ANY stream length, published through
    :class:`VersionedState` — replay-idempotent."""
    from spark_streaming_spark.operators.sketch import (
        theta_merge, theta_registers)

    state = VersionedState(spark, state_dir)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        regs = theta_registers(batch_df, group_col, key_col, k)
        prev = state.before(epoch_id)
        state.publish(epoch_id,
                      regs if prev is None else theta_merge(prev, regs, k))

    return write_batch


def scd2_asof_enrich_sink(spark, key: str, ts_col: str,
                          tracked: list[str], fact_cols: list[str],
                          state_dir: str, log_dir: str):
    """foreachBatch sink for streamed as-of enrichment against a
    CHANGING SCD2 history: each micro-batch first folds its dimension
    changes into the versioned history (the :func:`scd2_merge_sink`
    fold), THEN as-of joins the SAME batch's facts against the
    just-updated history — so epoch n's facts see every version epoch n
    created, which a frozen dimension artifact (the
    `streaming_events_asof_status` spelling) could never serve.

    Exactly-once: the enriched rows land in ``log_dir/epoch_{n}`` with
    per-epoch overwrite, and the history is published through
    :class:`VersionedState` (predecessor read + atomic CURRENT swap),
    so replaying an epoch rewrites both its state version and its log
    slice to the same bytes.

    Oracle-ability: scd2_merge ≡ one-shot rebuild (the
    `streaming_scd2_merge` claim), and a version's interval at any fact
    time t is already final once every change with ts ≤ t has been
    folded — so as long as the replay is event-time ordered (fixed-
    cutoff chunks), the accumulated per-epoch feed equals the BATCH
    as-of join against the full history, with epoch a pure function of
    the fact timestamp. That makes the whole feed — epoch column
    included — hash-checkable by one SQL query."""
    from spark_streaming_spark.operators.merge import (
        scd2_from_changes, scd2_merge, temporal_join)

    state = VersionedState(spark, state_dir)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        changes = batch_df.select(key, ts_col, *tracked)
        prev = state.before(epoch_id)
        if prev is None:
            merged = scd2_from_changes(changes, key, ts_col, tracked)
        else:
            merged = scd2_merge(prev, changes, key, ts_col, tracked)
        merged = merged.localCheckpoint(eager=True)  # one fold, 2 uses
        enriched = temporal_join(
            batch_df.select(*fact_cols),
            merged.drop("is_current"), key, ts_col,
        ).withColumn("epoch", F.lit(epoch_id).cast("int"))
        enriched.write.mode("overwrite").parquet(
            os.path.join(log_dir, f"epoch_{epoch_id}"))
        state.publish(epoch_id, merged)

    return write_batch


def jdbc_upsert_sink(url: str, table: str, properties: dict[str, str]):
    """foreachBatch JDBC sink: batched, parameterized, connection-per-
    partition (Spark's JDBC writer) — replaces the reference's hand-built
    connection pool + string-concatenated INSERTs
    (``ConnectionPool.java:29-54``, ``PersistWordCount.java:87-88``).
    Exercised end-to-end against embedded Derby (the JDBC engine Spark
    ships) in tests/test_streaming.py::
    test_jdbc_sink_end_to_end_embedded_derby; used via:
        stream.writeStream.foreachBatch(jdbc_upsert_sink(...)).start()
    """

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        (
            batch_df.withColumn("epoch_id", F.lit(epoch_id))
            .write.mode("append").jdbc(url, table, properties=properties)
        )

    return write_batch


def session_stream(events: DataFrame, gap=None,
                   watermark: str = "0 seconds") -> DataFrame:
    """Event-time session windows per user over a stream — the stateful
    shape DStreams could not express at all (the reference's windows are
    fixed 60s/10s processing-time slides, ``WindowHotWord.java:52-57``).
    Append mode emits each session exactly once, when the watermark
    passes its close; with event-time-ordered input (replay via
    chunk_to_dir_ordered + a sentinel) the finalized output equals the
    batch session_windows answer.

    Sentinel sessions (user_id < 0) are NOT filtered here: a filter on a
    grouping key would be pushed below the EventTimeWatermark operator
    into the scan, so the sentinel rows would never reach the watermark
    and could not advance it — drop them from the finalized BATCH result
    instead. ``gap`` may be a Column expression for DYNAMIC per-event
    gaps (SPARK-36465) — the streamed spelling of
    operators/windows.dynamic_session_windows.
    Columns: user_id, w_start, w_end, n_events."""
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window(
            "ts", "5 minutes" if gap is None else gap), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    return agg.select(
        "user_id",
        F.col("session_window.start").alias("w_start"),
        F.col("session_window.end").alias("w_end"),
        "n_events",
    )


def two_level_agg_stream(events: DataFrame, width: str = "60 seconds",
                         watermark: str = "10 seconds") -> DataFrame:
    """CHAINED stateful operators in ONE streaming query — multiple
    streaming aggregations (Spark 3.5+/4.x; SPARK-42105): level 1 is the
    tumbling event-time count per (window, event_type); level 2
    re-aggregates level 1 BY ITS WINDOW COLUMN into per-window totals
    (n_events, n_types). Under micro-batching, level 2 only sees a
    level-1 window once the watermark finalizes it — so append mode is
    exact, and with ordered replay + sentinel the finalized output
    equals the batch two-level rollup. DStreams could express neither
    chained state nor the finalization contract.
    Columns: w_start, w_end, n_events, n_types."""
    l1 = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    l2 = (
        l1.groupBy("win")
        .agg(F.sum("cnt").alias("n_events"), F.count("*").alias("n_types"))
    )
    return l2.select(
        F.col("win.start").alias("w_start"),
        F.col("win.end").alias("w_end"),
        "n_events", "n_types",
    )


def pivot_counts_stream(events: DataFrame,
                        types: tuple[str, ...] = (
                            "click", "error", "purchase", "signup", "view",
                        )) -> DataFrame:
    """PIVOT on a stream: ``DataFrame.pivot`` is not streamable (it
    needs the distinct key set up front), but the fixed-category
    conditional-aggregation spelling is — one streaming groupBy(user_id)
    whose state is a single row of per-type counters per user. Run in
    UPDATE mode (per-trigger changed users) + last-epoch-wins merge
    (``replay.run_to_parquet(last_epoch_keys=["user_id"])``): complete
    mode re-emits one row per user EVER SEEN each trigger — O(total
    state) sink traffic per trigger, unusable at billions of users. The
    merged final state equals the batch event_type_pivot (shared
    oracle). Columns: user_id, n_click, n_error, n_purchase, n_signup,
    n_view."""
    aggs = [
        F.count(F.when(F.col("event_type") == t, F.lit(1))).alias(f"n_{t}")
        for t in types
    ]
    return events.groupBy("user_id").agg(*aggs)


def cdc_feed_sink(spark, state_dir: str, log_dir: str):
    """foreachBatch CHANGE-DATA-FEED sink: maintain the per-user
    compressed state (latest event_type by total (ts, event_id) order +
    running event count) AND emit, per epoch, the I/U/D rows the batch
    caused — the open spelling of a table format's change feed (Delta
    CDF / Debezium-style log), built from operators/merge.snapshot_diff
    applied to consecutive state versions.

    Protocol: state is published through :class:`VersionedState`
    (replay-idempotent: re-running epoch n rewrites v{n} AND its log
    slice from v{n-1} — same bytes); the log writes to
    ``log_dir/epoch_{n}`` with per-epoch overwrite, so the accumulated
    feed is exactly-once under retries. The state fold is
    associative (max of (ts, id)-structs; sum of counts), so folded
    state ≡ one-shot snapshot at each epoch boundary — which is what
    the SQL oracle computes."""
    from spark_streaming_spark.operators.merge import snapshot_diff

    state = VersionedState(spark, state_dir)

    def _compress(df):
        return (
            df.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("m"),
                 F.count("*").alias("n_events"))
            .select("user_id", F.col("m.ts").alias("ts"),
                    F.col("m.event_id").alias("event_id"),
                    F.col("m.event_type").alias("event_type"), "n_events")
        )

    def write_batch(batch_df, epoch_id: int) -> None:
        bs = _compress(batch_df)
        prev = state.before(epoch_id)
        if prev is None:
            new = bs
            prev_cmp = spark.createDataFrame([], bs.schema)
        else:
            combined = prev.unionByName(bs)
            new = (
                combined.groupBy("user_id")
                .agg(F.max(F.struct("ts", "event_id",
                                    "event_type")).alias("m"),
                     F.sum("n_events").alias("n_events"))
                .select("user_id", F.col("m.ts").alias("ts"),
                        F.col("m.event_id").alias("event_id"),
                        F.col("m.event_type").alias("event_type"),
                        "n_events")
            )
            prev_cmp = prev
        new = new.localCheckpoint(eager=True)  # one fold, two consumers
        diff = (
            snapshot_diff(
                prev_cmp.select("user_id", "event_type", "n_events"),
                new.select("user_id", "event_type", "n_events"),
                "user_id", ["event_type", "n_events"])
            .withColumn("epoch", F.lit(epoch_id))
        )
        diff.write.mode("overwrite").parquet(
            os.path.join(log_dir, f"epoch_{epoch_id}"))
        state.publish(epoch_id, new)

    return write_batch


def transition_fold_sink(spark, state_dir: str):
    """foreachBatch sink maintaining the first-order Markov TRANSITION
    COUNTS across micro-batches with CROSS-BATCH stitching: state is
    (a) the accumulated (from_type, to_type, n_trans) table and (b) each
    user's LAST event — the boundary row that lets a batch's first event
    pair up with the previous batch's last one, which a per-batch-only
    fold would miss. Requires event-time-ordered replay (every batch's
    min ts >= the prior state's max ts) and ENFORCES it with a loud
    per-epoch guard — on an out-of-order feed the stitch would silently
    undercount, so refusing beats drifting. State is O(|type pairs|) +
    O(|users|), published through :class:`VersionedState` as two named
    frames (``pairs``, ``last``) — replay-idempotent."""
    from pyspark.sql.window import Window

    state = VersionedState(spark, state_dir)

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.select("user_id", "ts", "event_id", "event_type")
        prev = state.before(epoch_id)
        if prev is not None:
            prev_pairs, prev_last = prev["pairs"], prev["last"]
            # guard on the FULL (ts, event_id) order key — the same key
            # the stitch window sorts by. A strict ts-only check would
            # pass a batch event with ts EQUAL to the stored last-event
            # ts but a smaller event_id, which then sorts BEFORE the
            # state row and silently stitches differently than the
            # one-shot batch oracle.
            bmin = batch.agg(
                F.min(F.struct("ts", "event_id"))).first()[0]
            smax = prev_last.agg(
                F.max(F.struct("ts", "event_id"))).first()[0]
            if bmin is not None and smax is not None \
                    and (bmin[0], bmin[1]) < (smax[0], smax[1]):
                raise RuntimeError(
                    f"transition fold requires ordered replay: batch min "
                    f"(ts, event_id) {tuple(bmin)} < state max "
                    f"{tuple(smax)}")
            ext = (prev_last.withColumn("__st", F.lit(True))
                   .unionByName(batch.withColumn("__st", F.lit(False))))
        else:
            ext = batch.withColumn("__st", F.lit(False))
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        led = ext.select(
            "user_id", "ts", "event_id",
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
            F.lead("__st").over(w).alias("__to_st"),
        )
        delta = (
            led.filter(F.col("to_type").isNotNull() & ~F.col("__to_st"))
            .groupBy("from_type", "to_type")
            .agg(F.count("*").cast("long").alias("n_trans"))
        )
        pairs = delta if prev is None else (
            prev_pairs.unionByName(delta)
            .groupBy("from_type", "to_type")
            .agg(F.sum("n_trans").cast("long").alias("n_trans"))
        )
        last = (
            ext.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "event_type")).alias("m"))
            .select("user_id", "m.ts", "m.event_id", "m.event_type")
        )
        state.publish(epoch_id, {"pairs": pairs, "last": last})

    return write_batch
