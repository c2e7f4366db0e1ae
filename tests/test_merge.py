"""SCD1 keyed merge (operators/merge.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_streaming_spark.operators.merge import scd1_merge
from spark_streaming_spark.sources.batch import load_table
from tests.conftest import SF_DIR


def test_scd1_merge_semantics(spark):
    cust = load_table(spark, SF_DIR, "customer")
    n = cust.count()
    mod = (cust.filter(F.col("c_custkey") % 7 == 0)
           .withColumn("c_mktsegment", F.lit("UPDATED")))
    ins = cust.filter(F.col("c_custkey") % 11 == 0).withColumn(
        "c_custkey", F.col("c_custkey") + 10_000_000)
    out = scd1_merge(cust, mod.unionByName(ins), "c_custkey")
    n_ins = ins.count()
    assert out.count() == n + n_ins
    # updates won
    assert out.filter(
        (F.col("c_custkey") % 7 == 0) & (F.col("c_custkey") < 10_000_000)
        & (F.col("c_mktsegment") != "UPDATED")).count() == 0
    # untouched rows identical to base
    base_rows = {tuple(r) for r in cust.filter(
        (F.col("c_custkey") % 7 != 0)).collect()}
    out_rows = {tuple(r) for r in out.filter(
        (F.col("c_custkey") % 7 != 0) & (F.col("c_custkey") < 10_000_000)
    ).collect()}
    assert base_rows == out_rows
    # keys unique after merge
    assert out.select("c_custkey").distinct().count() == out.count()


def test_scd1_merge_schema_mismatch_rejected(spark):
    cust = load_table(spark, SF_DIR, "customer")
    with pytest.raises(ValueError):
        scd1_merge(cust, cust.drop("c_name"), "c_custkey")


def test_scd1_merge_sink_stream_equals_batch(spark, tmp_path):
    """The foreachBatch SCD1 sink folds a chunked update stream into the
    same final table the one-shot batch merge produces, and re-running
    an epoch (idempotency under replay) does not change the result."""
    from spark_streaming_spark.operators.merge import scd1_merge
    from spark_streaming_spark.streaming import replay
    from spark_streaming_spark.streaming.pipelines import scd1_merge_sink

    base = spark.createDataFrame(
        [(i, f"n{i}", i * 10.0) for i in range(20)],
        "k long, name string, bal double",
    )
    updates = spark.createDataFrame(
        [(i, f"upd{i}", i * 10.0 + 1) for i in range(0, 20, 3)]
        + [(100 + i, f"new{i}", 0.0) for i in range(4)],
        "k long, name string, bal double",
    )
    chunk_dir = replay.chunk_to_dir(updates, 3)
    state_dir = str(tmp_path / "state")
    import os

    os.makedirs(state_dir, exist_ok=True)
    ckpt = str(tmp_path / "ckpt")
    sink = scd1_merge_sink(spark, base, "k", state_dir)
    try:
        q = (
            replay.stream_from_dir(spark, chunk_dir)
            .writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
    finally:
        replay.cleanup(chunk_dir)

    with open(os.path.join(state_dir, "CURRENT")) as fh:
        cur = fh.read().strip()
    streamed = {tuple(r) for r in spark.read.parquet(
        os.path.join(state_dir, cur)).collect()}
    batch = {tuple(r) for r in scd1_merge(base, updates, "k").collect()}
    assert streamed == batch

    # a later EMPTY batch (trigger with no new files) must publish an
    # identical table — merge is a no-op on an empty update set
    last_epoch = int(cur[1:])
    sink(spark.createDataFrame([], updates.schema), last_epoch + 1)
    with open(os.path.join(state_dir, "CURRENT")) as fh:
        cur2 = fh.read().strip()
    replayed = {tuple(r) for r in spark.read.parquet(
        os.path.join(state_dir, cur2)).collect()}
    assert replayed == streamed


def test_scd2_merge_equals_rebuild_forward_in_time(spark):
    """Under the forward-in-time contract (updates later than all
    history), the delta merge must equal the full-log rebuild exactly —
    including the collapse of an unchanged status across the split
    boundary."""
    import datetime

    from pyspark.sql import functions as F

    from spark_streaming_spark.operators.merge import (
        scd2_from_changes, scd2_merge)

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_type")
    full = scd2_from_changes(ev, "user_id", "ts", ["event_type"])
    cutoff = ev.agg(F.max("ts")).first()[0] - datetime.timedelta(days=7)
    merged = scd2_merge(
        scd2_from_changes(ev.filter(F.col("ts") < F.lit(cutoff)),
                          "user_id", "ts", ["event_type"]),
        ev.filter(F.col("ts") >= F.lit(cutoff)),
        "user_id", "ts", ["event_type"])
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect()))


def test_scd2_backfill_between_collapsed_dupes_needs_raw_log(spark):
    """The documented contract boundary: an out-of-order insert BETWEEN
    two previously-collapsed duplicate versions cannot be recovered from
    the compressed history — merge and raw-log rebuild legitimately
    differ there (A@t1, A@t3 collapse to A@t1; inserting B@t2 must
    resurrect A@t3, which only the raw log still knows)."""
    from spark_streaming_spark.operators.merge import (
        scd2_from_changes, scd2_merge)

    log = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "A"), (1, "2024-01-03 00:00:00", "A")],
        "k long, ts string, s string",
    ).withColumn("ts", F.to_timestamp("ts"))
    backfill = spark.createDataFrame(
        [(1, "2024-01-02 00:00:00", "B")], "k long, ts string, s string"
    ).withColumn("ts", F.to_timestamp("ts"))
    hist = scd2_from_changes(log, "k", "ts", ["s"])
    assert hist.count() == 1  # duplicates collapsed
    merged = scd2_merge(hist, backfill, "k", "ts", ["s"])
    rebuilt = scd2_from_changes(log.unionByName(backfill), "k", "ts", ["s"])
    assert rebuilt.count() == 3  # A, B, A resurrected
    assert merged.count() == 2  # compressed history lost the third


def test_scd2_sink_epoch_replay_idempotent(spark, tmp_path):
    """Replaying an epoch through scd2_merge_sink rewrites the same
    version directory from the same predecessor — same bytes, no
    duplicate versions (the scd1 sink's exactly-once argument)."""
    from spark_streaming_spark.operators.merge import scd2_from_changes
    from spark_streaming_spark.streaming.pipelines import scd2_merge_sink

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_type").limit(200)
    sink = scd2_merge_sink(spark, "user_id", "ts", ["event_type"],
                           str(tmp_path))
    sink(ev, 0)
    first = sorted(map(tuple, spark.read.parquet(
        str(tmp_path / "v0")).collect()))
    sink(ev, 0)  # epoch replay
    assert sorted(map(tuple, spark.read.parquet(
        str(tmp_path / "v0")).collect())) == first


def test_fold_sink_keeps_newest_two_versions(spark, tmp_path):
    """Retention is built into the versioned state: a fold driven
    through 5 epochs keeps only the newest 2 version dirs, CURRENT names
    the newest, and replaying the newest epoch still finds its
    predecessor and rewrites the same rows."""
    import os

    from spark_streaming_spark.streaming.pipelines import counts_fold_sink

    ev = load_table(spark, SF_DIR, "events")

    def counts(df):
        return df.groupBy("event_type").agg(F.count("*").alias("n"))

    def epoch_rows(epoch):
        return ev.filter(F.pmod("event_id", F.lit(5)) == epoch)

    def v4_rows():
        return sorted(map(tuple, spark.read.parquet(
            str(tmp_path / "v4")).collect()))

    sink = counts_fold_sink(spark, counts, ["event_type"], ["n"],
                            str(tmp_path))
    for epoch in range(5):
        sink(epoch_rows(epoch), epoch)
    left = {d for d in os.listdir(tmp_path) if d.startswith("v")}
    assert left == {"v3", "v4"}
    with open(tmp_path / "CURRENT") as fh:
        assert fh.read().strip() == "v4"
    folded = v4_rows()
    assert folded == sorted(map(tuple, counts(ev).collect()))
    sink(epoch_rows(4), 4)  # epoch replay: reads v3, rewrites v4
    assert v4_rows() == folded
    assert {d for d in os.listdir(tmp_path) if d.startswith("v")} == left


def test_fold_replay_rewrites_same_schema(spark, tmp_path):
    """A fold's schema can change between versions (a decimal SUM widens
    its precision by 10 digits each epoch), so replaying epoch 1 must
    read v0 with v0's own schema, not the schema of the v1 frame the
    sink last published: the rewritten v1 keeps its type and rows."""
    from spark_streaming_spark.streaming.pipelines import counts_fold_sink

    ev = load_table(spark, SF_DIR, "events")

    def cents(df):
        return df.groupBy("event_type").agg(
            F.sum(F.col("value").cast("decimal(12,2)")).alias("c"))

    def v1():
        df = spark.read.parquet(str(tmp_path / "v1"))
        return df.schema, sorted(map(tuple, df.collect()))

    halves = [ev.filter(F.pmod("event_id", F.lit(2)) == i) for i in (0, 1)]
    sink = counts_fold_sink(spark, cents, ["event_type"], ["c"],
                            str(tmp_path))
    sink(halves[0], 0)
    sink(halves[1], 1)
    first = v1()
    sink(halves[1], 1)  # epoch replay
    assert v1() == first


def _format_spellings(path):
    """(line, what) of every code spelling of the versioned-state format
    in ``path`` outside pipelines.VersionedState: a CURRENT / CURRENT.tmp
    marker literal (SQL frames such as CURRENT ROW excluded), a
    ``startswith("v")`` version listing, or a ``v{…}`` f-string that
    reaches a call — directly or through a name — as a path or marker."""
    import ast
    import re

    tree = ast.parse(path.read_text())
    docs = {id(n.body[0].value) for n in ast.walk(tree)
            if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef,
                              ast.AsyncFunctionDef))
            and n.body and isinstance(n.body[0], ast.Expr)}
    owner = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.ClassDef) and n.name == "VersionedState":
            owner |= {id(c) for c in ast.walk(n)}
    marker = re.compile(r"\bCURRENT\b(?!\s+ROW)")

    def is_version_fstring(n):
        return (isinstance(n, ast.JoinedStr) and len(n.values) == 2
                and isinstance(n.values[0], ast.Constant)
                and n.values[0].value == "v")

    call_args = [a for n in ast.walk(tree) if isinstance(n, ast.Call)
                 for a in [*n.args, *(k.value for k in n.keywords)]]
    arg_ids = {id(a) for a in call_args}
    arg_names = {a.id for a in call_args if isinstance(a, ast.Name)}
    found = []
    for n in ast.walk(tree):
        if id(n) in owner or id(n) in docs:
            continue
        if (isinstance(n, ast.Constant) and isinstance(n.value, str)
                and marker.search(n.value)):
            found.append((n.lineno, n.value))
        elif (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
              and n.func.attr == "startswith"
              and any(isinstance(a, ast.Constant) and a.value == "v"
                      for a in n.args)):
            found.append((n.lineno, 'startswith("v")'))
        elif is_version_fstring(n) and id(n) in arg_ids:
            found.append((n.lineno, "v{...}"))
        elif (isinstance(n, ast.Assign) and is_version_fstring(n.value)
              and any(isinstance(tg, ast.Name) and tg.id in arg_names
                      for tg in n.targets)):
            found.append((n.lineno, "v{...}"))
    return found


def test_state_format_has_one_owner(tmp_path):
    """The on-disk format of the fold sinks' state (v{epoch} dirs plus
    the CURRENT marker) is spelled only inside VersionedState, across
    the package and the driver entry: no second listing, predecessor
    read, marker swap or final-state reader can creep back in."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    files = [root / "__spark_entry__.py",
             *sorted((root / "spark_streaming_spark").rglob("*.py"))]
    found = {str(f.relative_to(root)): _format_spellings(f) for f in files}
    assert {f: s for f, s in found.items() if s} == {}
    # the check is not vacuous: a pasted reader copy is caught, while a
    # SQL window frame and a v{k} name that never reaches a call are not
    copy = tmp_path / "copy.py"
    copy.write_text(
        "import os\n"
        "def read(spark, d, epoch):\n"
        "    with open(os.path.join(d, 'CURRENT')) as fh:\n"
        "        fh.read()\n"
        "    prior = [x for x in os.listdir(d) if x.startswith('v')]\n"
        "    vdir = f'v{epoch}'\n"
        "    return spark.read.parquet(os.path.join(d, vdir)), prior\n"
        "SQL = 'ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW'\n"
        "cte = f'v{1}'\n")
    assert sorted(w for _, w in _format_spellings(copy)) == [
        "CURRENT", 'startswith("v")', "v{...}"]


def test_temporal_join_every_fact_matches_exactly_one_version(spark):
    """Versions partition each key's timeline, so the as-of-time join is
    1:1 for facts whose key exists in the history — row count preserved,
    no duplicates — and plans as an equi hash join (no nested loop)."""
    from spark_streaming_spark.operators.merge import (
        scd2_from_changes, temporal_join)

    ev = load_table(spark, SF_DIR, "events")
    hist = scd2_from_changes(
        ev.select("user_id", "ts", "event_type"),
        "user_id", "ts", ["event_type"])
    facts = ev.select("event_id", "user_id", "ts")
    out = temporal_join(facts, hist, "user_id", "ts")
    assert out.count() == facts.count()
    assert out.select("event_id").distinct().count() == facts.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_snapshot_diff_emits_iud_and_drops_unchanged(spark):
    from spark_streaming_spark.operators.merge import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, None, 40)],
        "k int, v string, n int")
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "cc", 30), (4, None, 40), (5, "e", 50)],
        "k int, v string, n int")
    out = {r.k: r for r in
           snapshot_diff(old, new, "k", ["v", "n"]).collect()}
    assert set(out) == {1, 3, 5}          # 2 and 4 unchanged (4: NULL==NULL)
    assert out[1].op == "D" and out[1].old_v == "a" and out[1].new_v is None
    assert out[3].op == "U" and (out[3].old_v, out[3].new_v) == ("c", "cc")
    assert out[5].op == "I" and out[5].new_n == 50


def test_cdc_feed_sink_epoch_replay_idempotent(spark, tmp_path):
    """Replaying an epoch rewrites its state version AND log slice from
    the predecessor — same bytes, exactly-once feed."""
    from pyspark.sql import functions as F

    from spark_streaming_spark.streaming.pipelines import cdc_feed_sink

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", "ts", "event_id", "event_type")
    cut = F.lit("2024-01-15").cast("timestamp")
    state, log = str(tmp_path / "state"), str(tmp_path / "log")
    sink = cdc_feed_sink(spark, state, log)
    sink(ev.filter(F.col("ts") < cut), 0)
    sink(ev.filter(F.col("ts") >= cut), 1)

    def feed():
        return {tuple(r) for r in
                spark.read.parquet(log + "/epoch_*").collect()}

    first = feed()
    assert {r[-1] for r in first} == {0, 1}   # both epochs present
    sink(ev.filter(F.col("ts") >= cut), 1)    # epoch replay
    assert feed() == first
    # final folded state == one-shot snapshot over everything
    import os
    with open(os.path.join(state, "CURRENT")) as fh:
        cur = fh.read().strip()
    assert cur == "v1"
    got = {(r.user_id, r.event_type, r.n_events) for r in
           spark.read.parquet(os.path.join(state, cur)).collect()}
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    want = {(r.user_id, r.event_type, r.n_events) for r in
            ev.withColumn("rn", F.row_number().over(w))
            .withColumn("n_events",
                        F.count("*").over(Window.partitionBy("user_id")))
            .filter("rn = 1").collect()}
    assert got == want


def test_scd2_asof_feed_picks_up_new_versions(spark):
    """The changing-history claim, stated directly: epoch>=1 facts in
    the streamed as-of feed join versions whose valid_from is ITSELF in
    epoch>=1 — rows a frozen epoch-0 history artifact could never
    produce (those users/versions didn't exist yet). Also pins feed ==
    batch as-of join against the full history, epoch derived from ts."""
    import __spark_entry__ as E
    from spark_streaming_spark.operators.merge import (
        scd2_from_changes, temporal_join)

    feed = E.queries()["streaming_scd2_asof_feed"](
        spark, SF_DIR).localCheckpoint()
    # (a) versions born after the first cutoff serve later-epoch facts
    picked_new = feed.filter(
        (F.col("epoch") >= 1)
        & (F.col("valid_from") >= F.lit("2024-01-11").cast("timestamp")))
    assert picked_new.count() > 0
    # (b) whole feed == batch join + ts-derived epoch
    ev = load_table(spark, SF_DIR, "events")
    hist = scd2_from_changes(
        ev.select("user_id", "ts", "event_type"),
        "user_id", "ts", ["event_type"])
    batch = temporal_join(
        ev.select("event_id", "user_id", "ts", "value"),
        hist.drop("is_current"), "user_id", "ts",
    ).withColumn("epoch", F.when(
        F.col("ts") < F.lit("2024-01-11").cast("timestamp"), 0
    ).when(
        F.col("ts") < F.lit("2024-01-21").cast("timestamp"), 1
    ).otherwise(2).cast("int"))
    assert feed.exceptAll(batch).count() == 0
    assert batch.exceptAll(feed).count() == 0
