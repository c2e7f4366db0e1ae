"""The benchmark's workloads.

* ``live_ingest`` (open loop): a separate generator process renames one
  parquet file per tick into a watched directory; one streaming query
  (explicit-schema file source -> ``dedup_stream_within_watermark`` ->
  ``foreachBatch`` into ``counts_fold_sink``, whose summarizer applies
  ``blacklist_stream``) ingests them. Then three burst files are
  dropped, ``LIVE_BURST_GAP_S`` apart.
* ``replay_groups`` (closed loop, one client): every member of a fixed
  set of co-scheduled availableNow replay groups, once per pass.

Each workload function takes a :class:`perfbench.run.Run` and returns a
:class:`Result`; correctness is checked once per run outside the timed
part.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

from perfbench import oracle

# -- workload constants (also stated in BENCHMARK.json / README.md) ----------

LIVE_RATE = 10.0          # files/s in the paced phase
LIVE_ROWS_PER_FILE = 100
LIVE_WARM_FILES = 40      # paced like the schedule, before it; not sampled
LIVE_BURSTS = 3
LIVE_BURST_FILES = 200    # event-time seconds (files' worth) per burst
LIVE_BURST_GAP_S = 2.0    # paced phase -> burst 1 -> burst 2 -> burst 3
LIVE_DEADLINE_S = 60.0    # an event not emitted by then is a failure
LIVE_STATE_PARTITIONS = 4

REPLAY_GROUPS = ("rs_documents", "dedup_replays")
REPLAY_CHUNKED = ("documents",)  # plain 3-chunk caches those groups read
# the source tables those groups replay: their rows, each table counted
# once, are the fixed input a pass drains
REPLAY_TABLES = ("documents", "events")


@dataclass
class Result:
    metrics: dict[str, float]
    attempted: int
    failed: int
    notes: dict = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    v = sorted(values)
    return v[min(len(v) - 1, max(0, int(-(-q * len(v) // 100)) - 1))]


# -- closed loop -------------------------------------------------------------

def _check_entries(run, entries) -> dict[str, str]:
    """One untimed call per entry, compared with its oracle answer as
    ``tests/conftest.assert_matches_oracle`` compares them; returns the
    mismatches by entry."""
    import __spark_entry__ as E

    from tests.conftest import assert_matches_oracle

    queries, sql = E.queries(), E.oracle_sql()
    con = oracle.connect(run.data_dir)
    bad = {}
    try:
        for n in entries:
            try:
                assert_matches_oracle(queries[n](run.spark, run.data_dir),
                                      con, sql[n])
            except Exception as e:  # noqa: BLE001 — a failed op, reported
                bad[n] = f"{type(e).__name__}: {str(e)[:300]}"
    finally:
        con.close()
    return bad


def _drain(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _call(query, run) -> None:
    _drain(query(run.spark, run.data_dir))


def _closed_loop(run, entries: list[str], rows_per_pass: int) -> Result:
    """Passes over ``entries`` for ``run.seconds`` (at least one; a traced
    run mixes untraced and traced passes); each pass drains
    ``rows_per_pass`` input rows."""
    import __spark_entry__ as E

    queries = E.queries()
    tr = run.tracer
    t_check = time.perf_counter()
    bad = _check_entries(run, entries)
    check_s = time.perf_counter() - t_check
    walls = []
    calls: dict[str, list[float]] = {n: [] for n in entries}
    roots, windows = [], []
    failed = len(bad)
    t_end = time.perf_counter() + run.seconds
    # at least one pass; a traced run alternates untraced and traced
    # passes, starting and ending untraced, so that each traced pass is
    # compared with the untraced passes on both sides of it
    while (len(walls) < 1 + 2 * run.trace or time.perf_counter() < t_end
           or len(walls) % 2 == 0 and run.trace):
        tracing = run.trace and len(walls) % 2 == 1
        if tr is not None:
            tr.enabled = tracing
            root = tr.open("pass", str(len(walls))) if tracing else None
        t_wall0, t0 = time.time(), time.perf_counter()
        for n in entries:
            c0 = time.perf_counter()
            try:
                if tracing:
                    df = tr.call("operators", n, queries[n], run.spark,
                                 run.data_dir, job_group=True)
                    tr.call("exec", n, _drain, df, job_group=True)
                else:
                    _call(queries[n], run)
            except Exception as e:  # noqa: BLE001 — counted, run goes on
                failed += 1
                print(f"perfbench: {n} failed: {e}", file=sys.stderr)
            calls[n].append((time.perf_counter() - c0) * 1000)
        wall = time.perf_counter() - t0
        walls.append(wall)
        if tracing:
            tr.close(root)
            roots.append(root)
            windows.append((t_wall0, time.time()))
    if tr is not None:
        tr.enabled = False

    pooled = [ms for v in calls.values() for ms in v]
    by_pass = [[calls[n][i] for n in entries] for i in range(len(walls))]
    wall_s = statistics.median(walls)
    # medians over passes, so that one pass slowed by the host moves none
    metrics = {
        "wall_s": wall_s,
        "query_p50_ms": statistics.median(
            statistics.median(v) for v in calls.values()),
        "latency_p50_ms": statistics.median(pct(v, 50) for v in by_pass),
        "latency_p90_ms": statistics.median(pct(v, 90) for v in by_pass),
        "drain_rows_per_s": rows_per_pass / wall_s,
    }
    notes = {"passes": len(walls), "pass_walls_s": walls,
             "calls": len(pooled), "entries": len(entries),
             "rows_per_pass": rows_per_pass, "check_s": check_s,
             "mismatches": bad,
             "call_ms": calls}
    result = Result(metrics, len(pooled) + len(entries), failed, notes)
    if run.trace:
        result.layers = run.layer_metrics(
            roots, windows, len(roots),
            overhead=statistics.median(
                (walls[i] * 2 / (walls[i - 1] + walls[i + 1]) - 1) * 100
                for i in range(1, len(walls), 2)))
    return result


def prepare_replay(run) -> None:
    """Build the replay chunk caches the groups read, in this run's own
    directory (never one an earlier run left behind)."""
    import __spark_entry__ as E

    for t in REPLAY_CHUNKED:
        E._chunked_table(run.spark, run.data_dir, t, 3)


def replay_groups(run) -> Result:
    import __spark_entry__ as E

    groups = E.cosched_groups()
    entries = [n for g in REPLAY_GROUPS for n, gg in groups.items()
               if gg == g]
    return _closed_loop(run, entries,
                        sum(run.table_rows[t] for t in REPLAY_TABLES))


# -- open loop ---------------------------------------------------------------

class Feeder:
    """The generator process: started in set-up (it pre-renders every
    file), driven by :meth:`warm` and :meth:`go`, always reaped by
    :meth:`close`."""

    def __init__(self, run, work: str) -> None:
        self.spool = os.path.join(work, "spool")
        self.watch = os.path.join(work, "watch")
        for d in (self.spool, self.watch):
            os.makedirs(d)
        n_paced = max(1, int(round(LIVE_RATE * run.seconds)))
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(run.root, "perfbench", "feeder.py"),
             "--spool", self.spool, "--watch", self.watch,
             "--seed", str(run.seed),
             "--users", str(run.table_rows["customer"]),
             "--warm", str(LIVE_WARM_FILES), "--files", str(n_paced),
             "--rows", str(LIVE_ROWS_PER_FILE),
             "--bursts", str(LIVE_BURSTS),
             "--burst-files", str(LIVE_BURST_FILES),
             "--rate", str(LIVE_RATE), "--burst-gap", str(LIVE_BURST_GAP_S)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self._expect("ready")

    def _expect(self, word: str) -> None:
        line = self.proc.stdout.readline().strip()
        if line != word:
            self.close()
            raise RuntimeError(f"generator said {line!r}, expected {word!r}")

    def _send(self, line: str) -> None:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def warm(self) -> None:
        self._send("warm")
        self._expect("warmed")

    def go(self, t0: float) -> None:
        self._send(f"go {t0}")

    def manifest(self) -> list[dict]:
        self._expect("done")
        self.proc.wait(timeout=30)
        with open(os.path.join(self.spool, "manifest.json")) as fh:
            return json.load(fh)

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait(timeout=30)


def prepare_live(run):
    """Pre-render the run's files in the generator process and build the
    static blacklist side; returns the feeder."""
    from spark_streaming_spark.operators.blacklist import make_blacklist

    work = os.path.join(run.work, "live")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    feeder = Feeder(run, work)
    cust = run.spark.range(run.table_rows["customer"]).withColumnRenamed(
        "id", "c_custkey")
    run.blacklist = make_blacklist(cust).localCheckpoint(eager=True)
    return feeder


LIVE_SCHEMA = ("event_id long, ts timestamp, user_id long, event_type string, "
               "value double, props string")
LIVE_KEYS = ["user_id", "event_type"]


def _expected_counts(feeder, manifest, blacklist_users) -> dict:
    import pyarrow.parquet as pq

    seen, out = set(), {}
    for f in manifest:
        tbl = pq.read_table(os.path.join(feeder.watch, f["name"]),
                            columns=["event_id", "user_id", "event_type"])
        for eid, uid, et in zip(*(tbl.column(c).to_pylist()
                                  for c in tbl.column_names)):
            if eid in seen:
                continue
            seen.add(eid)
            if uid not in blacklist_users:
                out[(uid, et)] = out.get((uid, et), 0) + 1
    return out


def _consumed(q) -> int:
    return sum(p["numInputRows"] for p in q.recentProgress)


def live_ingest(run) -> Result:
    from pyspark.sql import functions as F

    from perfbench.tracing import iso_seconds
    from spark_streaming_spark.streaming import pipelines as P

    spark, feeder, tr = run.spark, run.prepared, run.tracer
    state_dir = os.path.join(run.work, "live", "state")
    ckpt = os.path.join(run.work, "live", "ckpt")
    bl = run.blacklist

    def batch_counts(batch_df):
        return (P.blacklist_stream(batch_df, bl).groupBy(*LIVE_KEYS)
                .agg(F.count("*").alias("cnt")))

    src = spark.readStream.schema(LIVE_SCHEMA).parquet(feeder.watch)
    deduped = P.dedup_stream_within_watermark(
        src, ["event_id"], "ts", "60 seconds")
    sink = P.counts_fold_sink(spark, batch_counts, LIVE_KEYS, ["cnt"],
                              state_dir)
    if tr is not None:
        tr.enabled = True
        tr.sample_epoch = lambda epoch_id: epoch_id % 2 == 1
    # the query keeps the shuffle width it starts with: size its state
    # to the key count, as the engine's replay harness does
    spark.conf.set("spark.sql.shuffle.partitions", str(LIVE_STATE_PARTITIONS))
    q = (deduped.writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt).start())
    try:
        # warm-up files: code generation and the first state versions
        # happen before the measured schedule starts
        feeder.warm()
        t_warm = time.time() + LIVE_DEADLINE_S
        while (_consumed(q) < LIVE_WARM_FILES * LIVE_ROWS_PER_FILE * 0.9
               and time.time() < t_warm and q.exception() is None):
            time.sleep(0.05)
        time.sleep(LIVE_BURST_GAP_S)
        t0 = time.time() + 0.2
        feeder.go(t0)
        manifest = feeder.manifest()
        total = sum(f["rows"] for f in manifest)
        deadline = time.time() + LIVE_DEADLINE_S
        while (_consumed(q) < total and time.time() < deadline
               and q.exception() is None):
            time.sleep(0.05)
        if q.isActive:
            # let the no-data batch that advances the watermark finish:
            # stopping the query inside its foreachBatch call would
            # interrupt the sink
            q.processAllAvailable()
        progress = list(q.recentProgress)
    finally:
        q.stop()
        spark.conf.unset("spark.sql.shuffle.partitions")
        if tr is not None:
            tr.enabled = False

    # map each file to the micro-batch that consumed it (cumulative rows)
    batches, cum = [], 0
    for p in progress:
        if p["numInputRows"] > 0:
            cum += p["numInputRows"]
            start = iso_seconds(p["timestamp"])
            batches.append((cum, start,
                            start + p["durationMs"]["triggerExecution"] / 1000,
                            p))
    lat, drains, missed = [], [], 0
    lat_by_parity: dict[int, list[float]] = {0: [], 1: []}
    files_in_batch: dict[int, int] = {}
    cum, b = 0, 0
    for f in manifest:
        cum += f["rows"]
        while b < len(batches) and batches[b][0] < cum:
            b += 1
        if b == len(batches):
            missed += 1
            continue
        done = batches[b][2]
        if f["kind"] == "burst":
            drains.append(f["rows"] / (done - f["actual"]))
        elif f["kind"] == "paced":
            files_in_batch[b] = files_in_batch.get(b, 0) + 1
            lat.append((done - f["actual"]) * 1000)
            lat_by_parity[batches[b][3]["batchId"] % 2].append(lat[-1])

    # correctness: the fold's final state against the manifest
    bl_users = {r.user_id for r in bl.filter("flag").collect()}
    want = _expected_counts(feeder, manifest, bl_users)
    got = {}
    with open(os.path.join(state_dir, "CURRENT")) as fh:
        state = spark.read.parquet(os.path.join(state_dir, fh.read().strip()))
    for r in state.collect():
        got[(r.user_id, r.event_type)] = r.cnt
    wrong = sum(1 for k in set(want) | set(got) if want.get(k) != got.get(k))

    paced = [batches[i] for i in files_in_batch]
    end = batches[-1][2]
    metrics = {
        "wall_s": end - t0,
        "query_p50_ms": statistics.median(
            bt[3]["durationMs"]["triggerExecution"] for bt in paced),
        "latency_p50_ms": pct(lat, 50),
        "latency_p90_ms": pct(lat, 90),
        "drain_rows_per_s": statistics.median(drains),
    }
    late = [(f["actual"] - f["due"]) * 1000 for f in manifest
            if f["kind"] != "warm"]
    notes = {"files": len(manifest), "latency_samples_files": len(lat),
             "latency_samples_batches": len(files_in_batch),
             "data_batches": len(batches), "rows": total,
             "burst_rows_per_s": drains, "missed_files": missed,
             "wrong_keys": wrong, "generator_late_ms_p99": pct(late, 99)}
    result = Result(metrics, len(manifest) + 1,
                    missed + (1 if wrong else 0), notes)
    if run.trace:
        # odd epochs carried a sink span, even ones did not
        overhead = (statistics.median(lat_by_parity[1])
                    / statistics.median(lat_by_parity[0]) - 1) * 100
        result.layers = run.live_layers(
            [p for p in progress if iso_seconds(p["timestamp"]) >= t0],
            manifest, batches, t0, end, late, files_in_batch, overhead)
    return result
