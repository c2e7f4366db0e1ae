"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload live_ingest --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout of the engine. It generates its inputs
from ``--seed`` under ``.perfbench_work/`` (removed at exit), runs the
workload on ``local[4]``, checks the outputs, prints a readable summary and,
as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones
(spans are written to ``.perfbench_out/``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 2
DEFAULT_SF = 0.02
MASTER = "local[4]"
DRIVER_MEMORY = "2g"
HARD_LIMIT_S = 170   # a run never outlives this, result or not

# query-progress phases that read the source; the others are the trigger's
SOURCE_PHASES = ("latestOffset", "getOffset", "setOffsetRange", "getBatch")
SELF_LAYERS = ("operators", "exec", "sources.batch", "replay.start",
               "replay.await", "replay.readback", "sink", "trigger",
               "source", "idle", "unattributed")


def _engine_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "spark_streaming_spark")))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def stop_jvm(kill: bool = False) -> None:
    """End the JVM that PySpark launched and wait until it has exited (it
    exits when its stdin closes; ``kill`` does not ask). The next session
    launches a new one."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    if kill:
        proc.kill()
    else:
        gw.shutdown()
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = SparkContext._jvm = None


class Run:
    """One run: its arguments, its private directories, the Spark session
    and (with ``--trace 1``) the tracer."""

    def __init__(self, args) -> None:
        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.trace = args.seconds, bool(args.trace)
        self.sf = args.sf
        self.root = ROOT
        self.work = os.path.join(
            ROOT, ".perfbench_work",
            f"{self.workload}-s{self.seed}-t{int(self.trace)}-{os.getpid()}")
        self.data_dir = os.path.join(self.work, "data")
        self.spark = None
        self.tracer = None
        self.prepared = None
        self.blacklist = None
        self.table_rows: dict[str, int] = {}
        self.setup_s: list[float] = []
        self.session_ms: list[float] = []
        self.listener = None
        self.rss = None

    # -- environment -----------------------------------------------------
    def isolate(self) -> None:
        """Point every scratch location of Python, the JVM, Spark and the
        engine's replay harness into this run's directory."""
        for d in ("tmp", "spark-local", "scratch"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        # spark-submit's own launcher JVM would write /tmp/hsperfdata_*
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        # the engine sizes its shuffle width from these when it is imported
        os.environ["SPARK_GRAFT_CPUS"] = MASTER[len("local["):-1]
        os.environ.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
        import tempfile

        tempfile.tempdir = None
        from spark_streaming_spark.streaming import replay

        replay._SCRATCH_BASE = os.path.join(self.work, "scratch")

    def conf(self) -> dict[str, str]:
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # No hsperfdata file under /tmp: the run writes only below its
            # own directory. A fixed heap and young generation: with G1's
            # adaptive sizing, peak RSS fell on either side of a heap
            # expansion (1.4 or 1.8 GB on the same input) from run to run.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} "
                f"-XX:-UsePerfData -Xms{DRIVER_MEMORY} -Xmn512m",
        }

    # -- set-up ------------------------------------------------------------
    def _reset_engine_caches(self) -> None:
        import __spark_entry__ as E
        from spark_streaming_spark.streaming import replay

        E._CHUNK_CACHE.clear()
        E._ORDERED_CHUNK_CACHE.clear()
        E._COSCHED_RESULTS.clear()
        replay._SCHEMA_CACHE.clear()
        E._CHUNK_CACHE_BASE = os.path.join(self.work, "chunks")
        shutil.rmtree(E._CHUNK_CACHE_BASE, ignore_errors=True)

    def _release(self) -> None:
        if hasattr(self.prepared, "close"):
            self.prepared.close()
        self.prepared = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, prepare) -> None:
        """Session start + input preparation, SETUP_REPS times from
        scratch, each in a newly launched JVM; the last one is kept.
        ``setup_s`` is their median."""
        from perfbench import gen
        from perfbench.tracing import RssSampler
        from spark_streaming_spark.session import get_spark

        for _ in range(SETUP_REPS):
            self._release()
            stop_jvm()
            if self.rss is not None:
                self.rss.stop()
            shutil.rmtree(self.data_dir, ignore_errors=True)
            self._reset_engine_caches()
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench", master=MASTER,
                                   extra_conf=self.conf())
            t1 = time.perf_counter()
            self.spark.sparkContext.setLogLevel("ERROR")
            # peak memory of the kept set-up and the workload after it
            jvm = self.spark._jvm.java.lang.ProcessHandle.current().pid()
            self.rss = RssSampler([os.getpid(), int(jvm)])
            if self.tracer is not None:
                self.tracer.sc = self.spark.sparkContext
                self.tracer.enabled = True
            self.table_rows = gen.write_tables(self.data_dir, self.seed,
                                               self.sf)
            self.prepared = prepare(self)
            if self.tracer is not None:
                self.tracer.enabled = False
            t2 = time.perf_counter()
            self.setup_s.append(t2 - t0)
            self.session_ms.append((t1 - t0) * 1000)

    # -- tracing -----------------------------------------------------------
    def install_tracing(self) -> None:
        import __spark_entry__ as E
        from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

        from perfbench.tracing import Tracer
        from spark_streaming_spark.streaming import replay

        tr = self.tracer = Tracer()
        tr.wrap(E, "load_table", "sources.batch")
        tr.wrap(E, "_chunked_table", "replay.chunk_build")
        tr.wrap(DataStreamWriter, "start", "replay.start")
        tr.wrap(StreamingQuery, "awaitTermination", "replay.await")
        for owner in (replay._ParquetRun, E._SinkRun, E._MergedRun):
            tr.wrap(owner, "finish", "replay.readback")
        tr.wrap_callback(DataStreamWriter, "foreachBatch", "sink")

    def _stream_layers(self, progress: list[dict], n: float) -> dict:
        def dur(p, k):
            return p.get("durationMs", {}).get(k, 0)

        k = max(1, len(progress))
        ops = [op for p in progress for op in p.get("stateOperators", [])]
        last_ops = progress[-1].get("stateOperators", []) if progress else []
        return {
            "trigger.count": len(progress) / n,
            "trigger.ms": sum(dur(p, "triggerExecution") for p in progress) / k,
            "trigger.latest_offset_ms":
                sum(dur(p, "latestOffset") for p in progress) / k,
            "trigger.planning_ms":
                sum(dur(p, "queryPlanning") for p in progress) / k,
            "trigger.wal_commit_ms":
                sum(dur(p, "walCommit") for p in progress) / k,
            "trigger.add_batch_ms":
                sum(dur(p, "addBatch") for p in progress) / k,
            "trigger.commit_ms":
                sum(dur(p, "commitOffsets") for p in progress) / k,
            "state.rows_total": sum(op.get("numRowsTotal", 0)
                                    for op in last_ops),
            "state.memory_bytes": max((op.get("memoryUsedBytes", 0)
                                       for op in ops), default=0),
            "state.commit_ms": sum(op.get("commitTimeMs", 0)
                                   for op in ops) / k,
            "state.rows_removed": sum(op.get("numRowsRemoved", 0)
                                      for op in ops) / n,
        }

    def _spans_in(self, layer: str, windows) -> list:
        return [s for s in self.tracer.spans
                if s.layer == layer and s.t1
                and any(a <= s.t0 <= b for a, b in windows)]

    def _common_layers(self, windows, n: float, jobs, stages) -> dict:
        from perfbench import tracing as T

        def total(layer):
            return sum((s.t1 - s.t0) * 1000
                       for s in self._spans_in(layer, windows)) / n

        def failed(*layers):
            return sum(s.failed for layer in layers
                       for s in self._spans_in(layer, windows))

        setup_chunks = [s for s in self.tracer.spans
                        if s.layer == "replay.chunk_build"
                        and not any(a <= s.t0 <= b for a, b in windows)]
        ex = T.exec_metrics(jobs, stages, windows)
        for key in ("exec.jobs", "exec.job_busy_ms", "exec.driver_gap_ms",
                    "exec.task_ms", "exec.task_cpu_ms", "exec.shuffle_bytes",
                    "exec.input_bytes"):
            ex[key] /= n
        readback = self._spans_in("replay.readback", windows)
        return {
            "session.start_ms": statistics.median(self.session_ms),
            "sources.batch.calls":
                len(self._spans_in("sources.batch", windows)) / n,
            "sources.batch.ms": total("sources.batch"),
            "sources.batch.failed": failed("sources.batch"),
            "operators.build_ms": total("operators"),
            "operators.build_jobs": T.jobs_in(
                jobs, self._spans_in("operators", windows)) / n,
            "operators.failed": failed("operators", "exec"),
            **ex,
            "replay.start_ms": total("replay.start"),
            "replay.await_ms": total("replay.await"),
            "replay.readback_ms": sum(
                self.tracer.self_ms(self.tracer.spans.index(s))
                for s in readback) / n,
            "replay.chunk_build_ms": sum(
                (s.t1 - s.t0) * 1000 for s in setup_chunks) / SETUP_REPS,
            "replay.failed": failed("replay.start", "replay.await",
                                    "replay.readback"),
            "sink.calls": len(self._spans_in("sink", windows)) / n,
            "sink.ms": total("sink"),
            "sink.jobs": T.jobs_in(jobs, self._spans_in("sink", windows)) / n,
            "sink.failed": failed("sink"),
        }

    def layer_metrics(self, roots, windows, n, overhead) -> dict:
        """Per-layer metrics of a closed-loop run, per traced pass."""
        from perfbench import tracing as T

        time.sleep(1.0)  # let the listener bus deliver the last progress
        tr = self.tracer
        tr.link()
        jobs, stages = T.read_status_store(self.spark.sparkContext,
                                           windows[0][0])
        progress = [p for p in self.listener.events
                    if any(a <= T.iso_seconds(p["timestamp"]) <= b
                           for a, b in windows)]
        by_layer = tr.self_by_layer(roots)
        wall = sum(b - a for a, b in windows) * 1000
        unattributed = sum(tr.self_ms(r) for r in roots)
        out = {
            **self._common_layers(windows, n, jobs, stages),
            **self._stream_layers(progress, n),
            "source.backlog_rows": 0.0,
            "source.files_per_trigger": 0.0,
            "generator.late_ms_p99": 0.0,
            "generator.rows": 0.0,
        }
        by_layer["unattributed"] = unattributed
        for layer in SELF_LAYERS:
            out[f"self.{layer}_ms"] = by_layer.get(layer, 0.0) / n
        out["trace.coverage"] = 1.0 - unattributed / wall
        out["trace.overhead_pct"] = overhead
        return out

    def live_layers(self, progress, manifest, batches, t0, end, late,
                    files_in_batch, overhead) -> dict:
        """Per-layer metrics of the live run (totals over the run)."""
        from perfbench import tracing as T

        tr = self.tracer
        windows = [(t0, end)]
        jobs, stages = T.read_status_store(self.spark.sparkContext, t0)
        # micro-batches that started in the window (they end by ``end``,
        # the end of the last data batch)
        progress = [p for p in progress if T.iso_seconds(p["timestamp"]) < end]
        for p in progress:
            a = T.iso_seconds(p["timestamp"])
            tr.add("trigger", str(p["batchId"]),
                   a, a + p["durationMs"].get("triggerExecution", 0) / 1000)
        tr.link()
        triggers = [s for s in tr.spans if s.layer == "trigger"]
        sinks = self._spans_in("sink", windows)
        wall = (end - t0) * 1000
        busy = T.union_ms([(s.t0, s.t1) for s in triggers], t0, end)
        sink_ms = sum((s.t1 - s.t0) * 1000 for s in sinks)
        # a micro-batch's phases from its progress: the source's offset
        # and batch reads, and the rest (planning, WAL, addBatch, which
        # holds the sink, commit); what no phase covers is unattributed
        source_ms = phases_ms = unattributed = 0.0
        for p in progress:
            d = dict(p["durationMs"])
            total = d.pop("triggerExecution", 0)
            source_ms += sum(d.get(k, 0) for k in SOURCE_PHASES)
            phases_ms += sum(d.values())
            unattributed += max(0, total - sum(d.values()))
        # rows renamed into the watched dir but not yet read, per trigger
        backlog, cum = [], 0
        for cum_after, start, _end, p in batches:
            arrived = sum(f["rows"] for f in manifest if f["actual"] <= start)
            backlog.append(max(0, arrived - (cum_after - p["numInputRows"])))
        out = {
            **self._common_layers(windows, 1.0, jobs, stages),
            **self._stream_layers(progress, 1.0),
            "source.backlog_rows": statistics.mean(backlog) if backlog else 0,
            "source.files_per_trigger":
                statistics.mean(files_in_batch.values()),
            "generator.late_ms_p99": sorted(late)[
                min(len(late) - 1, int(len(late) * 0.99))],
            "generator.rows": float(sum(f["rows"] for f in manifest)),
        }
        by_layer = {"source": source_ms, "sink": sink_ms,
                    "trigger": max(0.0, phases_ms - source_ms - sink_ms),
                    # between micro-batches the query waits for the
                    # generator's next file (open loop)
                    "idle": wall - busy, "unattributed": unattributed}
        for layer in SELF_LAYERS:
            out[f"self.{layer}_ms"] = by_layer.get(layer, 0.0)
        out["trace.coverage"] = sum(
            by_layer[k] for k in ("source", "sink", "trigger", "idle")) / wall
        out["trace.overhead_pct"] = overhead
        return out


def _remove_work(run: Run) -> None:
    shutil.rmtree(run.work, ignore_errors=True)
    try:  # the parent too, unless another run is using it
        os.rmdir(os.path.dirname(run.work))
    except OSError:
        pass


def _stamp(run: Run) -> dict:
    """Where and on what the run happened; kept apart from the metrics."""
    import duckdb
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):  # never a parent's repo
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha1()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, fs in os.walk(os.path.join(ROOT, "spark_streaming_spark")):
        files += [os.path.join(d, f) for f in fs if f.endswith(".py")]
    for f in sorted(files):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return {"commit": commit, "engine_sha1": h.hexdigest(),
            "cores": os.cpu_count(), "loadavg_before": os.getloadavg(),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "master": MASTER, "sf": run.sf}


def _cpu_ticks() -> list[int]:
    """The machine's cumulative CPU ticks by state (``/proc/stat``)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def _steal_share(t0: list[int], t1: list[int]) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``_cpu_ticks`` readings (the ``steal`` column). On a shared virtual
    host it is what slows whole runs: a run with 12% steal took twice the
    wall time of one with none."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else None


def _calibrate(spark) -> dict:
    """Fixed machine-speed probes (driver Python, Spark all-core), so a
    slower host can be told from an engine change. Run after the
    workload, when the JVM is warm."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    py = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(20_000_000, numPartitions=4).selectExpr("sum(id % 7)").collect()
    return {"cal_py_s": py, "cal_spark_s": time.perf_counter() - t0}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("live_ingest", "replay_groups"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF,
                    help="scale factor of the generated tables")
    args = ap.parse_args(argv)
    if not _engine_present():
        print(f"perfbench: no engine at {ROOT} (__spark_entry__.py and "
              f"spark_streaming_spark/ are missing)", file=sys.stderr)
        return 2
    sys.path[0] = ROOT  # not perfbench/: its modules are not top-level
    run = Run(args)
    spec = _spec()
    wanted = spec["per_layer" if run.trace else "end_to_end"]

    def give_up():
        print(f"perfbench: run exceeded {HARD_LIMIT_S}s", file=sys.stderr)
        if hasattr(run.prepared, "close"):
            run.prepared.close()
        if "pyspark" in sys.modules:
            stop_jvm(kill=True)
        _remove_work(run)
        os._exit(3)

    watchdog = threading.Timer(HARD_LIMIT_S, give_up)
    watchdog.daemon = True
    watchdog.start()
    try:
        phases = {}
        t = time.perf_counter()
        os.makedirs(run.work)
        run.isolate()  # before the engine is first imported

        from perfbench import workloads as W

        prepare, body = {
            "live_ingest": (W.prepare_live, W.live_ingest),
            "replay_groups": (W.prepare_replay, W.replay_groups),
        }[run.workload]
        stamp = _stamp(run)
        ticks = [_cpu_ticks()]
        if run.trace:
            run.install_tracing()
        run.setup(prepare)
        phases["setup_s"] = time.perf_counter() - t
        ticks.append(_cpu_ticks())
        if run.trace:
            from perfbench.tracing import progress_listener

            run.listener = progress_listener()
            run.spark.streams.addListener(run.listener)
        t = time.perf_counter()
        result = body(run)
        phases["workload_s"] = time.perf_counter() - t
        ticks.append(_cpu_ticks())
        stamp["steal_share"] = {"setup": _steal_share(*ticks[:2]),
                                "workload": _steal_share(*ticks[1:])}
        peak = run.rss.stop()
        stamp.update(_calibrate(run.spark))
        stamp["loadavg_after"] = os.getloadavg()
        stamp["phases"] = phases
    except Exception:  # noqa: BLE001 — report, clean up, exit non-zero
        traceback.print_exc()
        return 1
    finally:
        try:
            run._release()
            if "pyspark" in sys.modules:
                stop_jvm()
        finally:
            _remove_work(run)
            watchdog.cancel()

    values = {**result.metrics, "setup_s": statistics.median(run.setup_s),
              "peak_rss_mb": peak}
    if run.trace:
        values = result.layers
    metrics = {m["name"]: {"value": float(values[m["name"]]),
                           "unit": m["unit"]} for m in wanted}
    failed_ratio = result.failed / result.attempted
    print(f"perfbench {run.workload} seed={run.seed} seconds={run.seconds} "
          f"trace={int(run.trace)}")
    for name, m in metrics.items():
        print(f"  {name:28s} {m['value']:.6g} {m['unit']}")
    print(f"  {'failed_ratio':28s} {failed_ratio:.6g} "
          f"({result.failed}/{result.attempted})")
    print("  notes " + json.dumps(result.notes, default=str))
    print("  env " + json.dumps(stamp, default=str))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    detail = {"stamp": stamp, "metrics": metrics, "notes": result.notes,
              "setup_s": run.setup_s,
              "spans": run.tracer.to_json() if run.tracer else None}
    with open(os.path.join(
            out_dir, f"{run.workload}-s{run.seed}-t{int(run.trace)}.json"),
            "w") as fh:
        json.dump(detail, fh, default=str)
    print(json.dumps({"correct": result.failed == 0,
                      "attempted": result.attempted,
                      "failed": result.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
