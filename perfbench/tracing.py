"""Spans, Spark status-store reads and process memory for the benchmark.

Spans are recorded only here, around calls into the engine's layers
(``Tracer.wrap``): nothing inside the engine is changed. A span is
(layer, name, start, end, parent); spans stay in memory and are written
when the run ends. A layer's self time is its spans' duration minus the
part covered by their child spans.
"""

from __future__ import annotations

import bisect
import functools
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    name: str
    t0: float          # wall clock, seconds since the epoch
    t1: float = 0.0
    parent: int | None = None
    main: bool = False  # opened on the driving thread (an anchor span)
    failed: bool = False
    children: list[int] = field(default_factory=list)


class Tracer:
    """Records spans while ``enabled``; wrappers installed by ``wrap`` cost
    one attribute check when disabled."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.enabled = False
        # which foreachBatch epochs get a sink span (live_ingest traces
        # every other epoch, so the untraced ones measure the overhead)
        self.sample_epoch = lambda epoch_id: True
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()

    # -- recording -----------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, layer: str, name: str = "", job_group: bool = False) -> int:
        st = self._stack()
        main = threading.get_ident() == self._main
        sp = Span(layer, name, time.time(), parent=st[-1] if st else None,
                  main=main)
        with self._lock:
            self.spans.append(sp)
            i = len(self.spans) - 1
        st.append(i)
        if job_group and self.sc is not None:
            self.sc.setJobGroup(f"perfbench:{layer}:{name}:{i}", name)
        return i

    def close(self, i: int) -> None:
        self.spans[i].t1 = time.time()
        st = self._stack()
        if st and st[-1] == i:
            st.pop()

    def add(self, layer: str, name: str, t0: float, t1: float) -> None:
        """A span known only after the fact (a micro-batch from query
        progress); it anchors spans opened on other threads."""
        with self._lock:
            self.spans.append(Span(layer, name, t0, t1, main=True))

    def call(self, layer: str, name: str, fn, *args, job_group=False,
             **kwargs):
        """``fn(*args, **kwargs)`` inside a ``layer`` span, which is marked
        failed when the call raises."""
        i = self.open(layer, name, job_group)
        try:
            return fn(*args, **kwargs)
        except Exception:
            self.spans[i].failed = True
            raise
        finally:
            self.close(i)

    def wrap(self, owner, attr: str, layer: str) -> None:
        """Replace ``owner.attr`` by a version that records a ``layer`` span
        around each call while tracing is enabled."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            return tracer.call(layer, attr, orig, *args, **kwargs)

        setattr(owner, attr, traced)

    def wrap_callback(self, owner, attr: str, layer: str) -> None:
        """Replace ``owner.attr(self, fn)`` (``foreachBatch``) by a version
        that registers ``fn`` wrapped in a ``layer`` span per call."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def register(writer, fn):
            def traced(batch_df, epoch_id):
                if not (tracer.enabled and tracer.sample_epoch(epoch_id)):
                    return fn(batch_df, epoch_id)
                return tracer.call(layer, str(epoch_id), fn, batch_df,
                                   epoch_id)
            return orig(writer, traced)

        setattr(owner, attr, register)

    # -- analysis ------------------------------------------------------
    def link(self) -> None:
        """Give each span opened off the driving thread (a foreachBatch
        call) the innermost anchor span that contains its start as
        parent, then fill ``children``."""
        anchors = sorted((s.t0, i) for i, s in enumerate(self.spans) if s.main)
        starts = [t for t, _ in anchors]
        for i, s in enumerate(self.spans):
            if s.parent is None and not s.main:
                k = bisect.bisect_right(starts, s.t0)
                for _, j in reversed(anchors[:k]):
                    a = self.spans[j]
                    if a.t1 >= s.t0 and j != i:
                        s.parent = j
                        break
        for s in self.spans:
            s.children.clear()
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                self.spans[s.parent].children.append(i)

    def self_ms(self, i: int) -> float:
        s = self.spans[i]
        covered = union_ms([(self.spans[c].t0, self.spans[c].t1)
                            for c in s.children], s.t0, s.t1)
        return max(0.0, (s.t1 - s.t0) * 1000 - covered)

    def self_by_layer(self, roots: list[int]) -> dict[str, float]:
        """Self time per layer over the subtrees under ``roots``."""
        out: dict[str, float] = {}
        todo = list(roots)
        while todo:
            i = todo.pop()
            out[self.spans[i].layer] = (out.get(self.spans[i].layer, 0.0)
                                        + self.self_ms(i))
            todo.extend(self.spans[i].children)
        return out

    def to_json(self) -> list[dict]:
        return [{"layer": s.layer, "name": s.name, "t0": s.t0, "t1": s.t1,
                 "parent": s.parent} for s in self.spans]


def union_ms(intervals, lo: float, hi: float) -> float:
    """Length in ms of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total * 1000


def iso_seconds(ts: str) -> float:
    """Epoch seconds of a query-progress timestamp."""
    import datetime

    return datetime.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=datetime.timezone.utc).timestamp()


# -- Spark status store ------------------------------------------------------

def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_status_store(sc, t_lo: float) -> tuple[list[dict], dict[int, dict]]:
    """Jobs submitted since ``t_lo`` and their stages, from Spark's status
    store (present with the UI disabled). Times are epoch seconds."""
    store = sc._jsc.sc().statusStore()
    jobs_seq = store.jobsList(None)
    jobs, stage_ids = [], set()
    for k in range(jobs_seq.size()):
        j = jobs_seq.apply(k)
        t0 = _opt_ms(j.submissionTime())
        if t0 is None or t0 < t_lo:
            continue
        t1 = _opt_ms(j.completionTime()) or t0
        sids = [j.stageIds().apply(m) for m in range(j.stageIds().size())]
        stage_ids.update(sids)
        jobs.append({"id": j.jobId(), "t0": t0, "t1": t1,
                     "failed": str(j.status()) == "FAILED", "stages": sids})
    stages = {}
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    stage_seq = store.stageList(None, False, False,
                                gw.new_array(gw.jvm.double, 0),
                                gw.jvm.java.util.ArrayList())
    for k in range(stage_seq.size()):
        s = stage_seq.apply(k)
        sid = s.stageId()
        if sid not in stage_ids or str(s.status()) == "SKIPPED":
            continue
        n = s.numTasks()
        skew = 1.0
        if n > 1:
            dist = store.taskSummary(sid, s.attemptId(), quantiles)
            if dist.isDefined():
                rt = dist.get().executorRunTime()
                skew = rt.apply(1) / max(rt.apply(0), 1.0)
        stages[sid] = {"tasks": n, "run_ms": s.executorRunTime(),
                       "cpu_ms": s.executorCpuTime() / 1e6,
                       "shuffle_bytes": s.shuffleWriteBytes(),
                       "input_bytes": s.inputBytes(), "skew": skew}
    return jobs, stages


def exec_metrics(jobs: list[dict], stages: dict[int, dict],
                 windows: list[tuple[float, float]]) -> dict[str, float]:
    """The ``exec.*`` layer over the jobs submitted inside ``windows``."""
    inside = [j for j in jobs
              if any(a <= j["t0"] <= b for a, b in windows)]
    wall = sum(b - a for a, b in windows) * 1000
    busy = sum(union_ms([(j["t0"], j["t1"]) for j in inside], a, b)
               for a, b in windows)
    # an adaptive query's later jobs list the stages earlier jobs ran
    sids = {s for j in inside for s in j["stages"]}
    st = [stages[s] for s in sids if s in stages]
    run = sum(s["run_ms"] for s in st)
    return {
        "exec.jobs": len(inside),
        "exec.job_busy_ms": busy,
        "exec.driver_gap_ms": wall - busy,
        "exec.task_ms": run,
        "exec.task_cpu_ms": sum(s["cpu_ms"] for s in st),
        "exec.widest_stage_tasks": max((s["tasks"] for s in st), default=0),
        # task-time-weighted max/median task time of multi-task stages
        "exec.task_skew": (sum(s["skew"] * s["run_ms"] for s in st) / run
                           if run else 1.0),
        "exec.shuffle_bytes": sum(s["shuffle_bytes"] for s in st),
        "exec.input_bytes": sum(s["input_bytes"] for s in st),
        "exec.failed": sum(j["failed"] for j in inside),
    }


def jobs_in(jobs: list[dict], spans: list[Span]) -> int:
    return sum(1 for j in jobs
               if any(s.t0 <= j["t0"] <= s.t1 for s in spans))


# -- memory --------------------------------------------------------------------

def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Samples the summed resident memory of ``pids`` every ``period`` s
    on a daemon thread; ``peak_mb`` is the highest sum seen."""

    def __init__(self, pids: list[int], period: float = 0.05) -> None:
        self.pids, self.period = pids, period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)
        self._t.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb,
                               sum(_rss_mb(p) for p in self.pids))
            self._stop.wait(self.period)

    def stop(self) -> float:
        self._stop.set()
        self._t.join(timeout=5)
        return self.peak_mb


def progress_listener():
    """A StreamingQueryListener keeping every progress event as a dict
    (``.events``), for queries the benchmark does not hold a handle to."""
    import json

    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.events: list[dict] = []

        def onQueryStarted(self, event):  # noqa: N802 (Spark API)
            pass

        def onQueryProgress(self, event):  # noqa: N802
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return _Listener()
