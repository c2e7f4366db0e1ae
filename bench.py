"""Benchmark harness: run every queries() entry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], print ONE
compact JSON line {"metric", "value", "unit", "n_queries", "n_failed",
"sf"} as the final stdout line; the full per-query timing map is written
to BENCH_DETAIL.json next to this file.

Each query is executed with the `noop` sink — full computation, no
driver-side collect — which is what a cluster deployment would measure.

Noise control: TWO full interleaved passes over all queries; report the
per-query MIN. Wall-clock on this box swings ±30% (occasional 2-3x
flukes under noisy-neighbor load), which round 2 showed makes
single-shot numbers unable to detect a real 1.5x regression — the
round-1→2 bench drifted ~1.3-2x on entries whose code never changed.
Min-of-2 across separated-in-time runs bounds that: a fluke must hit
the same query in both passes to survive. The first pass also serves as
the JIT/broadcast warm-up for the second, so the min approximates
steady-state throughput — the number a long-running cluster job sees.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import __spark_entry__ as entrymod
from spark_streaming_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_of(path: str) -> float:
    m = re.search(r"sf([0-9.]+)", path)
    return float(m.group(1)) if m else -1.0


def _calibrate(spark) -> tuple[float, float]:
    """Machine-speed probes for cross-session drift ATTRIBUTION
    (round-8 verdict: totals moved ~1.2x between sessions on unchanged
    code, and round 9 measured the same box running the same commit
    1.7-2x apart hours apart). Two fixed workloads: a single-core
    Python loop (driver speed) and a fixed 32-partition Spark sum
    (scheduler + JVM + all-core throughput). Future rounds divide the
    family totals by these to separate engine regressions from
    noisy-neighbor machine state."""
    t0 = time.perf_counter()
    x = 0
    for i in range(10_000_000):
        x += i
    py = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(200_000_000, numPartitions=32) \
        .selectExpr("sum(id % 7)").collect()
    jvm = time.perf_counter() - t0
    return round(py, 3), round(jvm, 3)


def main() -> None:
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    timings: dict[str, float] = {}
    # warm the JVM + parquet footers with the flagship query once
    entrymod.entry(spark).write.format("noop").mode("overwrite").save()
    cal_py, cal_spark = _calibrate(spark)
    def run_once(name: str, fn) -> float:
        t0 = time.perf_counter()
        try:
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            return round(time.perf_counter() - t0, 4)
        except Exception as e:  # record failures without killing the run
            print(f"bench: {name} FAILED: {e}", file=sys.stderr)
            return -1.0

    for name, fn in queries.items():
        timings[name] = run_once(name, fn)
    # second full pass, per-query min (see module docstring). A query
    # that failed pass 1 gets a second chance; one that fails only
    # pass 2 keeps its pass-1 time.
    for name, fn in queries.items():
        t2 = run_once(name, fn)
        if t2 > 0:
            t1 = timings[name]
            timings[name] = t2 if t1 < 0 else min(t1, t2)
    total = round(sum(t for t in timings.values() if t >= 0), 4)
    # co-scheduled replay groups: a group LEADER's time includes its
    # whole group (members redeem the shared run and report ~0), so the
    # honest cross-round comparison unit for these entries is the
    # FAMILY SUBTOTAL — stamped here so every reader has it without
    # reading __spark_entry__'s member tables (_COSCHED_TABLE)
    groups = entrymod.cosched_groups()
    # batch artifact-sharing families (shared memoized builds): same
    # subtotal-only comparison rule as the replay groups
    batch_fams = entrymod.batch_families()
    fam: dict[str, float] = {}
    for n, t in timings.items():
        g = groups.get(n) or batch_fams.get(n)
        if g is not None and t >= 0:
            fam[g] = fam.get(g, 0.0) + t
    fam = {g: round(v, 4) for g, v in sorted(fam.items())}
    summary = {
        "metric": "total_query_wall_sec",
        "value": total,
        # run id stamped into BOTH the stdout line (the driver's
        # BENCH_rN.json) and the BENCH_DETAIL sidecar, so cross-round
        # comparisons never mix two different boxes/runs (r10 verdict
        # #7: the r10 driver total and the committed detail were
        # different runs with no way to tell)
        "run": f"{time.strftime('%Y%m%dT%H%M%SZ', time.gmtime())}"
               f"-pid{os.getpid()}",
        "unit": "sec",
        "n_queries": len(timings),
        "n_failed": sum(1 for t in timings.values() if t < 0),
        "sf": _sf_of(SF_DIR),
        # family subtotal: the streamed-replay entries carry a fixed
        # harness cost per entry (see streaming/replay.py) — surfacing
        # it separates engine throughput from replay overhead
        "streaming_sec": round(sum(
            t for n, t in timings.items()
            if n.startswith("streaming_") and t >= 0), 4),
        "n_streaming": sum(1 for n in timings if n.startswith("streaming_")),
        "family_subtotals": fam,
        # machine-speed probes (see _calibrate): compare totals ACROSS
        # sessions only after normalizing by these
        "cal_py_sec": cal_py,
        "cal_spark_sec": cal_spark,
    }
    # per-query map goes to a sidecar file: embedding ~95 timings in the
    # stdout line overflowed the driver's tail capture in round 1
    # (BENCH_r01.json parsed:null) — keep the final line short and parse-safe.
    # r15 re-verified the limit before trying to inline it (VERDICT r14
    # "Next round" #2a): every BENCH_r*.json stores tail=2000 chars and
    # parses the final line FROM that capture (r1 overflow precedent), while
    # the 388-entry map needs ~10.3 KB even at 2 dp — physically impossible
    # to inline without breaking the parse, so the sidecar stays the
    # per-query channel and the guard below keeps the line parse-safe.
    detail = {
        n: ({"sec": t, "group": groups[n]} if n in groups
            else {"sec": t, "group": batch_fams[n]} if n in batch_fams
            else t)
        for n, t in timings.items()
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_DETAIL.json"), "w") as fh:
        json.dump({**summary, "queries": detail}, fh, indent=1, sort_keys=True)
    line = json.dumps(summary)
    # the driver parses this line out of a 2000-char output-tail capture;
    # fail LOUD here if growth (new families etc.) ever pushes it past
    # that, instead of silently producing an unparseable BENCH_rN.json
    assert len(line) <= 1900, (
        f"bench summary line {len(line)} chars > 1900: trim it or move "
        f"fields to BENCH_DETAIL.json (driver tail capture is 2000 chars)")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
