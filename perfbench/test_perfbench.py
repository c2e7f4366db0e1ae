"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests run each workload end to end at sf0.001 (about a minute
each); the generator tests need no Spark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import feeder, gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(cwd, *args, timeout=300):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("workload,trace",
                         [(w, t) for w in WORKLOADS for t in (0, 1)])
def test_smoke_emits_every_metric_with_its_unit(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "5", "--seconds", "1",
             "--trace", str(trace), "--sf", "0.001")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    want = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        assert result["metrics"]["trace.coverage"]["value"] >= 0.9


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", WORKLOADS[0], "--seed", "1",
             "--seconds", "1", "--trace", "0", timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_tables_are_a_function_of_the_seed():
    a, b = gen.build_tables(3, 0.001), gen.build_tables(3, 0.001)
    c = gen.build_tables(4, 0.001)
    assert all(a[t].equals(b[t]) for t in gen.TABLES)
    assert not a["events"].equals(c["events"])
    assert a["lineitem"].num_rows == 6000 and a["events"].num_rows == 1000


def test_live_files_duplicate_share_and_out_of_order_bound():
    n_warm, n_paced, rows = 5, 60, 100
    files = feeder.plan_files(seed=9, n_users=150, n_warm=n_warm,
                              n_paced=n_paced, rows_per_file=rows,
                              n_bursts=2, burst_files=20)
    kinds = [k for k, _ in files]
    assert kinds == ["warm"] * n_warm + ["paced"] * n_paced + ["burst"] * 2
    first_file, seen, dups, total = {}, set(), 0, 0
    max_ts = -np.inf
    for k, (_, f) in enumerate(files[:n_warm + n_paced]):
        ids = f.column("event_id").to_numpy()
        ts = f.column("ts").cast("int64").to_numpy() / 1e6
        slot_start = feeder.EPOCH_2024_S + k
        for eid, t in zip(ids, ts):
            total += 1
            if eid in seen:
                dups += 1
                assert k - first_file[eid] <= feeder.MAX_DUP_BACK
                continue
            seen.add(eid)
            first_file[eid] = k
            # an out-of-order row is held back at most MAX_HOLD files
            assert slot_start - t < feeder.MAX_HOLD + 1
        # every row is inside the watermark delay of the newest event time
        assert max_ts - ts.min() < 60
        max_ts = max(max_ts, ts.max())
    assert 0.08 <= dups / total <= 0.12
    assert all(len(f) > 15 * rows for _, f in files[-2:])  # the bursts


def test_generator_schedule_and_lateness(tmp_path):
    spool, watch = tmp_path / "spool", tmp_path / "watch"
    spool.mkdir()
    watch.mkdir()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(ROOT, "perfbench", "feeder.py"),
         "--spool", str(spool), "--watch", str(watch), "--seed", "2",
         "--users", "150", "--warm", "2", "--files", "20", "--rows", "50",
         "--bursts", "2", "--burst-files", "5", "--rate", "20",
         "--burst-gap", "0.5"],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    try:
        assert proc.stdout.readline().strip() == "ready"
        assert not any(watch.iterdir())  # nothing is renamed before asked
        proc.stdin.write("warm\n")
        proc.stdin.flush()
        assert proc.stdout.readline().strip() == "warmed"
        assert len(list(watch.iterdir())) == 2
        t0 = time.time() + 0.2
        proc.stdin.write(f"go {t0}\n")
        proc.stdin.flush()
        assert proc.stdout.readline().strip() == "done"
        assert proc.wait(timeout=10) == 0
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait(timeout=10)
    log = json.loads((spool / "manifest.json").read_text())
    assert [f["kind"] for f in log] == (["warm"] * 2 + ["paced"] * 20
                                        + ["burst"] * 2)
    for k, f in enumerate(log[2:22]):
        assert f["due"] == pytest.approx(t0 + k / 20)
    end_paced = t0 + 20 / 20
    assert log[22]["due"] == pytest.approx(end_paced + 0.5)
    assert log[23]["due"] == pytest.approx(end_paced + 1.0)
    for f in log:
        assert f["actual"] >= f["due"]
        assert (watch / f["name"]).exists()
    assert max(f["actual"] - f["due"] for f in log) < 0.5
