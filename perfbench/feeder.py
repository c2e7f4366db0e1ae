"""Open-loop event generator for the ``live_ingest`` workload.

Runs as its own single-threaded process, apart from the engine under test,
so its schedule does not slow when the engine slows.

* Set-up: renders every file of the run into a spool directory
  (events-shaped parquet rows with synthetic ``ts``, about 10%
  retransmitted duplicates, some out-of-order rows), then prints
  ``ready``.
* On ``warm`` from stdin it renames the warm-up files at the paced rate
  and prints ``warmed``.
* On ``go <t0>`` it atomically renames paced file ``k`` into the watched
  directory at ``t0 + k / rate``, then burst ``b`` at ``burst_gap * (b + 1)``
  after the paced phase. Each rename logs its due and its actual time, so
  the generator's own lateness is measured.
* At the end it writes ``manifest.json`` (files, rows, due and actual
  times) and exits.

The rows come from the same seeded events table as :mod:`perfbench.gen`,
with ``ts`` replaced: file ``k`` holds event time ``[k, k + 1)`` seconds
after the base. Out-of-order rows are held back up to ``MAX_HOLD`` files
and duplicates repeat an event from up to ``MAX_DUP_BACK`` files earlier,
both far inside the query's watermark delay, so the expected answer does
not depend on batch boundaries.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024_S = 1_704_067_200
DUP_SHARE = 0.10
OOO_SHARE = 0.05
MAX_HOLD = 3        # files an out-of-order row is held back
MAX_DUP_BACK = 5    # files back a duplicate may repeat from
WATERMARK_DELAY = "60 seconds"  # event time; must exceed both bounds above


def plan_files(seed: int, n_users: int, n_warm: int, n_paced: int,
               rows_per_file: int, n_bursts: int,
               burst_files: int) -> list[tuple[str, pa.Table]]:
    """Deterministic (kind, contents) per file: ``n_warm`` warm-up files,
    ``n_paced`` paced files, then ``n_bursts`` burst files each carrying
    ``burst_files`` files' worth of event time."""
    from perfbench.gen import events_columns

    rng = np.random.default_rng(seed + 1)
    kinds = (["warm"] * n_warm + ["paced"] * n_paced
             + ["burst"] * (n_bursts * burst_files))
    n_slots = len(kinds)
    fresh = rows_per_file - int(round(rows_per_file * DUP_SHARE))
    base = events_columns(rng, n_slots * fresh, n_users)
    base.pop("ts")
    slot = np.repeat(np.arange(n_slots), fresh)
    ts_us = ((EPOCH_2024_S + slot) * 1_000_000
             + rng.integers(0, 1_000_000, slot.size))
    # out-of-order: emit an event up to MAX_HOLD slots after its own slot
    emit = slot + np.where(rng.random(slot.size) < OOO_SHARE,
                           rng.integers(1, MAX_HOLD + 1, slot.size), 0)
    emit = np.minimum(emit, n_slots - 1)
    idx_by_slot = [[] for _ in range(n_slots)]
    for i, s in enumerate(emit):
        idx_by_slot[s].append(i)
    first = [list(ix) for ix in idx_by_slot]
    # duplicates: repeat an event first emitted up to MAX_DUP_BACK back
    for s in range(1, n_slots):
        lo = max(0, s - MAX_DUP_BACK)
        pool = [i for t in range(lo, s) for i in first[t]]
        if pool:
            idx_by_slot[s].extend(
                rng.choice(pool, rows_per_file - fresh).tolist())
    cols = {k: np.asarray(v) for k, v in base.items()}

    def table(idx: list[int]) -> pa.Table:
        ix = np.asarray(sorted(idx), dtype=np.int64)
        return pa.table({
            "event_id": cols["event_id"][ix],
            "ts": pa.array(ts_us[ix].astype("datetime64[us]"),
                           pa.timestamp("us", tz="UTC")),
            "user_id": cols["user_id"][ix],
            "event_type": cols["event_type"][ix],
            "value": cols["value"][ix],
            "props": cols["props"][ix],
        })

    files = [(kinds[s], table(idx_by_slot[s]))
             for s in range(n_warm + n_paced)]
    for k in range(n_bursts):
        lo = n_warm + n_paced + k * burst_files
        files.append(("burst", table([i for s in range(lo, lo + burst_files)
                                      for i in idx_by_slot[s]])))
    return files


def _rename(spool: str, watch: str, name: str) -> float:
    src = os.path.join(spool, name)
    now = time.time()
    os.utime(src, (now, now))  # the file source orders files by mtime
    os.rename(src, os.path.join(watch, name))
    return time.time()


def _sleep_until(t: float) -> None:
    delay = t - time.time()
    if delay > 0:
        time.sleep(delay)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--spool", required=True)
    ap.add_argument("--watch", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--users", type=int, required=True)
    ap.add_argument("--warm", type=int, required=True, help="warm-up files")
    ap.add_argument("--files", type=int, required=True, help="paced files")
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--bursts", type=int, required=True)
    ap.add_argument("--burst-files", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True, help="files/s")
    ap.add_argument("--burst-gap", type=float, required=True,
                    help="seconds between the paced phase and each burst")
    args = ap.parse_args()
    pa.set_cpu_count(1)
    pa.set_io_thread_count(1)

    files = plan_files(args.seed, args.users, args.warm, args.files,
                       args.rows, args.bursts, args.burst_files)
    names = [f"part-{k:05d}.parquet" for k in range(len(files))]
    for name, (_kind, tbl) in zip(names, files):
        pq.write_table(tbl, os.path.join(args.spool, name))
    print("ready", flush=True)

    log = []
    for line in sys.stdin:
        cmd = line.split()
        if cmd == ["warm"]:
            t_warm = time.time()
            for k in range(args.warm):
                due = t_warm + k / args.rate
                _sleep_until(due)
                log.append({"name": names[k], "rows": files[k][1].num_rows,
                            "kind": "warm", "due": due,
                            "actual": _rename(args.spool, args.watch,
                                              names[k])})
            print("warmed", flush=True)
        elif len(cmd) == 2 and cmd[0] == "go":
            break
        else:
            print(f"feeder: unexpected {cmd!r}", file=sys.stderr)
            return 2
    else:
        return 2
    t0 = float(cmd[1])
    end_paced = t0 + args.files / args.rate
    for k in range(args.warm, len(files)):
        kind, tbl = files[k]
        j = k - args.warm
        due = (t0 + j / args.rate if kind == "paced" else
               end_paced + (j - args.files + 1) * args.burst_gap)
        _sleep_until(due)
        log.append({"name": names[k], "rows": tbl.num_rows, "kind": kind,
                    "due": due,
                    "actual": _rename(args.spool, args.watch, names[k])})
    with open(os.path.join(args.spool, "manifest.json"), "w") as fh:
        json.dump(log, fh)
    print("done", flush=True)
    return 0


if __name__ == "__main__":
    # the checkout root, not perfbench/: its modules are not top-level
    sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.exit(main())
