"""Per-entry optimization profiler (guide §1): time named queries()
entries with the noop sink on the bench session settings and write each
entry's .explain("formatted") to PLANS_DIR/<name>_<tag>.txt.

Usage: python scripts/profile_entries.py [--sf SF_DIR] [--reps N]
           [--tag before|after|none] [--plans-dir PLANS_DIR] name...

--plans-dir is required unless --tag is none (the default); past
rounds wrote to plans/r14 and plans/r15.

Timing methodology matches bench.py (noop sink, per-entry min over
reps); plans are captured AFTER the timed runs so AQE/broadcast state
matches what the bench sees. Co-scheduled/replay entries get a plan of
their final read (the streaming plan itself is not a batch explain).
"""
import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E  # noqa: E402
from spark_streaming_spark.session import get_spark  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--tag", default="none")
    ap.add_argument("--plans-dir",
                    help="where the plans go, e.g. plans/r16")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    if args.tag != "none" and not args.plans_dir:
        ap.error("--tag writes plans: give --plans-dir")

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    if args.plans_dir:
        os.makedirs(args.plans_dir, exist_ok=True)

    results = {}
    for rep in range(args.reps):
        for name in args.names:
            fn = qs[name]
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.perf_counter()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            results.setdefault(name, []).append(dt)
            spark.sparkContext.setJobDescription(None)
    for name in args.names:
        ts = results[name]
        print(f"{name}: min={min(ts):.3f}  all={['%.3f' % t for t in ts]}")
        if args.tag != "none":
            df = qs[name](spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(args.plans_dir,
                                   f"{name}_{args.tag}.txt"), "w") as fh:
                fh.write(plan)
    spark.stop()


if __name__ == "__main__":
    main()
