"""Per-query profiler for optimization rounds.

For each named queries() entry: one warm-up pass, then N timed passes
through the noop sink with clearCache between (bench.py methodology),
reporting per pass the wall seconds and, from Spark's event log
(perfbench.eventlog), the jobs, tasks, executor CPU seconds and shuffle
MB written/read; optionally dumps .explain('formatted') to a file. Job
count is the lever this repo's gate-scale rows live or die by (documents
@ sf0.1 = 5000 rows: the wall is scheduling + plan construction, not
data). Each pass runs in its own job group, `profile:<name>:pass<i>`.

Usage:
  python scripts/profile_query.py name1 [name2 ...] [--sf DIR] [--passes N]
         [--explain-dir plans/r13] [--suffix before]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from perfbench.eventlog import group_totals, merge  # noqa: E402
from scale_bench import _session  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    ev_dir = tempfile.mkdtemp(prefix="profile_ev_")
    spark = _session("profile", ev_dir)
    sc = spark.sparkContext
    qs = entry_mod.queries()
    from flouds_vectordb_spark import queries as Q

    qs = {**qs, **{f"ext:{n}": q for n, q in Q.extended_queries().items()}}

    walls: dict[str, list[tuple[str, float]]] = {}
    try:
        for name in args.names:
            q = qs[name]
            sc.setJobGroup(f"profile:{name}:warmup", "warmup")
            df = q(spark, args.sf)
            df.write.mode("overwrite").format("noop").save()
            if args.explain_dir:
                os.makedirs(args.explain_dir, exist_ok=True)
                p = os.path.join(args.explain_dir, f"{name.replace(':', '_')}_{args.suffix}.txt")
                with open(p, "w") as f:
                    f.write(df._jdf.queryExecution().explainString(
                        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
                print(f"  explain -> {p}")
            for i in range(args.passes):
                spark.catalog.clearCache()
                group = f"profile:{name}:pass{i}"
                sc.setJobGroup(group, group)
                t0 = time.perf_counter()
                q(spark, args.sf).write.mode("overwrite").format("noop").save()
                walls.setdefault(name, []).append((group, time.perf_counter() - t0))
            spark.catalog.clearCache()
    finally:
        spark.stop()
    time.sleep(1.0)  # let the event log's last records land
    totals = group_totals(ev_dir)
    shutil.rmtree(ev_dir, ignore_errors=True)
    for name, passes in walls.items():
        print(f"{name}: best {min(dt for _, dt in passes):.3f}s")
        for group, dt in passes:
            t = merge(totals, group)
            print(f"  {group}: {dt:.3f}s  {int(t['jobs'])} jobs  "
                  f"{int(t['tasks'])} tasks  {t['executor_cpu_s']:.2f} cpu-s  "
                  f"shuffle {t['shuffle_write_mb']:.2f}/{t['shuffle_read_mb']:.2f} MB w/r")
    return 0


if __name__ == "__main__":
    sys.exit(main())
