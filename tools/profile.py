"""Optimization profiler.

For each named query: capture ``explain("formatted")`` to
``plans/rNN/<name>_<tag>.txt`` (``NN`` = ``--round``), time the
noop-sink run (same methodology as bench.py: warm, clearCache,
timed), and report the jobs and tasks of the first timed run.

Usage:
    python tools/profile.py --round 16 --only 'llm_video_frames|llm_jpeg' \
        [--tag before] [--sf-dir /root/testdata/sf0.1] [--no-plan]
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

# replace (not prepend to) the script's own directory: left on the
# path, this file would shadow the stdlib ``profile`` that cProfile
# imports
sys.path[0] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

from zolo_spark import parity_queries  # noqa: E402
from zolo_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", type=int, required=True)
    ap.add_argument("--only", required=True)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()

    plans_dir = os.path.join(REPO, "plans", f"r{args.round:02d}")
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_spark("zolo_profile")
    names = [n for n in sorted(parity_queries.REGISTRY)
             if re.search(args.only, n)]
    for name in names:
        spec = parity_queries.REGISTRY[name]
        df = spec.fn(spark, args.sf_dir)
        if not args.no_plan:
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(plans_dir, f"{name}_{args.tag}.txt"),
                      "w") as f:
                f.write(plan)
        spark.sparkContext.setJobDescription(f"{name} warm")
        df.write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        best = None
        jobs = tasks = 0
        for rep in range(args.reps):
            group = f"{name}-r{rep}"
            spark.sparkContext.setJobGroup(group, f"{name} timed")
            t0 = time.perf_counter()
            spec.fn(spark, args.sf_dir).write.format(
                "noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
            if rep == 0:
                st = spark.sparkContext.statusTracker()
                jids = st.getJobIdsForGroup(group)
                jobs = len(jids)
                sids = {s for j in jids
                        for s in (st.getJobInfo(j).stageIds
                                  if st.getJobInfo(j) else [])}
                tasks = sum(st.getStageInfo(s).numTasks for s in sids
                            if st.getStageInfo(s))
            spark.catalog.clearCache()
        print(f"{name}: {best:.3f} s  jobs={jobs} tasks={tasks}")
    spark.stop()


if __name__ == "__main__":
    main()
