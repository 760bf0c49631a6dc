"""Job-level breakdown probe: run a query once (after warm-up) inside a
job group and print every Spark job it launched with its stage names —
the measurement tool for deciding WHICH job a scan-family rework should
delete (guide §1: measure first).

Usage: python scripts/job_probe.py query [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
import __spark_entry__ as entrymod


# the thread-local properties setJobGroup sets
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


def main() -> None:
    names = sys.argv[1:]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench.build_session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    warm_dir = "/root/testdata/sf0.001"
    st = spark.sparkContext.statusTracker()
    for name in names:
        try:
            qs[name](spark, warm_dir).write.format("noop") \
                .mode("overwrite").save()
        except Exception as exc:
            print(f"[warm] {name}: {exc}", file=sys.stderr)
        group = f"probe:{name}"
        sc = spark.sparkContext
        prev = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        for k, v in prev.items():   # restore the caller's group
            sc.setLocalProperty(k, v)
        jids = sorted(st.getJobIdsForGroup(group))
        print(f"=== {name}: {len(jids)} jobs, {wall:.3f}s")
        for j in jids:
            ji = st.getJobInfo(j)
            if ji is None:
                print(f"  job {j}: <gone>")
                continue
            stages = []
            for sid in sorted(ji.stageIds):
                si = st.getStageInfo(sid)
                if si is not None:
                    stages.append(f"{sid}:{si.name.split(' at ')[0]}"
                                  f"[{si.numTasks}t]")
                else:
                    stages.append(f"{sid}:?")
            print(f"  job {j}: {' | '.join(stages)}")
    spark.stop()


if __name__ == "__main__":
    main()
