"""Per-head job/stage profile under the exact bench session conf."""
import os, sys, time, json
sys.path.insert(0, "/root/repo"); sys.path.insert(0, "/root/repo/scripts")
os.environ.setdefault("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
from capture_plans import bench_session
import __spark_entry__ as entrymod
import bench as benchmod

sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
spark = bench_session()
spark.sparkContext.setLogLevel("ERROR")
q = entrymod.queries()
tracker = spark.sparkContext.statusTracker()
heads = sys.argv[1].split(",") if len(sys.argv) > 1 else benchmod.HEADS
# warmup
for name in heads:
    q[name](spark, sf_dir).collect()
    spark.catalog.clearCache()
out = {}
missing = 0
for _round in range(3):
    for name in heads:
        grp = f"{name}:{_round}"
        spark.sparkContext.setJobGroup(grp, name)
        t0 = time.perf_counter()
        q[name](spark, sf_dir).collect()
        dt = time.perf_counter() - t0
        jobs = tracker.getJobIdsForGroup(grp)
        # the tracker drops jobs past spark.ui.retainedJobs: 0 stages each
        infos = [tracker.getJobInfo(j) for j in jobs]
        missing += sum(info is None for info in infos)
        nstages = sum(len(info.stageIds) for info in infos if info is not None)
        spark.catalog.clearCache()
        prev = out.get(name)
        if prev is None or dt < prev["sec"]:
            out[name] = {"sec": round(dt, 3), "jobs": len(jobs), "stages": nstages}
for name in heads:
    print(json.dumps({"head": name, **out[name]}))
print(f"jobs with no info in the status tracker (counted as 0 stages): {missing}",
      file=sys.stderr)
spark.stop()
