"""Single-query timing harness for A/B trials: same protocol as bench.py
(warmup at sf0.001, best-of-two at sf0.1, noop sink, clearCache between
runs, steal share per run) but for a named subset of queries out of an
arbitrary repo checkout. Usage:

    python scripts/timeq.py <repo_dir> <query> [query ...]

Prints one line: TIMEQ {json}.
"""
import json
import os
import sys

repo = sys.argv[1]
names = sys.argv[2:]
sys.path.insert(0, repo)
os.chdir(repo)

import time  # noqa: E402

import bench  # noqa: E402  (the target repo's bench module)


def _steal_jiffies() -> int:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except Exception:
        return 0


def _stealaware(spark, fn, sf_dir, ncpu):
    """Local copy for repos whose bench predates the instrument."""
    s0 = _steal_jiffies()
    t0 = time.time()
    w = bench.run_one(spark, fn, sf_dir)
    dt = max(time.time() - t0, 1e-9)
    return w, round((_steal_jiffies() - s0) / 100.0 / (ncpu * dt), 3)

allq = {
    **bench.plans.all_queries(),
    **bench.plans.library_queries(),
    **bench.EXTRA_QUERIES,
}
unknown = [n for n in names if n not in allq]
if unknown:
    sys.exit(f"timeq: unknown query name(s): {', '.join(unknown)}")
spark = bench.get_spark(app_name="timeq")
spark.sparkContext.setLogLevel("ERROR")
sf_small = "/root/testdata/sf0.001"
sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
ncpu = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
reps = int(os.environ.get("TIMEQ_REPS", "2"))
out = {}
for n in names:
    fn = allq[n]
    bench.run_one(spark, fn, sf_small)  # warmup (small SF)
    runs = []
    for _ in range(reps):
        spark.catalog.clearCache()
        w, s = _stealaware(spark, fn, sf, ncpu)
        runs.append([round(w, 3), s])
    out[n] = {"runs": runs, "best": min(r[0] for r in runs)}
print("TIMEQ " + json.dumps(out))
spark.stop()
