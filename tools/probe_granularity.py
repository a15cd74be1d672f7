"""Shuffle-partition granularity probe for the skewed-family campaign.

The 8M/20M clustered+zipf scaling rows sit at eff 0.65-0.72 vs uniform's
0.80: one suspect is task granularity — get_spark sizes
spark.sql.shuffle.partitions at 2x cores, so the stage-1 cogroup runs in
4 tasks at local[2] / 16 at local[8] over ~120 skew-sized cells, and AQE
can only coalesce (never split) Arrow cogroups. This probe interleaves
partition multipliers at both levels on the same corpus, one fresh
process per (mult, level) pair, tight alternation.

Usage: python tools/probe_granularity.py [n] [family] [mults...]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = r"""
import sys, time, json
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from spark_aknn.session import get_spark, default_cpus
from spark_aknn.points import lcg_x, lcg_y
from spark_aknn.point_tables import clustered_points, zipf_points
from spark_aknn.aknn import all_knn_join
from spark_aknn.grid import plan_grid

cpus = default_cpus()
spark = get_spark("granularity", shuffle_partitions={mult} * cpus)
w = spark.range(2000).select((F.col("id")+1).alias("id"), lcg_x(F.col("id")).alias("x"), lcg_y(F.col("id")).alias("y"))
all_knn_join(w, w, k=5, num_stripes=max(2, cpus)).count()
if {family!r} == "clustered":
    pts = clustered_points(spark, {n}, num_clusters=64, quantize=2, skew="zipf").persist()
else:
    pts = zipf_points(spark, {n}).persist()
pts.count()
grid, _ = plan_grid(pts, 10)
times = []
for rep in range(2):
    t0 = time.time(); all_knn_join(pts, pts, k=10, grid=grid).count(); times.append(time.time() - t0)
print("JSONRESULT " + json.dumps({{"cpus": cpus, "mult": {mult}, "sec": min(times), "all": times}}))
spark.stop()
"""


def run(cpus: int, n: int, family: str, mult: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    out = subprocess.run(
        [sys.executable, "-c", JOB.format(repo=REPO, n=n, family=family, mult=mult)],
        capture_output=True, text=True, env=env, timeout=1800,
    )
    for line in out.stdout.splitlines():
        if line.startswith("JSONRESULT "):
            return json.loads(line[len("JSONRESULT "):])
    raise RuntimeError(out.stderr[-1500:])


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    family = sys.argv[2] if len(sys.argv) > 2 else "clustered"
    mults = [int(m) for m in sys.argv[3:]] or [2, 8]
    # tight interleave: for each mult, local[2] then local[8], then next
    # mult — adjacent pairs share a drift window; 2 sweeps
    for sweep in range(2):
        for mult in mults:
            r2 = run(2, n, family, mult)
            r8 = run(8, n, family, mult)
            print(
                f"sweep{sweep} mult={mult}: local[2] {r2['sec']:.1f}s {r2['all']} | "
                f"local[8] {r8['sec']:.1f}s {r8['all']} | ratio {r2['sec']/r8['sec']:.2f}",
                flush=True,
            )


if __name__ == "__main__":
    main()
