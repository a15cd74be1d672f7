"""Clustered/Zipf synthetic campaign (r3 verdict task #3).

The run_syntheticdata*.cmd twin: non-uniform point families at n>=8M,
k=10 and the reference's k=30 variant (run_syntheticdata3.cmd:1), with
the drift-robust alternation protocol of tools/run_scaling.py:

  * clustered (2-decimal-quantized coords + zipf cluster skew ->
    duplicate-heavy with hot values -> the salted grid MUST fire:
    x_splits non-empty is asserted in-job)
  * zipf (heavy-tailed y)

For each family at k=10 the 2:8 pair is measured as a tight 2,8
alternation (median of adjacent ratios, ALU + mem-BW calibration
burns before every Spark run); the k=30 variants run as single-level
local[32] throughput rows (grid/k sensitivity evidence, not a second
scaling campaign).

Usage: python tools/run_synthetic.py [n] [alternations]
Writes BENCH/SYNTHETIC.md.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from run_scaling import mem_bw, raw_cpu  # noqa: E402

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
n = {n}
k = {k}
family = {family!r}
spark = get_spark("synthetic")
w = spark.range(2000).select((F.col("id")+1).alias("id"), lcg_x(F.col("id")).alias("x"), lcg_y(F.col("id")).alias("y"))
all_knn_join(w, w, k=5, num_stripes=max(2, cpus)).count()   # warm codegen/workers
if family == "clustered":
    pts = clustered_points(spark, n, num_clusters=64, quantize=2, skew="zipf").persist()
else:
    pts = zipf_points(spark, n).persist()
pts.count()
grid, _ = plan_grid(pts, k)
if family == "clustered":
    assert grid.x_splits, "quantized clustered data must fuse boundaries and salt"
times = []
for rep in range(2):
    t0 = time.time(); all_knn_join(pts, pts, k=k, grid=grid).count(); times.append(time.time() - t0)
print("JSONRESULT " + json.dumps({{"cpus": cpus, "family": family, "k": k,
    "sec": min(times), "all": times, "stripes": grid.num_stripes,
    "salted_stripes": len(grid.x_splits)}}))
spark.stop()
"""


def run_level(cpus: int, n: int, family: str, k: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    last = ""
    for a in range(2):
        out = subprocess.run(
            [sys.executable, "-c", JOB.format(repo=REPO, n=n, family=family, k=k)],
            capture_output=True, text=True, env=env, timeout=3600,
        )
        for line in out.stdout.splitlines():
            if line.startswith("JSONRESULT "):
                return json.loads(line[len("JSONRESULT "):])
        last = out.stderr[-2000:]
        print(f"{family} k={k} cpus={cpus} attempt {a}: no result, retrying", file=sys.stderr)
    raise RuntimeError(f"no result: {last}")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 8_000_000
    alternations = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    families = sys.argv[3].split(",") if len(sys.argv) > 3 else ["clustered", "zipf"]
    scaling_rows = []
    for family in families:
        ratios, bw_ratios = [], []
        prev = None
        meta = None
        for i in range(alternations):
            for lvl in (2, 8):
                bwv = mem_bw(lvl)
                hwv = raw_cpu(lvl)
                r = run_level(lvl, n, family, 10)
                meta = r
                print(f"{family} alt{i} local[{lvl}]: {r['sec']:.1f}s (all "
                      f"{[round(t, 1) for t in r['all']]}) salted={r['salted_stripes']} "
                      f"bw {bwv/1e9:.1f}GB/s hw {hwv/1e6:.0f}M/s", flush=True)
                if prev is not None and prev[0] == 2 and lvl == 8:
                    ratios.append(prev[1] / r["sec"])
                    bw_ratios.append(bwv / prev[2])
                prev = (lvl, r["sec"], bwv)
        sp = statistics.median(ratios)
        bw_sp = statistics.median(bw_ratios)
        scaling_rows.append(
            {
                "family": family,
                "speedup": sp,
                "eff": sp / 4.0,
                "bw_eff": bw_sp / 4.0,
                "ratios": [round(x, 2) for x in ratios],
                "stripes": meta["stripes"],
                "salted": meta["salted_stripes"],
            }
        )
        write_md(n, alternations, scaling_rows, [])

    k30_rows = []
    write_md(n, alternations, scaling_rows, k30_rows)
    for family in families:
        r = run_level(32, n, family, 30)
        k30_rows.append(r)
        print(f"{family} k=30 local[32]: {r['sec']:.1f}s stripes={r['stripes']} "
              f"salted={r['salted_stripes']}", flush=True)
        write_md(n, alternations, scaling_rows, k30_rows)


def write_md(n, alternations, scaling_rows, k30_rows):
    lines = [
        "# BENCH/SYNTHETIC — clustered/Zipf campaign (run_syntheticdata twin)",
        "",
        f"all-kNN self-join at n={n:,}; clustered = 64 zipf-skewed quantized (2-decimal)",
        "Gaussian blobs — duplicate-heavy, so quantile boundaries fuse and",
        "the salted grid fires (asserted in-job: x_splits non-empty);",
        "zipf = heavy-tailed y (alpha=1.5). Prebuilt grid (index reuse),",
        "best-of-2 reps per fresh process, tight 2,8 alternation x"
        f"{alternations}, median of adjacent ratios (drift protocol of",
        "tools/run_scaling.py).",
        "",
        "## k=10 scaling (local[2] -> local[8])",
        "",
        "| family | speedup | efficiency | mem-BW ceiling eff | adjacent ratios | stripes | salted stripes |",
        "|---|---|---|---|---|---|---|",
    ]
    for row in scaling_rows:
        lines.append(
            f"| {row['family']} | {row['speedup']:.2f}x | {row['eff']:.2f} | "
            f"{row['bw_eff']:.2f} | {row['ratios']} | {row['stripes']} | {row['salted']} |"
        )
    lines += [
        "",
        "## k=30 variant (run_syntheticdata3.cmd:1), local[32] throughput",
        "",
        "| family | best sec | pts/s | stripes | salted stripes |",
        "|---|---|---|---|---|",
    ]
    for r in k30_rows:
        lines.append(
            f"| {r['family']} | {r['sec']:.1f} | {n / r['sec']:.0f} | "
            f"{r['stripes']} | {r['salted_stripes']} |"
        )
    lines += [
        "",
        "Notes:",
        "* The k=30 grid uses the auto formula sqrt(|T|/30) — fewer, taller",
        "  stripes than k=10, with the margin radius scaling accordingly;",
        "  correctness at both k is driver-oracle-checked",
        "  (aknn_customer_self / aknn_customer_self_k30) and",
        "  differential-tested on the clustered-quantized family",
        "  (tests/test_aknn.py::test_clustered_zipf_differential).",
        "* Salting evidence: 'salted stripes' counts the stripes that",
        "  received x-substripes; the clustered family's in-job assert",
        "  fails the whole run if salting does not arm.",
    ]
    path = os.path.join(REPO, "BENCH", "SYNTHETIC.md")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
