"""ANN auto-bucket-policy bench (r3 verdict task #1 'done' criterion).

Runs all_pairs_l2_topk at n >= 1e6 synthetic clustered vectors twice per
round — auto bucket policy vs the old fixed num_centroids=16 — in tight
A/B alternation (the host VM's clock speed drifts minutes-to-minutes, so
only adjacent-run ratios are meaningful; see tools/run_scaling.py), and
reports per-(sub-)bucket membership stats for both layouts.

The corpus is generated DISTRIBUTED (mapInArrow over spark.range — no
driver-side materialization): 64 Gaussian clusters with a Zipf-ish size
skew, so the auto policy's hot-bucket sub-splitting actually engages.

Usage: python tools/bench_ann_scale.py [n] [rounds] [mode]
mode 'sandwich' (default) = auto/fixed16/auto rounds; 'auto-only' =
layout stats + `rounds` timed auto runs, no fixed16 leg — the large-n
variant (r4 verdict task 6: confirm the max-bucket-rows bound holds at
8M without paying for the known fixed16 straggler again).
Writes a markdown table to stdout (paste into BENCH/ANN_SCALE.md).
"""

from __future__ import annotations

import sys
import time
from collections.abc import Iterator
from pathlib import Path

import numpy as np
import pyarrow as pa

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from spark_aknn.session import get_spark  # noqa: E402

DIM = 16
N_CLUSTERS = 16
GROUP = 12  # near-dup group size, > k so the kth radius stays in-group


def make_corpus(spark, n: int):
    """Deterministic near-dup-shaped vectors — the ANN tier's design
    workload (embedding near-duplicate detection): n/GROUP tight groups
    of GROUP vectors within ~1e-3 of a shared center; group centers
    drawn from a skew-weighted 16-cluster mixture of TIGHT modes
    (internal spread ~0.05, inter-mode distance ~5), so:

      * the hottest mode holds ~15% of the corpus — a ~300k-row bucket
        a fixed 16-centroid layout cannot split (1 centroid per mode),
        while the auto policy's extra centroids sub-divide it;
      * radii stay tight (a centroid never straddles modes), so the
        ball test prunes and stage 2 is bounded — wall time measures
        STAGE-1 granularity, the thing the bucket policy controls.
        (A mixture with MORE modes than centroids makes parent radii
        span modes, the ball test admits everything, and the bench
        degenerates to quadratic stage 2 — measured and discarded.)

    With GROUP > k every query's kth radius is the in-group ~1e-3.
    Fully distributed and reproducible: every value is a per-row hash."""
    rng = np.random.default_rng(7)
    centers = rng.normal(0.0, 1.0, (N_CLUSTERS, DIM))
    weights = 1.0 / np.sqrt(np.arange(1, N_CLUSTERS + 1))
    cum = np.cumsum(weights / weights.sum())

    def _hash_unit(keys: np.ndarray, salt: int) -> np.ndarray:
        """uniform [0,1) per (key, salt) via splitmix-style mixing."""
        x = keys.astype(np.uint64) + np.uint64(salt) * np.uint64(0x9E3779B97F4A7C15)
        with np.errstate(over="ignore"):
            x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
            x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return ((x ^ (x >> np.uint64(31))) >> np.uint64(11)).astype(np.float64) / 2**53

    def gen(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in it:
            ids = rb.column("id").to_numpy(zero_copy_only=False)
            if len(ids) == 0:
                continue
            grp = ids // GROUP
            cl = np.searchsorted(cum, _hash_unit(grp, 1))
            # group center: tight mode — cluster center + small offset
            goff = np.stack([_hash_unit(grp, 2 + d) - 0.5 for d in range(DIM)], axis=1)
            # member jitter: 1e-3 — the near-dup radius
            moff = np.stack([_hash_unit(ids, 100 + d) - 0.5 for d in range(DIM)], axis=1)
            mat = centers[cl] + 0.1 * goff + 2e-3 * moff
            offs = np.arange(0, (len(ids) + 1) * DIM, DIM, dtype=np.int32)
            vec = pa.ListArray.from_arrays(
                pa.array(offs), pa.array(mat.astype(np.float32).ravel(), type=pa.float32())
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids + 1, type=pa.int64()), vec], names=["vec_id", "embedding"]
            )

    return spark.range(n).mapInArrow(gen, "vec_id long, embedding array<float>")


def bucket_stats(spark, corpus, num_centroids, target_bucket_rows):
    from pyspark.sql import functions as F

    from spark_aknn.pipeline.ann import _assign_home, _salted_buckets, train_centroids

    cmat = train_centroids(corpus, num_centroids)
    bc = spark.sparkContext.broadcast(cmat)
    assigned = _assign_home(corpus, bc, "vec_id", "embedding").persist()
    try:
        members, plan = _salted_buckets(
            assigned, cmat.shape[0], "vec_id", target_bucket_rows
        )
        pdf = members.groupBy("gbucket").agg(F.count(F.lit(1)).alias("c")).toPandas()
        return {
            "parents": int(cmat.shape[0]),
            "global_buckets": plan.num_global,
            "rows_max": int(pdf.c.max()),
            "rows_p50": int(pdf.c.median()),
        }
    finally:
        assigned.unpersist()


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    mode = sys.argv[3] if len(sys.argv) > 3 else "sandwich"
    spark = get_spark("ann_scale_bench")
    corpus = make_corpus(spark, n).persist()
    corpus.count()  # materialize before timing

    from pyspark.sql import functions as F  # noqa: F401

    from spark_aknn.pipeline.ann import (
        _TARGET_BUCKET_ROWS,
        all_pairs_l2_topk,
        auto_num_centroids,
        release_cached,
    )

    auto_c = auto_num_centroids(n)
    print(f"n={n} dim={DIM} auto_num_centroids={auto_c} target={_TARGET_BUCKET_ROWS}")
    layouts = [("auto", None, _TARGET_BUCKET_ROWS)]
    if mode == "sandwich":
        layouts.append(("fixed16", 16, 10**12))  # huge target = no sub-split (old behavior)
    for label, c, tgt in layouts:
        s = bucket_stats(spark, corpus, c if c else auto_c, tgt)
        print(f"  layout[{label}]: {s}")

    # auto / fixed16 / auto sandwich: the fixed16 run (dominated by its
    # unsplit hot-bucket straggler task) is the expensive leg, so it is
    # bracketed by two auto runs — two adjacent ratios per sandwich,
    # robust to the host's slow drift without paying for fixed16 twice.
    def timed(label, kwargs):
        t0 = time.time()
        cnt = all_pairs_l2_topk(corpus, k=10, **kwargs).count()
        dt = time.time() - t0
        release_cached()
        print(f"  {label}: {dt:.1f}s rows={cnt}", flush=True)
        return dt

    if mode == "auto-only":
        times = [timed(f"auto run {r}", {"corpus_count": n}) for r in range(rounds)]
        print("\n| n | runs (s) | best pts/s |")
        print("|---|---|---|")
        best = min(times)
        print(f"| {n} | {', '.join(f'{t:.1f}' for t in times)} | {n / best:.0f} |")
        spark.stop()
        return

    fixed_kwargs = {"num_centroids": 16, "target_bucket_rows": 10**12}
    ratios = []
    rows = []
    for r in range(rounds):
        a1 = timed(f"round{r} auto/1", {})
        fx = timed(f"round{r} fixed16", fixed_kwargs)
        a2 = timed(f"round{r} auto/2", {})
        ratios += [fx / a1, fx / a2]
        rows.append((a1, fx, a2))
    print("\n| round | auto before (s) | fixed16 (s) | auto after (s) | fixed/auto ratios |")
    print("|---|---|---|---|---|")
    for r, (a1, fx, a2) in enumerate(rows):
        print(f"| {r} | {a1:.1f} | {fx:.1f} | {a2:.1f} | {fx/a1:.2f}, {fx/a2:.2f} |")
    print(f"median fixed/auto slowdown: {np.median(ratios):.2f}x")
    spark.stop()


if __name__ == "__main__":
    main()
