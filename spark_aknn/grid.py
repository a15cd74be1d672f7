"""Two-level grid partitioner: y-stripes, optionally x-substripes.

Level 1 re-expresses the reference's equal-count y-stripes
(/root/reference/PlaneSweepParallel/include/AllKnnResultStripesParallel.h:36-142).
Level 2 is our skew treatment ("salting"): a stripe whose training count
exceeds SALT_FACTOR times the mean is sub-split on x-quantiles into
substripes, each a rectangle cell. The reference load-balances skewed
stripes with dynamic OpenMP/TBB scheduling
(PlaneSweepStripesParallelAlgorithm.h:81) — on Spark the unit of balance
is the shuffle partition, so we split the data itself. A cell is the unit of cogrouping; substripe count 1 everywhere
degenerates to the reference's pure stripe model. plan_grid is the one
way in: it counts, sketches and builds every grid the operators run.

The cell table is tiny (O(#cells)) and driver-resident; it is broadcast
for (a) attaching each point's cell id, (b) the boundary-exchange
frontier's rectangle-distance pruning.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_aknn.localrel import local_df
from spark_aknn.stripes import assign_stripes_multi, auto_num_stripes

NEG_INF = float("-inf")
POS_INF = float("inf")


@dataclass
class Grid:
    """Stripe boundaries + per-stripe x sub-boundaries."""

    y_splits: list[float]  # [-inf, ..., +inf], len S+1
    x_splits: dict[int, list[float]] = field(default_factory=dict)  # stripe -> inner x bounds

    @property
    def num_stripes(self) -> int:
        return len(self.y_splits) - 1

    def num_subs(self, stripe: int) -> int:
        return len(self.x_splits.get(stripe, [])) + 1

    def cells(self) -> list[tuple[int, int, float, float, float, float]]:
        """(stripe_id, sub_id, ylo, yhi, xlo, xhi) for every cell."""
        out = []
        for s in range(self.num_stripes):
            ylo, yhi = self.y_splits[s], self.y_splits[s + 1]
            inner = self.x_splits.get(s, [])
            xs = [NEG_INF, *inner, POS_INF]
            for j in range(len(xs) - 1):
                out.append((s, j, ylo, yhi, xs[j], xs[j + 1]))
        return out


# ceiling on sketch resolution for boundary derivation. The resolution
# actually used is ~2x the stripe count (quantile cost is linear in the
# number of query points, so a fixed 4096-point sketch was paying
# seconds per grid build that a 2S-point sketch gets for ~0.1s), and
# stripe counts are clamped to half the ceiling, so every grid keeps >= 2
# sketch gaps per stripe: 8192 stripes covers auto counts up to
# |T| ~670M at k=10. approxQuantile's cost scales with the relative
# error (summary size), not the probe count, so the high ceiling costs
# nothing below ~2048 stripes; a 4096 ceiling had pushed n>=42M grids
# onto an exact-quantile pass whose fixed 1e-3 rank error fused 56% of
# the 2530 boundaries at n=64M (2530 requested -> 1114 actual on a
# UNIFORM corpus).
QUANTILE_GRID = 16384
# most x-substripes a salted stripe is cut into
MAX_SUBS = 32
# how many times the expected kth radius a stripe's margin must cover
# for the anisotropy merge (splits_from_sketch) to leave it unmerged
ANISOTROPY_SAFETY = 1.3
# a fused stripe is salted when its training count exceeds this many
# times the mean stripe count
SALT_FACTOR = 4.0


def count_and_extent(df: DataFrame) -> tuple[int, tuple[float, float] | None]:
    """(row count, x extent) in one cheap codegen aggregate. The x
    min/max ride along for the anisotropy-aware stripe merge, which
    needs the cross-dimension extent to estimate 2-D density from the
    1-D y-sketch."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.min("x").alias("xlo"), F.max("x").alias("xhi")
    ).collect()[0]
    extent = (float(row["xlo"]), float(row["xhi"])) if row["xlo"] is not None else None
    return int(row["n"]), extent


def quantile_sketch(
    df: DataFrame, col: str = "y", resolution: int = QUANTILE_GRID
) -> list[float]:
    """Equal-mass quantile sketch of ``col`` at ``resolution`` gaps via
    DataFrame.approxQuantile (driver-merged Greenwald-Khanna summaries —
    measured 4-6x cheaper than the percentile_approx expression, whose
    literal probs array costs ~1.5ms/point per run). Boundaries for any
    stripe count <= resolution/2 are then derived driver-side by
    resampling — the reference re-sorts per run
    (AllKnnResultStripes.h:52-84); we pay one aggregate instead.

    The relative error is 1/(4*resolution): the sketch's rank error
    must stay well under the inter-point gap 1/resolution, or adjacent
    quantile queries return the same sample value on large corpora and
    boundaries spuriously FUSE (measured at 6M rows / resolution 1550
    with a fixed 1e-3 error: 775 stripes fused to 715 visibly-unequal
    ones). An empty or all-null column gives an empty sketch."""
    resolution = max(2, min(int(resolution), QUANTILE_GRID))
    probs = [i / resolution for i in range(1, resolution)]
    return [float(v) for v in df.approxQuantile(col, probs, 1.0 / (4 * resolution))]


def sketch_resolution(num_stripes: int) -> int:
    """Resolution giving the anisotropy merge ~2 gaps per stripe."""
    return min(QUANTILE_GRID, max(64, 2 * num_stripes))


def _stripe_gap_masses(sketch: list[float], y_splits: list[float]) -> list[float]:
    """Relative per-stripe masses: sketch gaps falling in each stripe
    [b_i, b_{i+1}). Each gap carries equal mass, so these are row counts
    up to a constant factor — driver-side, no scan. The trailing open
    gap (past the last sketch point) is credited to the last stripe."""
    from bisect import bisect_left

    inner = y_splits[1:-1]
    edges = [0, *[bisect_left(sketch, b) for b in inner], len(sketch)]
    masses = [float(edges[i + 1] - edges[i]) for i in range(len(edges) - 1)]
    if masses:
        masses[-1] += 1.0
    return masses


def splits_from_sketch(
    sketch: list[float],
    num_stripes: int,
    n: int | None = None,
    k: int | None = None,
    x_extent: tuple[float, float] | None = None,
    margin_factor: float = 0.9,
) -> list[float]:
    """Equal-count boundaries resampled from the sketch; duplicate
    boundaries fuse (the duplicate-y rule analogue,
    AllKnnResultStripes.h:205-208).

    With (n, k, x_extent) given, boundaries additionally satisfy the
    ANISOTROPY condition: each stripe's height h and count c obey

        margin_factor*h >= s * E[kth radius] ~ sqrt(k*h*Wx/(pi*c))
        <=>  h*c >= s^2 * k * Wx / (margin_factor^2 * pi)

    with s = ANISOTROPY_SAFETY, i.e. the stripe is tall enough that a
    typical query's kth circle fits inside its own margin. For isotropic
    uniform data the plain equal-count split at the reference's
    sqrt(n/k) count satisfies this with slack (h*c = k vs a bound of
    ~0.66k), so uniform grids are unchanged; for y-crushed distributions
    (heavy-tailed y, all-x mass in a thin band) the equal-count stripes
    in the dense band are far thinner than the 2-D kth radius —
    measured at n=10^6 zipf(1.5): 78.9% of queries escaped and the
    frontier exploded to 38.9M rows (~49 target stripes per escaping
    query), turning stage 2 into an hour-long sort spill at 8M. Greedy
    forward merge of the equal-mass sketch gaps restores margin
    containment; the boundary exchange stays exact either way — this is
    purely a cost bound."""
    if num_stripes <= 1 or not sketch:
        return [NEG_INF, POS_INF]
    m = len(sketch) + 1
    wx = (x_extent[1] - x_extent[0]) if x_extent else 0.0
    if not n or not k or wx <= 0:
        inner: list[float] = []
        for i in range(1, num_stripes):
            q = sketch[min(len(sketch) - 1, max(0, int(round(i * m / num_stripes)) - 1))]
            if not inner or q > inner[-1]:
                inner.append(q)
        return [NEG_INF, *inner, POS_INF]
    m2 = margin_factor**2 if margin_factor > 0 else 1.0
    # a margin whose square underflows to 0 can contain no kth circle
    beta = (ANISOTROPY_SAFETY**2) * k * wx / (m2 * math.pi) if m2 > 0 else POS_INF
    target = n / num_stripes
    mass_q = n / m  # mass of each sketch gap (and of each open tail)
    inner = []
    y_start: float | None = None  # None => (-inf, b) edge stripe: height is unbounded
    acc = 0.0
    for i, b in enumerate(sketch):
        acc += mass_q  # mass of the gap ending at sketch[i] (tail mass for i=0)
        if inner and b <= inner[-1]:
            continue  # duplicate fusion
        if acc >= target and (y_start is None or (b - y_start) * acc >= beta):
            inner.append(b)
            y_start = b
            acc = 0.0
    return [NEG_INF, *inner, POS_INF]


def plan_grid(
    training: DataFrame, k: int | None, num_stripes: int = 0, margin_factor: float = 0.9
) -> tuple[Grid, int]:
    """Plan the grid of an all-kNN join on ``training``'s points: the
    one planning path behind every operator.

    One count+extent aggregate, then the auto stripe count when
    ``num_stripes`` <= 0 (the reference's sqrt(|T|/k)), the clamp to
    QUANTILE_GRID // 2, one quantile sketch sized to the stripe count
    (sketch_resolution), and build_grid with the anisotropy arguments.
    ``k=None`` plans plain equal-count stripes (no anisotropy merge).

    Returns (grid, |T|)."""
    n, x_extent = count_and_extent(training)
    if num_stripes <= 0:
        par = training.sparkSession.sparkContext.defaultParallelism
        num_stripes = auto_num_stripes(n, k, par)
    num_stripes = min(num_stripes, QUANTILE_GRID // 2)
    sketch = quantile_sketch(training, "y", sketch_resolution(num_stripes))
    grid = build_grid(
        training, num_stripes, sketch, k=k, x_extent=x_extent, margin_factor=margin_factor, n_total=n
    )
    return grid, n


def build_grid(
    training: DataFrame,
    num_stripes: int,
    sketch: list[float],
    k: int | None = None,
    x_extent: tuple[float, float] | None = None,
    margin_factor: float = 0.9,
    n_total: int | None = None,
) -> Grid:
    """The grid of a planned sketch: quantile y-splits resampled from
    ``sketch``; oversized stripes (> SALT_FACTOR * mean count) get
    x-quantile substripes sized to bring them back to ~mean.

    ``num_stripes`` is clamped to QUANTILE_GRID // 2, and ``sketch`` (an
    equal-mass quantile sketch of ``training``'s y) must have >= 2 gaps
    per clamped stripe: sketch_resolution sizes one, and plan_grid plans
    the whole grid. A coarser sketch raises ValueError. An empty sketch
    means a side with no y values: one stripe. The per-stripe salting
    scan runs ONLY when boundary fusion or the anisotropy merge signals
    skewed data — with all distinct quantiles and no merging,
    equal-count splits are balanced by construction.

    (k, x_extent, n_total): enables the anisotropy merge in
    splits_from_sketch — stripes tall enough that typical kth circles
    fit their own margin (see splits_from_sketch; exactness never
    depends on it)."""
    num_stripes = min(num_stripes, QUANTILE_GRID // 2)
    if sketch and 2 * num_stripes > len(sketch) + 1:
        raise ValueError(
            f"a {len(sketch) + 1}-gap sketch is too coarse for {num_stripes} stripes: size it "
            "with sketch_resolution(num_stripes), or plan the grid with plan_grid"
        )
    y_splits = splits_from_sketch(
        sketch,
        num_stripes,
        n=n_total,
        k=k,
        x_extent=x_extent,
        margin_factor=margin_factor,
    )
    grid = Grid(y_splits=y_splits)
    actual = len(y_splits) - 1
    fused = actual < num_stripes
    if actual <= 1 or not fused:
        return grid
    # per-stripe masses estimated DRIVER-SIDE from the equal-mass sketch
    # (each sketch gap carries ~n/m rows, so gaps-per-stripe are relative
    # masses) — replaces a whole groupBy-count scan per grid build; the
    # salt decision only ever steered balance, never correctness, and
    # equal-count stripes are only unequal where fusion/merge collapsed
    # sketch gaps, which is exactly what gap counting sees
    counts = dict(enumerate(_stripe_gap_masses(sketch, y_splits)))
    total = sum(counts.values())
    if total == 0:
        return grid
    mean = total / actual
    hot = {s: c for s, c in counts.items() if c > SALT_FACTOR * mean}
    if not hot:
        return grid
    striped = assign_stripes_multi(training, y_splits, ["y"], ["stripe_id"])
    probs_per_stripe = {s: min(MAX_SUBS, max(2, int(round(c / mean)))) for s, c in hot.items()}
    hot_df = striped.filter(F.col("stripe_id").isin(list(hot.keys())))
    # one aggregation pass: per-stripe x-quantiles via percentile_approx
    max_n = max(probs_per_stripe.values())
    probs = [i / max_n for i in range(1, max_n)]
    rows = (
        hot_df.groupBy("stripe_id")
        .agg(F.percentile_approx("x", probs, 10000).alias("qs"))
        .collect()
    )
    for row in rows:
        s = row["stripe_id"]
        n_sub = probs_per_stripe[s]
        # pick the quantiles matching this stripe's target substripe count
        want = [i / n_sub for i in range(1, n_sub)]
        qs_all = dict(zip(probs, row["qs"]))
        inner: list[float] = []
        for p in want:
            # nearest computed prob (max_n grid refines every stripe's wants)
            nearest = min(probs, key=lambda q: abs(q - p))
            v = qs_all[nearest]
            if not inner or v > inner[-1]:
                inner.append(v)
        if inner:
            grid.x_splits[s] = inner
    return grid


def stripe_margins(grid: Grid, margin_factor: float) -> tuple[list[float], list[float], list[float]]:
    """Driver-side per-stripe margin widths for overlap replication.

    Returns (below, above, radius), each indexed by stripe:
      * ``radius[s]`` — the margin length scale of stripe s:
        margin_factor x its height (median height for the +/-inf edge
        stripes). Equal-count stripe heights track local density, so the
        margin adapts: narrow stripes in dense regions get small
        margins, exactly where kth-radii are small (the reference sizes
        stripes so the expected kth radius ~ 0.56 x height for uniform
        data, AllKnnResultStripes.h:141-151 via the sqrt(|T|/k) count).
      * ``below[s]`` / ``above[s]`` — the import-zone widths actually
        guaranteed: radius clipped to the immediate neighbor's height,
        so every imported point lives in an adjacent stripe and
        replication is bounded by 3 copies.
    """
    S = grid.num_stripes
    h = [grid.y_splits[i + 1] - grid.y_splits[i] for i in range(S)]
    finite = sorted(v for v in h if v != POS_INF and v > 0)
    med = finite[len(finite) // 2] if finite else 0.0
    radius = [margin_factor * (v if (v != POS_INF and v > 0) else med) for v in h]
    below = [0.0] * S
    above = [0.0] * S
    for s in range(S):
        if s >= 1:
            below[s] = min(radius[s], h[s - 1])
        if s + 1 < S:
            above[s] = min(radius[s], h[s + 1])
    return below, above, radius


def cells_df(spark: SparkSession, grid: Grid, margin_factor: float = 0.0) -> DataFrame:
    """Broadcastable cell table, one row per cell. Columns
    m_ylo/m_yhi/m_xlo/m_xhi are the MARGIN-EXPANDED rectangle each
    cell's training is guaranteed to cover under
    assign_cells_margin(margin_factor): the plain bounds widened by
    stripe_margins' widths, so at margin_factor 0 they equal the plain
    bounds. The escape test must use these; frontier targeting keeps the
    original bounds (stage 2's training side is home-assigned, not
    replicated). ``margin_factor`` must be >= 0."""
    below, above, radius = stripe_margins(grid, margin_factor)
    rows = []
    for (s, j, ylo, yhi, xlo, xhi) in grid.cells():
        dx = radius[s]
        rows.append((
            s, j, ylo, yhi, xlo, xhi,
            ylo - below[s] if ylo != NEG_INF else NEG_INF,
            yhi + above[s] if yhi != POS_INF else POS_INF,
            xlo - dx if xlo != NEG_INF else NEG_INF,
            xhi + dx if xhi != POS_INF else POS_INF,
        ))
    return local_df(
        spark,
        rows,
        "stripe_id int, sub_id int, ylo double, yhi double, xlo double, xhi double, "
        "m_ylo double, m_yhi double, m_xlo double, m_xhi double",
    )


def assign_cells(df: DataFrame, grid: Grid) -> DataFrame:
    """Attach (stripe_id, sub_id) to a point DataFrame — JVM-side only:
    Bucketizer binary search for the stripe, then a broadcast join with
    the per-stripe x-boundary arrays + an ``aggregate`` fold for sub_id
    (substripe counts are small, O(#subs) per row)."""
    out = assign_stripes_multi(df, grid.y_splits, ["y"], ["stripe_id"])
    if not grid.x_splits:
        return out.withColumn("sub_id", F.lit(0))
    spark = df.sparkSession
    bounds = local_df(
        spark,
        [(s, v) for s, v in grid.x_splits.items()],
        "stripe_id int, xbounds array<double>",
    )
    out = out.join(F.broadcast(bounds), "stripe_id", "left")
    return out.withColumn(
        "sub_id",
        F.when(F.col("xbounds").isNull(), F.lit(0)).otherwise(
            _sub_fold(F.col("x"), F.col("xbounds"))
        ),
    ).drop("xbounds")


def _sub_fold(x, bounds):
    """#inner x-splits <= x — the sub_id binary-search fold."""
    return F.aggregate(
        bounds, F.lit(0), lambda acc, b: acc + F.when(x >= b, F.lit(1)).otherwise(F.lit(0))
    )


def assign_cells_margin(df: DataFrame, grid: Grid, margin_factor: float) -> DataFrame:
    """Cell assignment with OVERLAP: each point lands in its home cell
    plus every neighbor cell within that cell's margin (stripe_margins).

    This is the Spark-native replacement for the reference's cross-
    stripe sweep (PlaneSweepStripesAlgorithm.h:77-110 walks stripes
    s+/-1, s+/-2 ... per point until the kth bound is covered): with the
    stripe height ~ the expected kth radius, ~98% of queries' kth
    circles cross a stripe boundary, so walking neighbors PER QUERY on
    Spark means a corpus-sized boundary exchange + rank merge (measured
    4-5x the stage-1 cost). Replicating training into the margin up
    front moves that work into the stage-1 cogroup, whose shuffle
    scales; the exact stage-2 exchange remains for the tail whose kth
    radius exceeds the margin. Replication cost is bounded: <= 3
    stripes x the x-sub span, ~2.5x rows at margin_factor=0.9 on
    uniform data.

    Use for the TRAINING side only; query points keep assign_cells.
    """
    if margin_factor <= 0:
        return assign_cells(df, grid)
    spark = df.sparkSession
    S = grid.num_stripes
    if S <= 1 and not grid.x_splits:
        return assign_cells(df, grid)
    below, above, radius = stripe_margins(grid, margin_factor)
    # per HOME stripe: replicate up iff y >= up_t (the importer's
    # below-zone), down iff y < dn_t (the importer's above-zone)
    marg = local_df(
        spark,
        [
            (
                s,
                grid.y_splits[s + 1] - below[s + 1] if s + 1 < S else POS_INF,
                grid.y_splits[s] + above[s - 1] if s >= 1 else NEG_INF,
            )
            for s in range(S)
        ],
        "stripe_id int, up_t double, dn_t double",
    )
    out = assign_stripes_multi(df, grid.y_splits, ["y"], ["stripe_id"])
    out = out.join(F.broadcast(marg), "stripe_id", "left")
    targets = F.array_compact(
        F.array(
            F.col("stripe_id"),
            F.when(F.col("y") >= F.col("up_t"), F.col("stripe_id") + 1),
            F.when(F.col("y") < F.col("dn_t"), F.col("stripe_id") - 1),
        )
    )
    out = (
        out.withColumn("stripe_id", F.explode(targets))
        .drop("up_t", "dn_t")
    )
    if not grid.x_splits:
        return out.withColumn("sub_id", F.lit(0))
    # x-sub span within the TARGET stripe: the margin is a radius, so the
    # x half-width is the same per-stripe length scale
    bounds = local_df(
        spark,
        [(s, v, radius[s]) for s, v in grid.x_splits.items()],
        "stripe_id int, xbounds array<double>, dx double",
    )
    out = out.join(F.broadcast(bounds), "stripe_id", "left")
    lo = F.when(F.col("xbounds").isNull(), F.lit(0)).otherwise(
        _sub_fold(F.col("x") - F.col("dx"), F.col("xbounds"))
    )
    hi = F.when(F.col("xbounds").isNull(), F.lit(0)).otherwise(
        _sub_fold(F.col("x") + F.col("dx"), F.col("xbounds"))
    )
    return (
        out.withColumn("sub_id", F.explode(F.sequence(lo, hi)))
        .drop("xbounds", "dx")
    )
