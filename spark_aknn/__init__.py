"""spark_aknn — a from-scratch PySpark-native spatial-join + tiling engine.

Re-expresses the query semantics of thcristo/ParallelSpatialQuery (an
all-k-nearest-neighbors join over 2D points, solved there with a C++
plane-sweep-over-stripes algorithm) as an idiomatic Spark DataFrame plan:

  points -> range partition into y-stripes (quantile boundaries)
         -> stripe-local kNN via a vectorized numpy kernel in applyInArrow
         -> boundary-exchange shuffle for queries whose k-th distance
            crosses a stripe edge
         -> JVM-side window top-k merge

plus the geospatial layers required by the graft spec (quadtree/S2-style
cell encoding, point-in-polygon, raster-tile<->vector assignment) and
large-scale pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing).

Reference semantics are documented per-module with file:line citations
into /root/reference (read-only); no code is copied from it.
"""

from spark_aknn.aknn import all_knn_join  # noqa: F401
from spark_aknn.session import get_spark  # noqa: F401

__version__ = "0.1.0"
