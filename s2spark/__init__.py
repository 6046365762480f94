"""s2spark — a PySpark-native spatial-join + tiling engine.

A from-scratch engine with the query capabilities of the public
``sidewalklabs/s2sphere`` library (S2 geometry: Hilbert-curve CellId
encoding, RegionCoverer cell coverings, Cap/LatLngRect containment,
cell-neighbor expansion), re-expressed Spark-first:

- numpy kernels (``s2spark.kernels``) — vectorized uint64 bit math,
  batched through Arrow into pandas UDFs (no per-row Python);
- Column-expression cell algebra (``s2spark.columns``) — parent /
  range / level / token as pure Catalyst expressions (JVM codegen);
- joins (``s2spark.joins``) — point-in-region as a map-side interval
  stab or a bucket equi-join over covering cells + exact verify,
  kNN via certified neighbor disks;
- coverer (``s2spark.coverer``) — RegionCoverer best-first search.

Reference semantics: sphere.py of s2sphere (see SURVEY.md §2 for the
symbol-level mapping; the reference mount was empty so anchors are
symbol names, not line numbers).
"""

from s2spark import _zipcache  # noqa: F401  (first: patches zipimport)

__version__ = "0.1.0"
