"""who_owns_mass_processing_spark — PySpark-native near-duplicate detection
and clustering engine.

A from-scratch re-expression of the semantics of the reference pipeline
``mit-spatial-action/who-owns-mass-processing`` (R / dplyr / quanteda /
igraph owner-deduplication: standardize -> block -> pairwise similarity ->
graph clustering -> canonicalize) as an idiomatic Spark DataFrame engine
over image + caption tables:

* caption normalization + k-shingling           (ref: R/standardizers.R)
* MinHash signatures + LSH band blocking        (ref: R/deduplicaters.R:313-359 cosine blocking)
* SimHash / pHash Hamming signatures for images (ref: spatial joins analog)
* exact Jaccard / Hamming / PSNR verification   (ref: min_simil thresholds, config.R:28-29)
* iterative label-propagation connected comps   (ref: R/deduplicaters.R:225-246 igraph)
* canonical exemplar via group mode             (ref: R/deduplicaters.R:290-311)
* parquet stage-table checkpoints with lineage  (ref: R/loaders.R:373-438 read-or-compute)

No code is ported from the reference; reference file:line citations in
docstrings exist only so the parity of *semantics* can be audited.
"""

from who_owns_mass_processing_spark import _zipcache
from who_owns_mass_processing_spark.config import DedupeConfig

_zipcache.install()

__all__ = ["DedupeConfig"]
__version__ = "0.1.0"
