"""trafilatura_spark: PySpark-native main-content extraction engine.

A from-scratch reimplementation of trafilatura's extraction semantics
(reference: adbar/trafilatura 2.2.0) designed for Spark execution over
multi-turn transcript tables at web scale: vectorized Arrow batches via
mapInArrow, conv_id-salted repartitioning, AQE skew handling, and
checkpoint-resumable per-partition lineage.
"""

from .operators import worker_setup  # noqa: F401  (installs the zip re-read guard)

__version__ = "0.1.0"
