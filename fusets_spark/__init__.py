"""fusets_spark — a PySpark-native time-series rollup + downsample + retention
engine with the analytic capabilities of the FuseTS reference
(/root/reference, fork of Open-EO/FuseTS).

Built from scratch on the Spark DataFrame API: declarative plans optimized by
Catalyst, per-series kernels as vectorized pandas/Arrow UDFs (never per-row
Python), tiered continuous aggregates (raw -> 1m -> 5m -> 1h) with
Gorilla XOR / delta-of-delta compressed point blocks, salted repartitioning
for hot-series skew, and per-partition lineage manifests + checkpointed
watermarks for exact resume.

Data model (see SURVEY.md §1): the canonical input is a table of
pre-tokenized training sequences::

    doc_id: string, tokens: array<int>, n_tok: int, source: string

where token position i maps to timestamp ``t0 + i seconds`` and the sentinel
token ``-1`` marks a missing observation (NaN in the reference's cubes).
"""

__version__ = "0.1.0"

TOKEN_MISSING = -1  # sentinel token == NaN/cloud-masked in the reference
VALUE_SCALE = 10000.0  # reference value convention [0, 10000] (ccdc.py:125)

from .session import patch_worker_zipimport as _patch_worker_zipimport

_patch_worker_zipimport()  # no-op outside reused Spark Python workers
